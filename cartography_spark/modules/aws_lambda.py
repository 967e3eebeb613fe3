"""Lambda + ECR module: functions and container images.

Parity map (reference cartography/intel/aws/):
  * lambda functions — lambda_function.py:21-57 (AWSLambda{id: arn},
    (AWSAccount)-[:RESOURCE]->(AWSLambda))
  * ECR images       — ecr.py:55-103 (ECRImage{id: digest})
  * the HAS link between them is NOT loaded here: it is derived at sync end
    by the aws_lambda_ecr analysis job (data/jobs/analysis/aws_lambda_ecr.json
    joins ECRImage.digest = 'sha256:' + AWSLambda.codesha256) — see
    analysis/jobs.py:link_lambda_ecr_images.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cartography_spark.core.loader import load
from cartography_spark.core.model import NodeSchema, PropertyRef
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_base import account_resource_rel

LAMBDA_SCHEMA = NodeSchema(
    label="AWSLambda",
    id=PropertyRef("arn"),
    properties={
        "name": PropertyRef("name"),
        "codesha256": PropertyRef("codesha256", extra_index=True),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)

ECR_IMAGE_SCHEMA = NodeSchema(
    label="ECRImage",
    id=PropertyRef("digest"),
    properties={"uri": PropertyRef("uri"), "account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
)


def sync_lambda_ecr(
    store: GraphStore, lambdas: DataFrame, images: DataFrame, update_tag: int
) -> None:
    load(store, "aws:lambda", update_tag, (lambdas, LAMBDA_SCHEMA))
    load(store, "aws:ecr", update_tag, (images, ECR_IMAGE_SCHEMA))
