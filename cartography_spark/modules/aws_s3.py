"""S3 module: buckets + ACL grants.

Parity map (reference cartography/intel/aws/s3.py):
  * buckets load                 — s3.py:579-615
  * ACL parse + S3Acl nodes +
    (S3Acl)-[:APPLIES_TO]->(S3Bucket) — s3.py:267-345 (parse_acl/load_s3_acls)

The anonymous-access analysis (data/jobs/analysis/aws_s3acl_analysis.json)
consumes these in analysis/jobs.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cartography_spark.core.loader import load
from cartography_spark.core.model import (
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_base import account_resource_rel

S3_BUCKET_SCHEMA = NodeSchema(
    label="S3Bucket",
    id=PropertyRef("arn"),
    properties={
        "name": PropertyRef("name"),
        "account_id": PropertyRef("account_id"),
        # reference intel/aws/s3.py encryption/versioning fields
        "default_encryption": PropertyRef("default_encryption"),
        "encryption_algorithm": PropertyRef("encryption_algorithm"),
        "versioning_status": PropertyRef("versioning_status"),
    },
    sub_resource_rel=account_resource_rel(),
)

S3_ACL_SCHEMA = NodeSchema(
    label="S3Acl",
    id=PropertyRef("acl_id"),
    properties={"uri": PropertyRef("uri"), "permission": PropertyRef("permission")},
    other_rels=(
        RelSchema(
            target_label="S3Bucket",
            rel_label="APPLIES_TO",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("bucket_arn")}),
        ),
    ),
)


def sync_s3(
    store: GraphStore, buckets: DataFrame, acls: DataFrame, update_tag: int
) -> None:
    load(store, "aws:s3", update_tag, (buckets, S3_BUCKET_SCHEMA))
    load(store, "aws:s3:acls", update_tag, (acls, S3_ACL_SCHEMA))
