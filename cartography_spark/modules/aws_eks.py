"""EKS module: clusters.

Parity map (reference cartography/intel/aws/eks.py:15-60): EKSCluster{id:
arn} with endpoint_public_access, (AWSAccount)-[:RESOURCE]->(EKSCluster).
The exposed_internet mark comes from the aws_eks_asset_exposure analysis
job (data/jobs/analysis/aws_eks_asset_exposure.json), not from load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cartography_spark.core.loader import load
from cartography_spark.core.model import NodeSchema, PropertyRef
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_base import account_resource_rel

EKS_CLUSTER_SCHEMA = NodeSchema(
    label="EKSCluster",
    id=PropertyRef("arn"),
    properties={
        "name": PropertyRef("name"),
        "endpoint_public_access": PropertyRef("endpoint_public_access"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)


def sync_eks(store: GraphStore, clusters: DataFrame, update_tag: int) -> None:
    load(store, "aws:eks", update_tag, (clusters, EKS_CLUSTER_SCHEMA))
