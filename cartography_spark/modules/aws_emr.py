"""EMR module — the reference's exemplar intel module.

Parity: cartography/intel/aws/emr.py:78-98 (sync = get, transform, load,
cleanup) with the node model at cartography/models/aws/emr.py:14-36 and the
integration expectations at tests/integration/cartography/intel/aws/test_emr.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cartography_spark.core.loader import load
from cartography_spark.core.model import NodeSchema, PropertyRef
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_base import account_resource_rel

EMR_CLUSTER_SCHEMA = NodeSchema(
    label="EMRCluster",
    id=PropertyRef("ClusterArn"),
    properties={
        "emr_id": PropertyRef("Id", extra_index=True),
        "name": PropertyRef("Name"),
        "servicerole": PropertyRef("ServiceRole"),
        "termination_protected": PropertyRef("TerminationProtected"),
        "release_label": PropertyRef("ReleaseLabel"),
        "region": PropertyRef("region"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)


def sync_emr(store: GraphStore, clusters: DataFrame, update_tag: int) -> None:
    load(store, "aws:emr", update_tag, (clusters, EMR_CLUSTER_SCHEMA))
