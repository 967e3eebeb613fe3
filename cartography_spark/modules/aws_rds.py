"""RDS module: database instances.

Parity map (reference cartography/intel/aws/rds.py:16-108
load_rds_instances): RDSInstance{id: DBInstanceArn} with
db_instance_identifier, endpoint_address, storage_encrypted,
publicly_accessible; (AWSAccount)-[:RESOURCE]->(RDSInstance).

The publicly-accessible-and-unencrypted slice surfaced by
``kg_rds_exposed`` mirrors the security-group-style exposure analyses the
reference runs over these properties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cartography_spark.core.loader import load
from cartography_spark.core.model import NodeSchema, PropertyRef
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_base import account_resource_rel

RDS_INSTANCE_SCHEMA = NodeSchema(
    label="RDSInstance",
    id=PropertyRef("arn"),
    properties={
        "db_instance_identifier": PropertyRef("db_instance_identifier"),
        "endpoint_address": PropertyRef("endpoint_address"),
        "storage_encrypted": PropertyRef("storage_encrypted"),
        "publicly_accessible": PropertyRef("publicly_accessible"),
        # round-5 property tranche (reference intel/aws/rds.py:140-171)
        "engine": PropertyRef("engine"),
        "engine_version": PropertyRef("engine_version"),
        "endpoint_port": PropertyRef("endpoint_port"),
        "multi_az": PropertyRef("multi_az"),
        "deletion_protection": PropertyRef("deletion_protection"),
        "iam_database_authentication_enabled": PropertyRef(
            "iam_database_authentication_enabled"
        ),
        "instance_create_time": PropertyRef("instance_create_time"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)


def sync_rds(store: GraphStore, instances: DataFrame, update_tag: int) -> None:
    load(store, "aws:rds", update_tag, (instances, RDS_INSTANCE_SCHEMA))
