"""EC2 storage + addressing family: EBS volumes, snapshots, elastic IPs.

Parity map (reference cartography/intel/aws/ec2/):
  * EBSVolume        — models/aws/ec2/volumes.py:42-100 (account RESOURCE,
                       (volume)-[:ATTACHED_TO]->(EC2Instance))
  * EBSSnapshot      — snapshots.py:61-113 (EBSSnapshot{id},
                       (snapshot)-[:CREATED_FROM]->(EBSVolume))
  * ElasticIPAddress — elastic_ip_addresses.py:43-68 (id = PublicIp,
                       (instance)-[:ELASTIC_IP_ADDRESS]->(eip),
                       (eni)-[:ELASTIC_IP_ADDRESS]->(eip))
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

VOLUME_SCHEMA = NodeSchema(
    label="EBSVolume",
    id=PropertyRef("volume_id"),
    properties={
        "size": PropertyRef("size_gb"),
        "encrypted": PropertyRef("encrypted"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
    other_rels=(
        RelSchema(
            target_label="EC2Instance",
            rel_label="ATTACHED_TO",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("instance_id")}),
        ),
    ),
)

SNAPSHOT_SCHEMA = NodeSchema(
    label="EBSSnapshot",
    id=PropertyRef("snapshot_id"),
    properties={"account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
    other_rels=(
        RelSchema(
            target_label="EBSVolume",
            rel_label="CREATED_FROM",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("volume_id")}),
        ),
    ),
)

EIP_SCHEMA = NodeSchema(
    label="ElasticIPAddress",
    id=PropertyRef("public_ip"),
    properties={"account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
    other_rels=(
        RelSchema(
            target_label="EC2Instance",
            rel_label="ELASTIC_IP_ADDRESS",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("instance_id")}),
        ),
        # NULL eni_id rows (even suppliers have no ENI) drop at the
        # inner equi-join, mirroring the reference's conditional MERGE
        RelSchema(
            target_label="NetworkInterface",
            rel_label="ELASTIC_IP_ADDRESS",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("eni_id")}),
        ),
    ),
)


def sync_ec2_storage(
    store: GraphStore,
    volumes: DataFrame,
    snapshots: DataFrame,
    eips: DataFrame,
    update_tag: int,
) -> None:
    """Volumes first (snapshots attach to them), then snapshots, then EIPs
    (attach to instances + ENIs)."""
    load(store, "aws:ec2:volumes", update_tag, (volumes, VOLUME_SCHEMA))
    load(store, "aws:ec2:snapshots", update_tag, (snapshots, SNAPSHOT_SCHEMA))
    load(store, "aws:ec2:eips", update_tag, (eips, EIP_SCHEMA))
