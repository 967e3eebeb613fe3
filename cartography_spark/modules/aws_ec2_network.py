"""EC2 network family: VPCs, subnets, network interfaces.

Parity map (reference cartography/intel/aws/ec2/):
  * AWSVpc                 — vpc.py:100-130 (MERGE AWSVpc{id}, account RESOURCE)
  * EC2Subnet              — subnets.py:30-60 (EC2Subnet{subnetid}
                             -[:MEMBER_OF_AWS_VPC]-> AWSVpc)
  * NetworkInterface       — models/aws/ec2/networkinterface_instance.py:
                             (EC2Instance)-[:NETWORK_INTERFACE]->(eni),
                             (eni)-[:PART_OF_SUBNET]->(EC2Subnet),
                             (eni)-[:MEMBER_OF_EC2_SECURITY_GROUP]->(sg)

The ENI is what makes the exposure walk's ``*..2`` hop
(MEMBER_OF_EC2_SECURITY_GROUP|NETWORK_INTERFACE, aws_ec2_asset_exposure.json
statement 2) expressible: an instance is reachable from an open security
group either directly or through an attached interface's group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cartography_spark.core.loader import compile_edges, compile_nodes, live_view, load
from cartography_spark.core.model import (
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_base import account_resource_rel

VPC_SCHEMA = NodeSchema(
    label="AWSVpc",
    id=PropertyRef("vpc_id"),
    properties={
        "primary_cidr_block": PropertyRef("primary_cidr"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)

SUBNET_SCHEMA = NodeSchema(
    label="EC2Subnet",
    id=PropertyRef("subnet_id"),
    properties={
        "subnetid": PropertyRef("subnet_id"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
    other_rels=(
        RelSchema(
            target_label="AWSVpc",
            rel_label="MEMBER_OF_AWS_VPC",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("vpc_id")}),
        ),
    ),
)

ENI_SCHEMA = NodeSchema(
    label="NetworkInterface",
    id=PropertyRef("eni_id"),
    properties={
        "private_ip_address": PropertyRef("private_ip"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
    other_rels=(
        # (EC2Instance)-[:NETWORK_INTERFACE]->(eni) — INWARD from the ENI
        RelSchema(
            target_label="EC2Instance",
            rel_label="NETWORK_INTERFACE",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("instance_id")}),
        ),
        RelSchema(
            target_label="EC2SecurityGroup",
            rel_label="MEMBER_OF_EC2_SECURITY_GROUP",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("sg_id")}),
        ),
        RelSchema(
            target_label="EC2Subnet",
            rel_label="PART_OF_SUBNET",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("subnet_id")}),
        ),
    ),
)


def sync_ec2_network(
    store: GraphStore,
    vpcs: DataFrame,
    subnets: DataFrame,
    enis: DataFrame,
    update_tag: int,
) -> None:
    """VPCs first, then subnets (attach to VPCs), then ENIs (attach to
    instances + SGs + subnets) — the reference's RESOURCE_FUNCTIONS order in
    intel/aws/resources.py puts vpc before subnets before network
    interfaces for the same dependency reason."""
    load(store, "aws:ec2:vpcs", update_tag, (vpcs, VPC_SCHEMA))
    load(store, "aws:ec2:subnets", update_tag, (subnets, SUBNET_SCHEMA))
    load(store, "aws:ec2:enis", update_tag, (enis, ENI_SCHEMA))


# --- AutoScalingGroups + launch configurations ------------------------------

ASG_SCHEMA = NodeSchema(
    # reference auto_scaling_groups.py:85-114: AutoScalingGroup{arn} with
    # the account RESOURCE edge and (subnet)<-[:VPC_IDENTIFIER]-(group)
    label="AutoScalingGroup",
    id=PropertyRef("asg_arn"),
    properties={"name": PropertyRef("name"), "account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
    other_rels=(
        RelSchema(
            target_label="EC2Subnet",
            rel_label="VPC_IDENTIFIER",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("subnet_id")}),
        ),
        RelSchema(
            target_label="LaunchConfiguration",
            rel_label="HAS_LAUNCH_CONFIG",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("launch_config_arn")}),
        ),
        # (instance)-[:MEMBER_AUTO_SCALE_GROUP]->(asg), loaded from the
        # exploded member batch (auto_scaling_groups.py:121-126)
        RelSchema(
            target_label="EC2Instance",
            rel_label="MEMBER_AUTO_SCALE_GROUP",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("member_instance_id")}),
        ),
    ),
)

LAUNCH_CONFIG_SCHEMA = NodeSchema(
    # reference auto_scaling_groups.py:44-63
    label="LaunchConfiguration",
    id=PropertyRef("launch_config_arn"),
    properties={"account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
)


def _explode_members(asgs: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return asgs.select(
        "asg_arn",
        F.explode(F.array("member_instance_1", "member_instance_2")).alias(
            "member_instance_id"
        ),
    ).distinct()


def sync_asgs(store: GraphStore, asgs: DataFrame, update_tag: int) -> None:
    """Launch configs + ASG nodes with subnet/launch-config edges, then the
    exploded MEMBER_AUTO_SCALE_GROUP instance edges."""
    if not store.stage_done("aws:ec2:asgs", update_tag):
        nodes = compile_nodes(asgs, LAUNCH_CONFIG_SCHEMA, update_tag).unionByName(
            compile_nodes(asgs, ASG_SCHEMA, update_tag)
        )
        edges = compile_edges(
            asgs,
            ASG_SCHEMA,
            live_view(store, nodes),
            update_tag,
            selected_relationships=["RESOURCE", "VPC_IDENTIFIER", "HAS_LAUNCH_CONFIG"],
        )
        store.upsert(nodes, edges, "aws:ec2:asgs", update_tag)
    if not store.stage_done("aws:ec2:asg_members", update_tag):
        edges = compile_edges(
            _explode_members(asgs),
            ASG_SCHEMA,
            store.nodes,
            update_tag,
            selected_relationships=["MEMBER_AUTO_SCALE_GROUP"],
        )
        store.upsert(None, edges, "aws:ec2:asg_members", update_tag)
