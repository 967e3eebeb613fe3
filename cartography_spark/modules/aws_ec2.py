"""EC2 module: instances, security groups, inbound rules, IP ranges.

Parity map (reference cartography/intel/aws/ec2/):
  * instances load + SG membership      — instances.py:15-94
    (MEMBER_OF_EC2_SECURITY_GROUP, models/aws/ec2/instances.py)
  * security groups                     — security_groups.py:16-79
  * IpPermissionInbound rules + ranges  — security_groups.py:38-66
    ((IpRange)-[:MEMBER_OF_IP_RULE]->(rule)-[:MEMBER_OF_EC2_SECURITY_GROUP]->(sg))
  * iaminstanceprofile property         — instances.py transform; consumed by
    data/jobs/analysis/aws_ec2_iaminstanceprofile.json

The exposure analysis (analysis/exposure.py) walks exactly these node
families in the store.
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

EC2_SG_SCHEMA = NodeSchema(
    label="EC2SecurityGroup",
    id=PropertyRef("sg_id"),
    properties={"name": PropertyRef("name"), "account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
)

EC2_INSTANCE_SCHEMA = NodeSchema(
    label="EC2Instance",
    id=PropertyRef("instance_id"),
    properties={
        "sg_id": PropertyRef("sg_id"),
        "listener_port": PropertyRef("listener_port"),
        "account_id": PropertyRef("account_id"),
        "iaminstanceprofile": PropertyRef("iaminstanceprofile"),
        # reference models/aws/ec2/instances.py high-traffic properties
        "state": PropertyRef("state"),
        "launchtime": PropertyRef("launchtime"),
        "instancetype": PropertyRef("instancetype"),
        "publicipaddress": PropertyRef("publicipaddress"),
    },
    sub_resource_rel=account_resource_rel(),
    other_rels=(
        RelSchema(
            target_label="EC2SecurityGroup",
            rel_label="MEMBER_OF_EC2_SECURITY_GROUP",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("sg_id")}),
        ),
    ),
)

IP_RULE_SCHEMA = NodeSchema(
    label="IpPermissionInbound",
    id=PropertyRef("rule_id"),
    properties={
        "protocol": PropertyRef("protocol"),
        "fromport": PropertyRef("fromport"),
        "toport": PropertyRef("toport"),
    },
    other_rels=(
        RelSchema(
            target_label="EC2SecurityGroup",
            rel_label="MEMBER_OF_EC2_SECURITY_GROUP",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("sg_id")}),
        ),
    ),
)

IP_RANGE_SCHEMA = NodeSchema(
    # One IpRange node per cidr (reference keys IpRange on the range id and
    # shares it across rules, security_groups.py:38-49).
    label="IpRange",
    id=PropertyRef("cidr"),
    other_rels=(
        RelSchema(
            target_label="IpPermissionInbound",
            rel_label="MEMBER_OF_IP_RULE",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("rule_id")}),
        ),
    ),
)


EC2_KEYPAIR_SCHEMA = NodeSchema(
    # Reference intel/aws/ec2/key_pairs.py:11-43: EC2KeyPair{id: arn} with
    # keyfingerprint; user_uploaded / duplicate_keyfingerprint /
    # MATCHING_FINGERPRINT come from aws_ec2_keypair_analysis.json at sync
    # end, never from load.
    label="EC2KeyPair",
    id=PropertyRef("keypair_arn"),
    properties={
        "name": PropertyRef("name"),
        "keyfingerprint": PropertyRef("keyfingerprint", extra_index=True),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)


def sync_keypairs(store: GraphStore, keypairs: DataFrame, update_tag: int) -> None:
    load(store, "aws:ec2:keypairs", update_tag, (keypairs, EC2_KEYPAIR_SCHEMA))


def sync_ec2(
    store: GraphStore,
    instances: DataFrame,
    security_groups: DataFrame,
    rules: DataFrame,
    update_tag: int,
) -> None:
    """SGs first (instances and rules attach to them), then instances, then
    rule nodes with their IpRange nodes and links in one stage — the
    reference's intra-module dependency order (intel/aws/ec2/__init__.py)."""
    load(store, "aws:ec2:sgs", update_tag, (security_groups, EC2_SG_SCHEMA))
    load(store, "aws:ec2:instances", update_tag, (instances, EC2_INSTANCE_SCHEMA))
    load(
        store,
        "aws:ec2:rules",
        update_tag,
        (rules, IP_RULE_SCHEMA),
        (rules, IP_RANGE_SCHEMA),
    )
