"""Classic ELB + ELBv2 load balancers, listeners, and EXPOSE targets.

Parity map (reference cartography/intel/aws/ec2/):
  * LoadBalancer{id: dnsname}   — load_balancers.py:80-103 (scheme, dnsname,
                                  account RESOURCE)
  * SOURCE_SECURITY_GROUP       — load_balancers.py:100-107: the classic ELB's
                                  source group is matched by the security
                                  group's **name**, not groupid — exercised
                                  here through the props-attr matcher (J3)
  * MEMBER_OF_EC2_SECURITY_GROUP— load_balancers.py:109-115 /
                                  load_balancer_v2s.py:104-117 (by groupid;
                                  NLBs carry no security groups — the
                                  reference gates on 'SecurityGroups' in lb)
  * ELBListener / ELBV2Listener — load_balancers.py:27-53 (Endpoint:ELBListener
                                  {id: elb.id + port + protocol}) /
                                  load_balancer_v2s.py:190-209
                                  (Endpoint:ELBV2Listener, ELBV2_LISTENER)
  * EXPOSE                      — load_balancers.py:117-124 /
                                  load_balancer_v2s.py:157-170 (target groups)
  * SUBNET                      — load_balancers.py:57-75 /
                                  load_balancer_v2s.py:128-150

These feed the 'elb'/'elbv2' legs of the asset-exposure analysis
(data/jobs/analysis/aws_ec2_asset_exposure.json statements 3-6), implemented
in analysis/exposure.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.loader import compile_edges, compile_nodes, load
from cartography_spark.core.model import (
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_base import account_resource_rel

ELB_SCHEMA = NodeSchema(
    label="LoadBalancer",
    id=PropertyRef("elb_id"),
    properties={
        "name": PropertyRef("name"),
        "dnsname": PropertyRef("elb_id"),
        "scheme": PropertyRef("scheme"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
    other_rels=(
        # classic ELB matches its source group by NAME (reference
        # load_balancers.py:100-107 MATCHes EC2SecurityGroup{name: ...})
        RelSchema(
            target_label="EC2SecurityGroup",
            rel_label="SOURCE_SECURITY_GROUP",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"name": PropertyRef("sg_name")}),
        ),
        RelSchema(
            target_label="EC2Subnet",
            rel_label="SUBNET",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("subnet_id")}),
        ),
        RelSchema(
            target_label="EC2Instance",
            rel_label="EXPOSE",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("target_instance_id")}),
        ),
    ),
)

ELBV2_SCHEMA = NodeSchema(
    label="LoadBalancerV2",
    id=PropertyRef("elbv2_id"),
    properties={
        "name": PropertyRef("name"),
        "dnsname": PropertyRef("elbv2_id"),
        "scheme": PropertyRef("scheme"),
        "type": PropertyRef("lb_type"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
    other_rels=(
        RelSchema(
            target_label="EC2SecurityGroup",
            rel_label="MEMBER_OF_EC2_SECURITY_GROUP",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("sg_id")}),
        ),
        RelSchema(
            target_label="EC2Subnet",
            rel_label="SUBNET",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("subnet_id")}),
        ),
        RelSchema(
            target_label="EC2Instance",
            rel_label="EXPOSE",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("target_instance_id")}),
        ),
    ),
)

ELB_LISTENER_SCHEMA = NodeSchema(
    label="ELBListener",
    id=PropertyRef("listener_id"),
    extra_labels=("Endpoint",),
    properties={
        "port": PropertyRef("listener_port"),
        "protocol": PropertyRef("listener_protocol"),
    },
    other_rels=(
        RelSchema(
            target_label="LoadBalancer",
            rel_label="ELB_LISTENER",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("elb_id")}),
        ),
    ),
)

ELBV2_LISTENER_SCHEMA = NodeSchema(
    label="ELBV2Listener",
    id=PropertyRef("listener_id"),
    extra_labels=("Endpoint",),
    properties={
        "port": PropertyRef("listener_port"),
        "protocol": PropertyRef("listener_protocol"),
    },
    other_rels=(
        RelSchema(
            target_label="LoadBalancerV2",
            rel_label="ELBV2_LISTENER",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("elbv2_id")}),
        ),
    ),
)


def _explode_targets(lbs: DataFrame, id_col: str) -> DataFrame:
    """(lb, target_instance_1, target_instance_2) -> one row per target —
    the Spark analog of the reference's per-target UNWIND (classic:
    load_balancers.py:117-124; v2 target groups:
    load_balancer_v2s.py:157-170)."""
    return lbs.select(
        id_col,
        F.explode(F.array("target_instance_1", "target_instance_2")).alias(
            "target_instance_id"
        ),
    ).distinct()


def _listener_rows(lbs: DataFrame, id_col: str) -> DataFrame:
    """Listener id = lb id + port + protocol (reference
    load_balancers.py:36-38 concatenates exactly these)."""
    return lbs.select(
        id_col,
        F.concat(
            F.col(id_col),
            F.col("listener_port").cast("string"),
            F.col("listener_protocol"),
        ).alias("listener_id"),
        "listener_port",
        "listener_protocol",
    )


def sync_elb(
    store: GraphStore,
    elbs: DataFrame,
    elbv2s: DataFrame,
    update_tag: int,
) -> None:
    """Load balancer nodes + SG/subnet edges, then listeners, then EXPOSE
    edges (targets exploded).  Runs after sync_ec2/sync_ec2_network so the
    SG / subnet / instance targets exist."""
    if not store.stage_done("aws:elb:lbs", update_tag):
        nodes = compile_nodes(elbs, ELB_SCHEMA, update_tag).unionByName(
            compile_nodes(elbv2s, ELBV2_SCHEMA, update_tag)
        )
        edges = compile_edges(
            elbs,
            ELB_SCHEMA,
            store.nodes,
            update_tag,
            selected_relationships=["RESOURCE", "SOURCE_SECURITY_GROUP", "SUBNET"],
        ).unionByName(
            compile_edges(
                # NLBs carry no SG — drop null sg rows before the equi-join
                # (reference gates the same way on 'SecurityGroups' in lb)
                elbv2s,
                ELBV2_SCHEMA,
                store.nodes,
                update_tag,
                selected_relationships=["RESOURCE", "MEMBER_OF_EC2_SECURITY_GROUP", "SUBNET"],
            )
        )
        store.upsert(nodes, edges, "aws:elb:lbs", update_tag)
    load(
        store,
        "aws:elb:listeners",
        update_tag,
        (_listener_rows(elbs, "elb_id"), ELB_LISTENER_SCHEMA),
        (_listener_rows(elbv2s, "elbv2_id"), ELBV2_LISTENER_SCHEMA),
    )
    if not store.stage_done("aws:elb:targets", update_tag):
        e1 = compile_edges(
            _explode_targets(elbs, "elb_id"),
            ELB_SCHEMA,
            store.nodes,
            update_tag,
            selected_relationships=["EXPOSE"],
        )
        e2 = compile_edges(
            _explode_targets(elbv2s, "elbv2_id"),
            ELBV2_SCHEMA,
            store.nodes,
            update_tag,
            selected_relationships=["EXPOSE"],
        )
        store.upsert(None, e1.unionByName(e2), "aws:elb:targets", update_tag)
