"""SSM + Inspector modules: patch posture and vulnerability findings
attached to the EC2 instance graph.

Parity map:
  * SSM (models/aws/ssm/{instance_information,instance_patch}.py) —
    SSMInstanceInformation{id} with
    (EC2Instance)-[:HAS_INFORMATION]->(info),
    SSMInstancePatch{id} with (EC2Instance)-[:HAS_PATCH]->(patch),
    both RESOURCE-anchored to the account.
  * Inspector (models/aws/inspector/findings.py) —
    AWSInspectorFinding{id} with severity/type/cve,
    (finding)-[:AFFECTS]->(EC2Instance) — instance refs outside the live
    instance population drop (the reference only links matched resources).

Scale: patches/findings are fact tables keyed by unique ids; the
instance-side joins key on instance id (hash join, no skew).
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


def _instance_rel(rel_label: str) -> RelSchema:
    return RelSchema(
        target_label="EC2Instance",
        rel_label=rel_label,
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("instance_id")}),
    )


SSM_INFO_SCHEMA = NodeSchema(
    label="SSMInstanceInformation",
    id=PropertyRef("info_id"),
    properties={
        "platform_type": PropertyRef("platform_type"),
        "agent_version": PropertyRef("agent_version"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
    other_rels=(_instance_rel("HAS_INFORMATION"),),
)

SSM_PATCH_SCHEMA = NodeSchema(
    label="SSMInstancePatch",
    id=PropertyRef("patch_id"),
    properties={
        "title": PropertyRef("title"),
        "state": PropertyRef("state"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
    other_rels=(_instance_rel("HAS_PATCH"),),
)

INSPECTOR_FINDING_SCHEMA = NodeSchema(
    label="AWSInspectorFinding",
    id=PropertyRef("finding_id"),
    properties={
        "severity": PropertyRef("severity"),
        "type": PropertyRef("ftype"),
        "cve_id": PropertyRef("cve_id"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
    other_rels=(
        RelSchema(
            target_label="EC2Instance",
            rel_label="AFFECTS",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("instance_ref")}),
        ),
    ),
)


def sync_ssm(
    store: GraphStore, info: DataFrame, patches: DataFrame, update_tag: int
) -> None:
    load(store, "aws:ssm", update_tag, (info, SSM_INFO_SCHEMA), (patches, SSM_PATCH_SCHEMA))


def sync_inspector(store: GraphStore, findings: DataFrame, update_tag: int) -> None:
    load(store, "aws:inspector", update_tag, (findings, INSPECTOR_FINDING_SCHEMA))
