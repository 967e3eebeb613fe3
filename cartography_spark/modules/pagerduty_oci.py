"""PagerDuty + OCI modules — completes the provider sweep against the
reference's intel/ directory.

Parity map:
  * PagerDuty (intel/pagerduty/{teams,users,services,schedules,
    escalation_policies}.py) — PagerDutyTeam/User/Service/Schedule/
    EscalationPolicy; (user)-[:MEMBER_OF]->(team|schedule),
    (team)-[:ASSOCIATED_WITH]->(service),
    (service)-[:ASSOCIATED_WITH]->(escalation policy).
  * OCI (intel/oci/iam.py) — OCITenancy (anchor), OCICompartment with
    (tenancy)-[:OCI_COMPARTMENT]->(compartment), OCIUser/OCIGroup with
    RESOURCE tenancy and (user)-[:MEMBER_OCID_GROUP]->(group).
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
from cartography_spark.modules.devices import _single

PD_TEAM_SCHEMA = NodeSchema(
    label="PagerDutyTeam", id=PropertyRef("team_id"),
    properties={"name": PropertyRef("name")},
)

PD_EP_SCHEMA = NodeSchema(
    label="PagerDutyEscalationPolicy", id=PropertyRef("ep_id"),
    properties={"name": PropertyRef("name")},
)

PD_SCHEDULE_SCHEMA = NodeSchema(
    label="PagerDutySchedule", id=PropertyRef("schedule_id"),
    properties={"name": PropertyRef("name")},
)

PD_USER_SCHEMA = NodeSchema(
    label="PagerDutyUser",
    id=PropertyRef("user_id"),
    properties={"name": PropertyRef("name")},
    other_rels=(
        RelSchema(
            target_label="PagerDutyTeam",
            rel_label="MEMBER_OF",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("team_id")}),
        ),
        # schedules.py:83 (u)-[:MEMBER_OF]->(s); null schedule_id rows drop
        RelSchema(
            target_label="PagerDutySchedule",
            rel_label="MEMBER_OF",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("schedule_id")}),
        ),
    ),
)

PD_SERVICE_SCHEMA = NodeSchema(
    label="PagerDutyService",
    id=PropertyRef("service_id"),
    properties={"name": PropertyRef("name")},
    other_rels=(
        # services.py:115 (t)-[:ASSOCIATED_WITH]->(s)
        RelSchema(
            target_label="PagerDutyTeam",
            rel_label="ASSOCIATED_WITH",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("team_id")}),
        ),
        # escalation_policies.py:174 (s)-[:ASSOCIATED_WITH]->(p)
        RelSchema(
            target_label="PagerDutyEscalationPolicy",
            rel_label="ASSOCIATED_WITH",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("ep_id")}),
        ),
    ),
)

OCI_TENANCY_SCHEMA = NodeSchema(label="OCITenancy", id=PropertyRef("tenancy_ocid"))

OCI_COMPARTMENT_SCHEMA = NodeSchema(
    label="OCICompartment",
    id=PropertyRef("ocid"),
    properties={"name": PropertyRef("name")},
    sub_resource_rel=RelSchema(
        target_label="OCITenancy",
        rel_label="OCI_COMPARTMENT",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("tenancy_ocid")}),
    ),
)

OCI_GROUP_SCHEMA = NodeSchema(
    label="OCIGroup",
    id=PropertyRef("ocid"),
    properties={"name": PropertyRef("name")},
    sub_resource_rel=RelSchema(
        target_label="OCITenancy",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("tenancy_ocid")}),
    ),
)

OCI_USER_SCHEMA = NodeSchema(
    label="OCIUser",
    id=PropertyRef("ocid"),
    properties={"name": PropertyRef("name")},
    sub_resource_rel=RelSchema(
        target_label="OCITenancy",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("tenancy_ocid")}),
    ),
    other_rels=(
        # iam.py:248 (user)-[:MEMBER_OCID_GROUP]->(group)
        RelSchema(
            target_label="OCIGroup",
            rel_label="MEMBER_OCID_GROUP",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("group_ocid")}),
        ),
    ),
)


def sync_pagerduty(
    store: GraphStore,
    teams: DataFrame,
    eps: DataFrame,
    schedules: DataFrame,
    users: DataFrame,
    services: DataFrame,
    update_tag: int,
) -> None:
    load(
        store,
        "pagerduty",
        update_tag,
        (teams, PD_TEAM_SCHEMA),
        (eps, PD_EP_SCHEMA),
        (schedules, PD_SCHEDULE_SCHEMA),
        (users, PD_USER_SCHEMA),
        (services, PD_SERVICE_SCHEMA),
    )


def sync_oci(
    store: GraphStore,
    compartments: DataFrame,
    groups: DataFrame,
    users: DataFrame,
    update_tag: int,
) -> None:
    load(
        store,
        "oci",
        update_tag,
        (_single(compartments.sparkSession, tenancy_ocid="oci-tenancy-0"), OCI_TENANCY_SCHEMA),
        (compartments, OCI_COMPARTMENT_SCHEMA),
        (groups, OCI_GROUP_SCHEMA),
        (users, OCI_USER_SCHEMA),
    )
