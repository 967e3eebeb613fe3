"""Device/endpoint-management providers: Crowdstrike, Kandji, Jamf,
Bigfix, SnipeIT.

Parity map:
  * Crowdstrike (intel/crowdstrike/endpoints.py:35, spotlight.py:35-103) —
    CrowdstrikeHost{id: device_id},
    (host)-[:HAS_VULNERABILITY]->(SpotlightVulnerability{id}),
    (vuln)-[:HAS_CVE]->(CVE:CrowdstrikeFinding{id}).
  * Kandji (models/kandji/{tenant,device}.py) — KandjiTenant,
    KandjiDevice with (device)-[:ENROLLED_TO]->(tenant).
  * Jamf (intel/jamf/computers.py:24) — JamfComputerGroup.
  * Bigfix (models/bigfix/*.py) — BigfixRoot,
    (root)-[:RESOURCE]->(BigfixComputer).
  * SnipeIT (models/snipeit/*.py) — SnipeitTenant, SnipeitUser,
    SnipeitAsset with (tenant)-[:HAS_ASSET]->(asset) and
    (asset)-[:HAS_CHECKED_OUT]->(user) — the checkout target is
    existence-gated (inner join), matching the reference's MATCH.

CVE nodes are shared across providers (Semgrep's LINKED_TO points at the
same id space) — the MERGE-by-id store collapses them, which is exactly the
reference's cross-feed CVE dedupe behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.loader import load
from cartography_spark.core.model import (
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.core.store import GraphStore

CROWDSTRIKE_HOST_SCHEMA = NodeSchema(
    label="CrowdstrikeHost",
    id=PropertyRef("device_id"),
    properties={"hostname": PropertyRef("hostname"), "platform": PropertyRef("platform")},
)

SPOTLIGHT_VULN_SCHEMA = NodeSchema(
    label="SpotlightVulnerability",
    id=PropertyRef("vuln_id"),
    properties={"cve_id": PropertyRef("cve_id")},
    other_rels=(
        RelSchema(
            target_label="CrowdstrikeHost",
            rel_label="HAS_VULNERABILITY",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("device_id")}),
        ),
        RelSchema(
            target_label="CVE",
            rel_label="HAS_CVE",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("cve_id")}),
        ),
    ),
)

CVE_SCHEMA = NodeSchema(
    label="CVE",
    id=PropertyRef("cve_id"),
    extra_labels=("CrowdstrikeFinding",),
)

KANDJI_TENANT_SCHEMA = NodeSchema(label="KandjiTenant", id=PropertyRef("tenant_id"))

KANDJI_DEVICE_SCHEMA = NodeSchema(
    label="KandjiDevice",
    id=PropertyRef("device_id"),
    properties={"name": PropertyRef("name")},
    other_rels=(
        RelSchema(
            target_label="KandjiTenant",
            rel_label="ENROLLED_TO",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("tenant_id")}),
        ),
    ),
)

JAMF_GROUP_SCHEMA = NodeSchema(
    label="JamfComputerGroup",
    id=PropertyRef("group_id"),
    properties={"name": PropertyRef("name")},
)

BIGFIX_ROOT_SCHEMA = NodeSchema(label="BigfixRoot", id=PropertyRef("root_id"))

BIGFIX_COMPUTER_SCHEMA = NodeSchema(
    label="BigfixComputer",
    id=PropertyRef("computer_id"),
    properties={"name": PropertyRef("name")},
    sub_resource_rel=RelSchema(
        target_label="BigfixRoot",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("root_id")}),
    ),
)

SNIPEIT_TENANT_SCHEMA = NodeSchema(label="SnipeitTenant", id=PropertyRef("tenant_id"))

SNIPEIT_USER_SCHEMA = NodeSchema(
    label="SnipeitUser",
    id=PropertyRef("user_id"),
    properties={"name": PropertyRef("name")},
)

SNIPEIT_ASSET_SCHEMA = NodeSchema(
    label="SnipeitAsset",
    id=PropertyRef("asset_id"),
    properties={"name": PropertyRef("name")},
    other_rels=(
        RelSchema(
            target_label="SnipeitTenant",
            rel_label="HAS_ASSET",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("tenant_id")}),
        ),
        RelSchema(
            target_label="SnipeitUser",
            rel_label="HAS_CHECKED_OUT",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("checked_out_to")}),
        ),
    ),
)


def _single(spark, **cols):
    """One-row frame for a fixed tenant or root node, built from literals on
    the JVM in one split (a local Python row would plan as a Python RDD
    scan)."""
    return spark.range(1, numPartitions=1).select(
        *[F.lit(v).alias(k) for k, v in cols.items()]
    )


def sync_devices(
    store: GraphStore,
    hosts: DataFrame,
    vulns: DataFrame,
    kandji: DataFrame,
    jamf: DataFrame,
    bigfix: DataFrame,
    snipeit_users: DataFrame,
    snipeit_assets: DataFrame,
    update_tag: int,
) -> None:
    spark = hosts.sparkSession
    load(
        store,
        "devices",
        update_tag,
        (hosts, CROWDSTRIKE_HOST_SCHEMA),
        (vulns, SPOTLIGHT_VULN_SCHEMA),
        (vulns.select("cve_id").distinct(), CVE_SCHEMA),
        (_single(spark, tenant_id="kandji-tenant"), KANDJI_TENANT_SCHEMA),
        (kandji, KANDJI_DEVICE_SCHEMA),
        (jamf, JAMF_GROUP_SCHEMA),
        (_single(spark, root_id="bigfix-root"), BIGFIX_ROOT_SCHEMA),
        (bigfix, BIGFIX_COMPUTER_SCHEMA),
        (_single(spark, tenant_id="snipeit-tenant"), SNIPEIT_TENANT_SCHEMA),
        (snipeit_users, SNIPEIT_USER_SCHEMA),
        (snipeit_assets, SNIPEIT_ASSET_SCHEMA),
    )
