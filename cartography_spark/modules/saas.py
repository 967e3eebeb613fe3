"""SaaS identity + code-scanning providers: Duo, Lastpass, Semgrep.

Parity map:
  * Duo (intel/duo/*, models/duo/user.py) — DuoApiHost{id},
    (api host)-[:RESOURCE]->(DuoUser{id}),
    (user)-[:HAS_DUO_PHONE]->(DuoPhone{id}).
  * Lastpass (models/lastpass/user.py) — LastpassTenant,
    (tenant)-[:RESOURCE]->(LastpassUser),
    (human)-[:IDENTITY_LASTPASS]->(user) joined on the shared email key —
    the same identity-linking pattern the human_link analysis applies to
    Okta.
  * Semgrep (models/semgrep/{deployment,findings}.py) — SemgrepDeployment,
    SemgrepSCAFinding with (deployment)-[:RESOURCE]->(finding),
    (finding)-[:FOUND_IN]->(GitHubRepository) — repo refs that do not
    exist drop via the join — and (finding)-[:LINKED_TO]->(CVE), sharing
    the CVE id space the Crowdstrike feed populates.
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

DUO_API_HOST_SCHEMA = NodeSchema(label="DuoApiHost", id=PropertyRef("api_host"))

DUO_USER_SCHEMA = NodeSchema(
    label="DuoUser",
    id=PropertyRef("user_id"),
    properties={"email": PropertyRef("email")},
    sub_resource_rel=RelSchema(
        target_label="DuoApiHost",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("api_host")}),
    ),
)

DUO_PHONE_SCHEMA = NodeSchema(
    label="DuoPhone",
    id=PropertyRef("phone_id"),
    properties={"platform": PropertyRef("platform")},
    other_rels=(
        # (user)-[:HAS_DUO_PHONE]->(phone), models/duo/user.py:91-96
        RelSchema(
            target_label="DuoUser",
            rel_label="HAS_DUO_PHONE",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("user_id")}),
        ),
    ),
)

LASTPASS_TENANT_SCHEMA = NodeSchema(label="LastpassTenant", id=PropertyRef("tenant_id"))

LASTPASS_USER_SCHEMA = NodeSchema(
    label="LastpassUser",
    id=PropertyRef("user_id"),
    properties={"email": PropertyRef("email")},
    sub_resource_rel=RelSchema(
        target_label="LastpassTenant",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("tenant_id")}),
    ),
    other_rels=(
        # (human)-[:IDENTITY_LASTPASS]->(user), models/lastpass/user.py:45-50
        RelSchema(
            target_label="Human",
            rel_label="IDENTITY_LASTPASS",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("email")}),
        ),
    ),
)

SEMGREP_DEPLOYMENT_SCHEMA = NodeSchema(
    label="SemgrepDeployment", id=PropertyRef("deployment_id")
)

SEMGREP_FINDING_SCHEMA = NodeSchema(
    label="SemgrepSCAFinding",
    id=PropertyRef("finding_id"),
    properties={"severity": PropertyRef("severity"), "cve_id": PropertyRef("cve_id")},
    sub_resource_rel=RelSchema(
        target_label="SemgrepDeployment",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("deployment_id")}),
    ),
    other_rels=(
        RelSchema(
            target_label="GitHubRepository",
            rel_label="FOUND_IN",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("repo_url")}),
        ),
        RelSchema(
            target_label="CVE",
            rel_label="LINKED_TO",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("cve_id")}),
        ),
    ),
)


def sync_saas(
    store: GraphStore,
    duo_users: DataFrame,
    duo_phones: DataFrame,
    lastpass_users: DataFrame,
    semgrep_findings: DataFrame,
    update_tag: int,
) -> None:
    spark = duo_users.sparkSession
    # Semgrep findings may reference CVEs Crowdstrike has not seen — union
    # the id space so LINKED_TO always lands (MERGE-by-id collapses dupes).
    from cartography_spark.modules.devices import CVE_SCHEMA

    load(
        store,
        "saas",
        update_tag,
        (_single(spark, api_host="api-host.duosecurity.com"), DUO_API_HOST_SCHEMA),
        (duo_users, DUO_USER_SCHEMA),
        (duo_phones, DUO_PHONE_SCHEMA),
        (_single(spark, tenant_id="lastpass-tenant"), LASTPASS_TENANT_SCHEMA),
        (lastpass_users, LASTPASS_USER_SCHEMA),
        (_single(spark, deployment_id="sg-deploy"), SEMGREP_DEPLOYMENT_SCHEMA),
        (semgrep_findings, SEMGREP_FINDING_SCHEMA),
        (semgrep_findings.select("cve_id").distinct(), CVE_SCHEMA),
    )
