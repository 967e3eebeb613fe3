"""IAM wildcard policy evaluation as one native grant join.

Parity: cartography/intel/aws/permission_relationships.py — the reference
nested-loops principals x resources in driver Python (:159-184), evaluating
compiled wildcard regexes per pair (:21-130, compile at :199-225).  Here the
same truth table is one join of native expressions (:func:`_grants`):
statements explode to (principal, deny, resource pattern) rows, each
distinct pattern is matched once against the broadcast resource set, and
the matches group back per (principal, resource).

IAM matching semantics reproduced: case-insensitive full-string match where
``*`` matches any run and ``?`` any one character
(permission_relationships.py:199-225); Deny wins over Allow (:117-130);
evaluation requires BOTH an action match and a resource match within the
same statement.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.loader import _union, edge_rows
from cartography_spark.core.store import GraphStore
from cartography_spark.functions.arn import arn_service
from cartography_spark.modules.aws_iam import arn_account


def _like(pattern) -> Column:
    """An IAM wildcard as a LIKE pattern: LIKE's escape ``\\`` and its own
    wildcards ``%``/``_`` are escaped first, then ``*`` -> ``%`` and
    ``?`` -> ``_``."""
    return F.translate(F.regexp_replace(pattern, r"([\\%_])", r"\\$1"), "*?", "%_")


def _grants(
    policies: DataFrame, statements: DataFrame, resources: DataFrame, permission: str
) -> DataFrame:
    """(principal_arn, resource_arn) pairs over ``resources.arn`` on which
    ``permission`` is granted.

    1. Statements with an action matching ``permission`` explode to
       (principal, deny, resource pattern) rows.
    2. Each *distinct* pattern of those statements is matched once against
       the broadcast resource set: a nested-loop join whose sides are the
       (few) distinct patterns and the dimension-sized resources, never the
       statement rows.
    3. The matches equi-join back to the statement rows on the pattern.
    4. A pair is granted when some statement allows it and none denies it.
       Only ``effect = 'Deny'`` denies; NULL or any other effect allows, as
       in the reference.  The grouping also makes each pair distinct, so
       duplicate resources cost only repeated matching.

    Matching is ILIKE, which lowercases both sides.  It equals the
    reference's ``re.IGNORECASE`` full match except on newlines (LIKE's
    ``%``/``_`` match them; a regex ``.`` does not, and ``$`` also matches
    before a final newline) and on non-ASCII case folding.
    """
    relevant = statements.where(
        F.exists("action", lambda a: F.ilike(F.lit(permission), _like(a)))
    )
    rows = policies.join(relevant, "policy_id").select(
        "principal_arn",
        F.col("effect").eqNullSafe("Deny").alias("deny"),
        F.explode("resource").alias("pattern"),
    )
    matched = (
        relevant.select(F.explode("resource").alias("pattern"))
        .distinct()
        .withColumn("like", _like(F.col("pattern")))
        .join(F.broadcast(resources.select("arn")), F.ilike("arn", "like"))
    )
    return (
        rows.join(matched, "pattern")
        .groupBy("principal_arn", F.col("arn").alias("resource_arn"))
        .agg(F.max("deny").alias("deny"))
        .where(~F.col("deny"))
        .drop("deny")
    )


def evaluate_permissions(
    policies: DataFrame, statements: DataFrame, resources: DataFrame, permission: str
) -> DataFrame:
    """(principal_arn, resource_arn) pairs where `permission` is granted.

    ``resources`` needs one column ``arn``.  Resources of other services
    drop first (SURVEY hard-part (e)): an ``s3:*`` permission can only ever
    match s3 ARNs, so the grant join broadcasts the permission's service
    slice, not the whole resource set.
    """
    service = permission.split(":")[0]
    resources = resources.where(arn_service(F.col("arn")) == service)
    return _grants(policies, statements, resources, permission)


def load_permission_mappings(path: str | None = None) -> list[dict]:
    """User-editable permission->relationship mapping list.

    Parity: reference permission_relationships.py:284-305
    (parse_permission_relationships_file) loads
    permission_relationships.yaml rows of
    {permissions, target_label, relationship_name}; same contract here in
    JSON.  Validation mirrors the reference's required-field check
    (permission_relationships.py:257-281).  The packaged default resolves
    via importlib.resources so it works under ``spark-submit --py-files``
    (zipimport) as well as a filesystem checkout.
    """
    if path is not None:
        with open(path) as f:
            mappings = json.load(f)
    else:
        from importlib import resources

        mappings = json.loads(
            resources.files("cartography_spark")
            .joinpath("data/permission_relationships.json")
            .read_text()
        )
    for m in mappings:
        if not all(k in m for k in ("permissions", "target_label", "relationship_name")):
            raise ValueError(f"invalid permission mapping: {m}")
    return mappings


def sync_permission_mappings(
    store: GraphStore,
    policies: DataFrame,
    statements: DataFrame,
    update_tag: int,
    mappings: list[dict] | None = None,
) -> None:
    """Materialize permission edges for every configured mapping (reference
    permission_relationships.py:308-345 sync loop).

    A mapping grants its relationship when ANY of its permissions is allowed
    (reference ``evaluate_policy_for_permissions``), so every permission is
    evaluated on its own and the pairs are unioned.  One stage,
    ``aws:permissions:{relationship_name}``, writes the edges of every
    mapping that shares the relationship name.
    """
    by_rel: dict[str, list[dict]] = {}
    for m in mappings if mappings is not None else load_permission_mappings():
        by_rel.setdefault(m["relationship_name"], []).append(m)
    for rel_label, group in by_rel.items():
        stage = f"aws:permissions:{rel_label}"
        if store.stage_done(stage, update_tag):
            continue
        granted = _union(
            [
                evaluate_permissions(
                    policies,
                    statements,
                    store.nodes(labels=[m["target_label"]]).select(F.col("id").alias("arn")),
                    permission,
                ).withColumn("dst_label", F.lit(m["target_label"]))
                for m in group
                for permission in m["permissions"]
            ]
        )
        edges = edge_rows(
            granted, "principal_arn", "AWSPrincipal", rel_label, "resource_arn", None, update_tag
        )
        store.upsert(None, edges, stage, update_tag)


def sts_assumerole_pairs(
    trusts: DataFrame, principals: DataFrame, policies: DataFrame, statements: DataFrame
) -> DataFrame:
    """(principal_arn, role_arn) pairs allowed to sts:AssumeRole.

    Parity: iam.py:448-493 — 3-hop pattern (account)-[:RESOURCE]->(principal)
    x (role)-[:TRUSTS_AWS_PRINCIPAL]->(:root of that account), gated by the
    principal's policies granting sts:AssumeRole on the role's ARN.

    ``trusts``:     (role_arn, trusted) trust edges
    ``principals``: (principal_arn, acct)
    """
    root_trusts = trusts.where(F.col("trusted").endswith(":root")).select(
        "role_arn", arn_account(F.col("trusted")).alias("acct")
    )
    # accounts and their root-trusted roles are dimension-sized: broadcast
    candidates = principals.join(F.broadcast(root_trusts), "acct").where(
        F.col("principal_arn") != F.col("role_arn")
    )
    roles = root_trusts.select(F.col("role_arn").alias("arn"))
    grants = _grants(policies, statements, roles, "sts:AssumeRole")
    return grants.select("principal_arn", F.col("resource_arn").alias("role_arn")).join(
        candidates, ["principal_arn", "role_arn"], "left_semi"
    )


def sync_sts_assumerole(
    store: GraphStore, policies: DataFrame, statements: DataFrame, update_tag: int
) -> None:
    """Materialize STS_ASSUMEROLE_ALLOW edges from the live graph."""
    stage = "aws:permissions:sts_assumerole"
    if store.stage_done(stage, update_tag):
        return
    edges = store.edges(rel_labels=["TRUSTS_AWS_PRINCIPAL"])
    nodes = store.nodes(labels=["AWSRole", "AWSUser"])

    trusts = edges.where(F.col("rel_label") == "TRUSTS_AWS_PRINCIPAL").select(
        F.col("src_id").alias("role_arn"), F.col("dst_id").alias("trusted")
    )
    principals = nodes.where(
        F.col("label").isin("AWSRole", "AWSUser")
    ).select(
        F.col("id").alias("principal_arn"),
        F.element_at("props", "account_id").alias("acct"),
    ).where(F.col("acct").isNotNull())

    granted = sts_assumerole_pairs(trusts, principals, policies, statements)

    out = edge_rows(
        granted, "principal_arn", "AWSPrincipal", "STS_ASSUMEROLE_ALLOW", "role_arn",
        "AWSRole", update_tag,
    )
    store.upsert(None, out, stage, update_tag)
