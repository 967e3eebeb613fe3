"""IAM wildcard policy evaluation — the engine's one theta-join.

Parity: cartography/intel/aws/permission_relationships.py — the reference
nested-loops principals x resources in driver Python (:159-184), evaluating
compiled wildcard regexes per pair (:21-130, compile at :199-225).  Here the
same truth table runs as a **vectorized Arrow-batched pandas UDF** over a
pruned (principal x resource) frame:

  1. statements are grouped per principal JVM-side (collect_list of structs
     -> JSON once, not per pair);
  2. the candidate pair frame is built with a broadcast of the resource
     dimension (resources per service are dimension-sized; principals are
     the big side and stay partitioned);
  3. the UDF compiles each distinct wildcard pattern once per worker via an
     lru_cache (the reference hoists compilation identically :227-243) and
     evaluates allow/deny precedence batch-wise.

IAM matching semantics reproduced: case-insensitive full-string match where
``*`` -> ``.*`` and ``?`` -> ``.`` (permission_relationships.py:199-225);
Deny wins over Allow (:117-130); evaluation requires BOTH an action match
and a resource match within the same statement.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cartography_spark.core.loader import edge_rows
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_iam import arn_account


def _principal_statements(policies: DataFrame, statements: DataFrame) -> DataFrame:
    """(principal_arn, stmts_json) — all statements of all the principal's
    policies, serialized once for Arrow transfer."""
    joined = policies.join(statements, "policy_id", "inner")
    return (
        joined.groupBy("principal_arn")
        .agg(
            F.to_json(
                F.collect_list(F.struct("effect", "action", "resource"))
            ).alias("stmts_json")
        )
    )


def _build_policy_udfs():
    """Construct the two policy-eval UDFs with every helper NESTED, so
    cloudpickle serializes them by value — python workers need no importable
    cartography_spark module (works under plain pyspark, spark-submit
    --py-files, and ad-hoc drivers alike).  lru_caches live per worker
    process, giving the once-per-executor regex compilation the reference
    hoists manually (permission_relationships.py:227-243)."""

    def make_decide():
        import json
        import re
        from functools import lru_cache

        @lru_cache(maxsize=8192)
        def compiled(pattern: str):
            # IAM wildcard grammar -> anchored case-insensitive regex.
            return re.compile(
                "^" + re.escape(pattern).replace(r"\*", ".*").replace(r"\?", ".") + "$",
                re.IGNORECASE,
            )

        def matches(patterns, value) -> bool:
            return any(compiled(p).match(value) for p in (patterns or []))

        @lru_cache(maxsize=8192)
        def action_relevant(sj: str, perm: str):
            """(allow_re, deny_re) for the statements whose action matches
            ``perm``.  Two invariances exploited, neither changing the truth
            table: the action match does not depend on the candidate
            resource, so it runs once per policy JSON instead of once per
            pair; and ``any(p matches arn)`` over a pattern set is one
            anchored alternation regex, so each candidate ARN pays 1-2
            C-level matches instead of a Python loop over patterns."""
            allow_pats: list[str] = []
            deny_pats: list[str] = []
            for s in json.loads(sj):
                if matches(s.get("action"), perm):
                    dst = deny_pats if s.get("effect") == "Deny" else allow_pats
                    dst.extend(s.get("resource") or ())

            def comp(pats):
                if not pats:
                    return None
                body = "|".join(
                    re.escape(p).replace(r"\*", ".*").replace(r"\?", ".")
                    for p in pats
                )
                return re.compile("^(?:" + body + ")$", re.IGNORECASE)

            return comp(allow_pats), comp(deny_pats)

        def decide(sj: str, arn: str, perm: str) -> bool:
            allow_re, deny_re = action_relevant(sj, perm)
            if allow_re is None or not allow_re.match(arn):
                return False
            return not (deny_re is not None and deny_re.match(arn))

        return decide

    @F.pandas_udf(T.BooleanType())
    def eval_policy(
        stmts_json: pd.Series, resource_arn: pd.Series, permission: pd.Series
    ) -> pd.Series:
        decide = make_decide()
        return pd.Series(
            [
                False if sj is None else decide(sj, arn, perm)
                for sj, arn, perm in zip(stmts_json, resource_arn, permission)
            ]
        )

    @F.pandas_udf(T.ArrayType(T.BooleanType()))
    def eval_policy_many(
        stmts_json: pd.Series, resource_arns: pd.Series, permission: pd.Series
    ) -> pd.Series:
        # Array form: one row per principal, the whole candidate-resource
        # array evaluated in one call — each principal's policy JSON crosses
        # Arrow once, not once per (principal, resource) pair.
        decide = make_decide()
        out = []
        for sj, arns, perm in zip(stmts_json, resource_arns, permission):
            if sj is None or arns is None:
                out.append([])
            else:
                out.append([decide(sj, a, perm) for a in arns])
        return pd.Series(out)

    return eval_policy, eval_policy_many


_eval_policy, _eval_policy_many = _build_policy_udfs()


def evaluate_permissions(
    policies: DataFrame,
    statements: DataFrame,
    resources: DataFrame,
    permission: str,
    chunk_size: int = 10_000,
    n_resources_hint: int | None = None,
) -> DataFrame:
    """(principal_arn, resource_arn) pairs where `permission` is granted.

    ``resources`` needs one column ``arn``.  The resource dimension is
    collected into broadcast ARRAY chunks (≤ chunk_size each) and each
    principal row evaluates a whole chunk per UDF call — the pair frame
    never materializes JVM-side and each principal's policy JSON crosses
    Arrow once per chunk, not once per pair.  At scale: pre-prune by
    service (an s3 permission can only match s3 ARNs or '*') before
    chunking.
    """
    pstmts = _principal_statements(policies, statements)
    # Service prune (SURVEY hard-part (e)): an 's3:*' permission can only
    # ever match s3 ARNs, so resources of other services drop BEFORE the
    # chunk/broadcast step — at scale this turns "every principal x every
    # resource chunk" into "every principal x the permission's service
    # slice".  Native split(), no Python.
    service = permission.split(":")[0]
    from cartography_spark.functions.arn import arn_service

    resources = resources.where(arn_service(F.col("arn")) == service)
    # chunk id: ``n_resources_hint`` (the target label's manifest row count
    # — an upper bound on the service-pruned distinct set) sizes stable
    # hash buckets; without a hint, sequential row_number bucketing keeps
    # chunks under chunk_size with NO eager count() job (r6: the count ran
    # at plan-assembly time, a whole Spark job before the query even
    # started).  Chunk membership differs between the two paths, but the
    # output is chunk-independent: every (principal, resource) pair is
    # evaluated exactly once either way.  The single-partition window is
    # safe by design — the chunks are collected into broadcast arrays, so
    # this path already assumes a dimension-sized resource set.
    distinct_res = resources.select(F.col("arn").alias("resource_arn")).distinct()
    if n_resources_hint is not None:
        n_chunks = max(1, (n_resources_hint + chunk_size - 1) // chunk_size)
        chunk_col = F.pmod(F.xxhash64("resource_arn"), F.lit(n_chunks))
    else:
        from pyspark.sql import Window

        w = Window.orderBy("resource_arn")
        chunk_col = ((F.row_number().over(w) - F.lit(1)) / F.lit(chunk_size)).cast(
            "int"
        )
    chunks = (
        distinct_res.withColumn("chunk", chunk_col)
        .groupBy("chunk")
        .agg(F.collect_list("resource_arn").alias("resources"))
    )
    pairs = pstmts.crossJoin(F.broadcast(chunks))
    evald = pairs.withColumn(
        "ok_arr", _eval_policy_many("stmts_json", "resources", F.lit(permission))
    )
    return (
        evald.select(
            "principal_arn", F.explode(F.arrays_zip("resources", "ok_arr")).alias("z")
        )
        .where(F.col("z.ok_arr"))
        .select("principal_arn", F.col("z.resources").alias("resource_arn"))
    )


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
    """Run every configured permission mapping (reference
    permission_relationships.py:308-345 sync loop)."""
    for m in mappings if mappings is not None else load_permission_mappings():
        for permission in m["permissions"]:
            sync_permission_edges(
                store,
                policies,
                statements,
                update_tag,
                permission=permission,
                target_label=m["target_label"],
                rel_label=m["relationship_name"],
            )


def sync_permission_edges(
    store: GraphStore,
    policies: DataFrame,
    statements: DataFrame,
    update_tag: int,
    permission: str = "s3:GetObject",
    target_label: str = "S3Bucket",
    rel_label: str = "CAN_READ",
) -> None:
    """Materialize permission edges for one (permission, target, rel) row."""
    stage = f"aws:permissions:{rel_label}"
    if store.stage_done(stage, update_tag):
        return
    resources = (
        store.nodes(labels=[target_label]).select(F.col("id").alias("arn"))
    )
    granted = evaluate_permissions(
        policies,
        statements,
        resources,
        permission,
        n_resources_hint=store.label_rowcount(target_label),
    )
    edges = edge_rows(
        granted, "principal_arn", "AWSPrincipal", rel_label, "resource_arn", target_label,
        update_tag,
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
        "role_arn", arn_account(F.col("trusted")).alias("trusted_acct")
    )

    # candidate roles grouped PER ACCOUNT first (r6): accounts are a tiny
    # dimension, so the grouped role arrays broadcast and each principal
    # picks up its whole candidate set in one narrow join — the old shape
    # exploded (principal x role) pairs through a shuffle only to
    # collect_list them straight back per principal.  Self-assume drops via
    # array_remove (identical to the old per-pair != filter); a principal
    # whose only candidate is itself keeps an empty array and contributes
    # no output rows, exactly like its absence from the old pair frame.
    roles_by_acct = root_trusts.groupBy("trusted_acct").agg(
        F.array_distinct(F.collect_list("role_arn")).alias("acct_roles")
    )
    from cartography_spark.core.partition import spread_partitions

    # the broadcast join keeps the pipeline narrow, so the UDF would run at
    # the principal scan's split count — spread the principal side first
    principals = spread_partitions(principals)
    grouped = principals.join(
        F.broadcast(roles_by_acct),
        principals["acct"] == roles_by_acct["trusted_acct"],
        "inner",
    ).select(
        "principal_arn",
        F.array_remove("acct_roles", F.col("principal_arn")).alias("roles"),
    )
    pstmts = _principal_statements(policies, statements)
    grouped = grouped.join(pstmts, "principal_arn", "inner")
    evald = grouped.withColumn(
        "ok_arr", _eval_policy_many("stmts_json", "roles", F.lit("sts:AssumeRole"))
    )
    return (
        evald.select(
            "principal_arn", F.explode(F.arrays_zip("roles", "ok_arr")).alias("z")
        )
        .where(F.col("z.ok_arr"))
        .select("principal_arn", F.col("z.roles").alias("role_arn"))
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
