"""Physical-plan regression tests: the scale properties the engine is
designed around, asserted against `.explain` output so they cannot silently
regress.

Covers the plan invariants called out in ARCHITECTURE.md §Scale posture:
  * dimension-side joins broadcast (no shuffle of the fact side onto a
    dimension key);
  * ANN probes against the materialized index are PHYSICAL partition prunes
    (the bucket predicate reaches PartitionFilters, not a post-scan filter);
  * parquet scans carry pushed filters and pruned schemas;
  * the documents pipeline contains no cartesian product;
  * IAM policy evaluation runs no Python UDF and no window.
"""

import pyspark.sql.functions as F
import pytest

from cartography_spark.sources import fixtures as fx

SF = "/root/testdata/sf0.001"
T1 = 111111111


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_edge_compile_broadcasts_dimension(spark):
    """compile_edges joins the batch against a dimension-sized target id
    space — the plan must broadcast the targets, never shuffle the batch."""
    from cartography_spark.core.loader import compile_edges, compile_nodes
    from cartography_spark.modules.aws_base import ACCOUNT_SCHEMA
    from cartography_spark.modules.aws_iam import USER_SCHEMA

    accounts = compile_nodes(fx.aws_accounts(spark, SF), ACCOUNT_SCHEMA, T1, {"inscope": "true"})
    edges = compile_edges(fx.iam_users(spark, SF), USER_SCHEMA, accounts, T1)
    plan = _plan(edges)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_permission_operators_are_native(spark):
    """Policy evaluation compiles to native expressions: neither operator's
    plan holds a Python UDF or a window (the plan only; no job runs)."""
    from cartography_spark.modules.permissions import evaluate_permissions, sts_assumerole_pairs

    policies, statements = fx.iam_policies(spark, SF), fx.iam_policy_statements(spark, SF)
    roles = fx.iam_roles(spark, SF)
    trusts = roles.select(
        F.col("arn").alias("role_arn"), F.explode("trust_principals").alias("p")
    ).select("role_arn", F.col("p.value").alias("trusted"))
    principals = roles.select(F.col("arn").alias("principal_arn"), F.col("account_id").alias("acct"))
    for df in (
        evaluate_permissions(policies, statements, fx.s3_buckets(spark, SF), "s3:GetObject"),
        sts_assumerole_pairs(trusts, principals, policies, statements),
    ):
        plan = _plan(df)
        for op in ("ArrowEvalPython", "BatchEvalPython", "Window"):
            assert op not in plan, op


def test_ann_probe_is_partition_prune(spark, tmp_path):
    """The bucket predicate must reach the scan's PartitionFilters —
    reading |probes| partitions of 2^planes, enforced physically."""
    from cartography_spark.ops.similarity import (
        _probe_buckets,
        ann_topk_indexed,
        build_ann_index,
    )

    emb = fx.read_table(spark, SF, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    path = str(tmp_path / "ann_index")
    build_ann_index(emb, dim, path, num_planes=4)

    qv = [float(x) for x in emb.select("embedding").head()[0]]
    out = ann_topk_indexed(spark, path, qv, k=5, num_planes=4, probe_radius=1)
    plan = _plan(out)
    assert "PartitionFilters" in plan
    # the partition filter must actually constrain bucket (INSET / IN)
    seg = plan[plan.index("PartitionFilters"):]
    assert "bucket" in seg[:200]
    # physically read files stay within the probed partitions (checked on
    # the pruned scan itself — input_file_name is lost after the top-k
    # exchange)
    from cartography_spark.ops.similarity import _index_df

    probes = set(_probe_buckets(qv, 4, 1))
    cand = _index_df(spark, path).where(F.col("bucket").isin(list(probes)))
    files = {
        r[0]
        for r in cand.select(F.input_file_name().alias("f")).distinct().collect()
    }
    read_buckets = {int(f.split("bucket=")[1].split("/")[0]) for f in files}
    assert len(read_buckets) > 0 and read_buckets <= probes


def test_parquet_scan_pushes_filters_and_prunes_columns(spark):
    """A filtered two-column projection must reach the scan as PushedFilters
    + a pruned ReadSchema (not a full-row scan)."""
    # other suites may have cached the bare documents scan — CacheManager
    # would then substitute InMemoryTableScan and hide the scan-level
    # pushdown this test asserts
    spark.catalog.clearCache()
    docs = fx.read_table(spark, SF, "documents")
    q = docs.where(F.col("lang") == "en").select("doc_id", "lang")
    plan = _plan(q)
    assert "PushedFilters: [" in plan and "lang" in plan.split("PushedFilters")[1][:120]
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in read_schema and "text" not in read_schema


def test_docs_pipeline_no_cartesian(spark):
    """The flagship mention pipeline must be free of cartesian products and
    row-at-a-time Python UDFs (BatchEvalPython)."""
    from cartography_spark.kg.materialize import mention_triples

    plan = _plan(mention_triples(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_single_row_frame_plans_on_jvm(spark):
    """A fixed tenant/root row is a literal projection over a one-split
    range — no Python RDD scan, which costs a Python worker per partition."""
    from cartography_spark.modules.devices import _single

    df = _single(spark, tenant_id="kandji-tenant")
    assert "ExistingRDD" not in _plan(df)
    assert df.rdd.getNumPartitions() == 1
    assert [r.asDict() for r in df.collect()] == [{"tenant_id": "kandji-tenant"}]
