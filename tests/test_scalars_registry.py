"""Scalar coercions (P3) + analysis registry (S4)."""

from pyspark.sql import functions as F

from cartography_spark.functions.scalars import (
    camel_to_snake,
    date_to_epoch,
    ensure_list,
    snake_case_columns,
)


def test_camel_to_snake():
    assert camel_to_snake("ClusterArn") == "cluster_arn"
    assert camel_to_snake("TerminationProtected") == "termination_protected"
    assert camel_to_snake("already_snake") == "already_snake"
    assert camel_to_snake("HTTPPort") == "http_port"


def test_snake_case_columns(spark):
    df = spark.createDataFrame([(1, "x")], ["ClusterId", "NodeType"])
    assert snake_case_columns(df).columns == ["cluster_id", "node_type"]


def test_date_to_epoch(spark):
    df = spark.createDataFrame([("2020-01-01 00:00:00",), (None,)], ["d"])
    rows = df.select(date_to_epoch("d").alias("e")).collect()
    assert rows[0].e == 1577836800 and rows[1].e is None


def test_ensure_list(spark):
    df = spark.createDataFrame([('["a","b"]',), ("solo",)], ["v"])
    rows = df.select(ensure_list("v").alias("l")).collect()
    assert rows[0].l == ["a", "b"] and rows[1].l == ["solo"]


def test_analysis_registry_checkpoints(spark, store):
    from cartography_spark.analysis.registry import AnalysisJob, run_analysis_jobs

    calls = []

    def job(st, tag):
        calls.append(tag)
        # commit so the stage checkpoint records
        st.commit(st.nodes(), st.edges(), "analysis:probe", tag)

    jobs = [AnalysisJob("probe", job)]
    ran1 = run_analysis_jobs(store, spark, "/root/testdata/sf0.001", 111, jobs)
    ran2 = run_analysis_jobs(store, spark, "/root/testdata/sf0.001", 111, jobs)
    assert ran1 == ["probe"] and ran2 == [] and calls == [111]
