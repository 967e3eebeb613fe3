"""Core MERGE/cleanup semantics — the engine's equivalent of the reference's
querybuilder + cleanupbuilder unit tests (golden *output* rather than golden
Cypher text)."""

import pytest
from pyspark.sql import functions as F

from cartography_spark.core.cleanup import cleanup_schema
from cartography_spark.core.loader import compile_edges, compile_nodes
from cartography_spark.modules.aws_base import ACCOUNT_SCHEMA, sync_accounts
from cartography_spark.modules.aws_emr import EMR_CLUSTER_SCHEMA
from tests.util import check_nodes, check_rels

T1, T2 = 111111111, 222222222


def _accounts(spark):
    return spark.createDataFrame(
        [("000000000000", "test-account"), ("000000000001", "other-account")],
        ["id", "name"],
    )


def _clusters(spark, rows):
    cols = [
        "Id", "ClusterArn", "Name", "ServiceRole", "TerminationProtected",
        "ReleaseLabel", "account_id", "region",
    ]
    return spark.createDataFrame(rows, cols)


def _c(i, acct="000000000000", name=None):
    arn = f"arn:aws:elasticmapreduce:us-east-1:{acct}:cluster/j-{i}"
    return (f"j-{i}", arn, name or f"cluster-{i}", "EMR_DefaultRole", True, "emr-6.10.0", acct, "us-east-1")


def test_upsert_creates_nodes_and_resource_edges(spark, store):
    """Mirrors reference tests/integration/cartography/intel/aws/test_emr.py:
    load clusters, expect EMRCluster nodes + (AWSAccount)-[:RESOURCE]->."""
    sync_accounts(store, _accounts(spark), T1)
    batch = _clusters(spark, [_c(1), _c(2), _c(3, acct="000000000001")])
    nodes = compile_nodes(batch, EMR_CLUSTER_SCHEMA, T1)
    edges = compile_edges(batch, EMR_CLUSTER_SCHEMA, store.nodes(), T1)
    store.upsert(nodes, edges, "emr", T1)

    assert check_nodes(store, "EMRCluster", ["emr_id"]) == {("j-1",), ("j-2",), ("j-3",)}
    assert check_rels(store, "AWSAccount", "RESOURCE", "EMRCluster") == {
        ("000000000000", "arn:aws:elasticmapreduce:us-east-1:000000000000:cluster/j-1"),
        ("000000000000", "arn:aws:elasticmapreduce:us-east-1:000000000000:cluster/j-2"),
        ("000000000001", "arn:aws:elasticmapreduce:us-east-1:000000000001:cluster/j-3"),
    }


def test_firstseen_preserved_lastupdated_overwritten(spark, store):
    """ON CREATE SET firstseen semantics (querybuilder.py:376)."""
    sync_accounts(store, _accounts(spark), T1)
    b1 = _clusters(spark, [_c(1)])
    store.upsert(compile_nodes(b1, EMR_CLUSTER_SCHEMA, T1), None, "emr", T1)

    b2 = _clusters(spark, [_c(1, name="renamed"), _c(2)])
    store.upsert(compile_nodes(b2, EMR_CLUSTER_SCHEMA, T2), None, "emr2", T2)

    rows = {
        r.id: r
        for r in store.nodes()
        .where(F.col("label") == "EMRCluster")
        .select("id", "firstseen", "lastupdated", F.element_at("props", "name").alias("name"))
        .collect()
    }
    c1 = rows["arn:aws:elasticmapreduce:us-east-1:000000000000:cluster/j-1"]
    c2 = rows["arn:aws:elasticmapreduce:us-east-1:000000000000:cluster/j-2"]
    assert c1.firstseen == T1 and c1.lastupdated == T2 and c1.name == "renamed"
    assert c2.firstseen == T2 and c2.lastupdated == T2


def test_batch_duplicate_ids_collapse(spark, store):
    """MERGE collapses duplicate ids inside one batch (SURVEY §2.4 A5)."""
    b = _clusters(spark, [_c(1), _c(1)])
    nodes = compile_nodes(b, EMR_CLUSTER_SCHEMA, T1)
    assert nodes.count() == 1


def test_cleanup_two_tag_scenario(spark, store):
    """FIXTURES.md §9 / reference test_emr.py cleanup test: after a T2 sync
    missing j-2, scoped cleanup removes j-2's node+edges, keeps j-1 with T1
    firstseen, and leaves the other account's j-3 untouched."""
    sync_accounts(store, _accounts(spark), T1)
    b1 = _clusters(spark, [_c(1), _c(2), _c(3, acct="000000000001")])
    store.upsert(
        compile_nodes(b1, EMR_CLUSTER_SCHEMA, T1),
        compile_edges(b1, EMR_CLUSTER_SCHEMA, store.nodes(), T1),
        "emr",
        T1,
    )

    b2 = _clusters(spark, [_c(1)])
    store.upsert(
        compile_nodes(b2, EMR_CLUSTER_SCHEMA, T2),
        compile_edges(b2, EMR_CLUSTER_SCHEMA, store.nodes(), T2),
        "emr2",
        T2,
    )
    cleanup_schema(store, EMR_CLUSTER_SCHEMA, T2, "000000000000")

    ids = check_nodes(store, "EMRCluster", ["emr_id"])
    assert ids == {("j-1",), ("j-3",)}  # j-2 deleted; other tenant untouched
    rels = check_rels(store, "AWSAccount", "RESOURCE", "EMRCluster")
    assert ("000000000000", "arn:aws:elasticmapreduce:us-east-1:000000000000:cluster/j-2") not in rels
    surv = (
        store.nodes()
        .where(F.element_at("props", "emr_id") == "j-1")
        .select("firstseen", "lastupdated")
        .collect()[0]
    )
    assert surv.firstseen == T1 and surv.lastupdated == T2


def test_resume_skips_committed_stage(spark, store):
    """Resumability: re-running a completed (stage, tag) is a no-op."""
    sync_accounts(store, _accounts(spark), T1)
    v1 = store._current_version()
    sync_accounts(store, _accounts(spark), T1)  # same tag -> skip
    assert store._current_version() == v1
    assert store.stage_done("aws:accounts", T1)
    assert not store.stage_done("aws:accounts", T2)


def test_lineage_metrics_written(spark, store):
    sync_accounts(store, _accounts(spark), T1)
    meta = store.current_meta()
    assert meta["metrics"]["node_rows"] == 2
    assert meta["stage"] == "aws:accounts"
    assert meta["update_tag"] == T1


def test_kwarg_propertyref(spark, store):
    """set_in_kwargs constants become literal columns (common.py:42-58)."""
    from cartography_spark.core.model import NodeSchema, PropertyRef

    schema = NodeSchema(
        label="Thing",
        id=PropertyRef("id"),
        properties={"region": PropertyRef("Region", set_in_kwargs=True)},
    )
    df = spark.createDataFrame([("t1",)], ["id"])
    nodes = compile_nodes(df, schema, T1, {"Region": "us-east-1"})
    row = nodes.collect()[0]
    assert row.props["region"] == "us-east-1"


def test_load_skips_checkpointed_stage_before_compiling(spark, store, monkeypatch):
    """A stage already checkpointed under the tag returns before either
    compiler runs and writes nothing (the ~0 s resume of a staged sync)."""
    from cartography_spark.core import loader

    sync_accounts(store, _accounts(spark), T1)
    batch = _clusters(spark, [_c(1)])
    loader.load(store, "emr", T1, (batch, EMR_CLUSTER_SCHEMA))
    version = store._current_version()

    def must_not_run(*args, **kwargs):
        raise AssertionError("load did work for a checkpointed stage")

    for name in ("compile_nodes", "compile_edges"):
        monkeypatch.setattr(loader, name, must_not_run)
    monkeypatch.setattr(store, "upsert", must_not_run)
    loader.load(store, "emr", T1, (batch, EMR_CLUSTER_SCHEMA))
    assert store._current_version() == version


@pytest.mark.parametrize("buffered", [False, True])
def test_load_links_pairs_within_one_stage(spark, store, buffered):
    """A pair's rel can target another pair's label: both compile in one
    stage, and the edge lands on a fresh store."""
    from cartography_spark.core.loader import load
    from cartography_spark.core.model import (
        LinkDirection,
        NodeSchema,
        PropertyRef,
        RelSchema,
        TargetNodeMatcher,
    )
    from cartography_spark.core.store import BufferedSyncStore

    parent = NodeSchema(label="Parent", id=PropertyRef("pid"))
    child = NodeSchema(
        label="Child",
        id=PropertyRef("cid"),
        other_rels=(
            RelSchema(
                target_label="Parent",
                rel_label="CHILD_OF",
                direction=LinkDirection.OUTWARD,
                matcher=TargetNodeMatcher({"id": PropertyRef("pid")}),
            ),
        ),
    )
    st = BufferedSyncStore(store) if buffered else store
    parents = spark.createDataFrame([("p1",), ("p2",)], ["pid"])
    children = spark.createDataFrame([("c1", "p1"), ("c2", "p9")], ["cid", "pid"])
    load(st, "family", T1, (parents, parent), (children, child))
    if buffered:
        st.flush()

    assert check_nodes(store, "Child", ["id"]) == {("c1",), ("c2",)}
    assert check_rels(store, "Child", "CHILD_OF", "Parent") == {("c1", "p1")}
    assert store.stage_done("family", T1)
    assert store.current_meta()["stages"]["family"]["labels"] == ["Child", "Parent"]
