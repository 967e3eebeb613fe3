"""Focused BufferedSyncStore + LabeledFrame tests (round-4 ADVICE items).

The write-behind buffer's label-pruned read views are only correct because
MERGE keys include the label; these tests pin that equivalence directly —
a labeled read over interleaved labeled/unlabeled batches must be
row-identical to the sequential-commit state — plus the view-cache
invalidation rules and the LabeledFrame classic-DataFrame subclassing the
pruning depends on (it degrades to unpruned-but-exact if Spark breaks the
subclass, and THESE tests are the loud failure the degradation needs).
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cartography_spark.core.loader import LabeledFrame, NODES_SCHEMA, EDGES_SCHEMA


def _node_rows(spark, label, ids, tag, prop=None):
    rows = [
        (f"{label.lower()}-{i}", label, ({"p": prop} if prop else None), None, None, tag)
        for i in ids
    ]
    return spark.createDataFrame(rows, NODES_SCHEMA)


def _collect_nodes(df):
    return sorted(
        (r["id"], r["label"], (r["props"] or {}).get("p"), r["lastupdated"])
        for r in df.collect()
    )


@pytest.fixture()
def buffered(spark):
    from cartography_spark.core.store import BufferedSyncStore, GraphStore

    root = tempfile.mkdtemp(prefix="bufstore_")
    yield BufferedSyncStore(GraphStore(spark, root, write_partitions=2))
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture()
def sequential(spark):
    from cartography_spark.core.store import GraphStore

    root = tempfile.mkdtemp(prefix="seqstore_")
    yield GraphStore(spark, root, write_partitions=2)
    shutil.rmtree(root, ignore_errors=True)


TAG = 1700000000


def _interleaved_batches(spark):
    """Labeled and UNlabeled batches that overlap on label A (key collisions
    the fold must resolve last-write-wins) plus a disjoint label B."""
    return [
        ("s1", LabeledFrame(_node_rows(spark, "A", range(4), TAG, "v1"), ["A"])),
        ("s2", _node_rows(spark, "B", range(3), TAG, "b1")),  # unlabeled (plain DF)
        ("s3", LabeledFrame(_node_rows(spark, "A", range(2, 6), TAG, "v2"), ["A"])),
    ]


def test_labeled_read_matches_sequential_commits(spark, buffered, sequential):
    for stage, batch in _interleaved_batches(spark):
        buffered.upsert(batch, None, stage, TAG)
        sequential.upsert(batch, None, stage, TAG)
    # labeled read folds only label-intersecting batches (s2 is unlabeled so
    # it must be folded conservatively) — rows must match the committed state
    assert _collect_nodes(buffered.nodes(labels=["A"])) == _collect_nodes(
        sequential.nodes(labels=["A"])
    )
    assert _collect_nodes(buffered.nodes(labels=["B"])) == _collect_nodes(
        sequential.nodes(labels=["B"])
    )
    assert _collect_nodes(buffered.nodes()) == _collect_nodes(sequential.nodes())
    # last-write-wins on the overlapping ids
    a = dict(
        ((i, lbl), p) for i, lbl, p, _ in _collect_nodes(buffered.nodes(labels=["A"]))
    )
    assert a[("a-3", "A")] == "v2" and a[("a-0", "A")] == "v1"


def test_view_cache_invalidated_by_overlapping_upsert(spark, buffered):
    buffered.upsert(
        LabeledFrame(_node_rows(spark, "A", range(3), TAG, "v1"), ["A"]), None, "s1", TAG
    )
    v1 = buffered.nodes(labels=["A"])
    assert buffered.nodes(labels=["A"]) is v1  # memoized
    # non-intersecting labeled write keeps the cached A view
    buffered.upsert(
        LabeledFrame(_node_rows(spark, "C", range(2), TAG), ["C"]), None, "s2", TAG
    )
    assert buffered.nodes(labels=["A"]) is v1
    # overlapping write must drop it and the new view must see the new rows
    buffered.upsert(
        LabeledFrame(_node_rows(spark, "A", range(3), TAG, "v2"), ["A"]), None, "s3", TAG
    )
    v2 = buffered.nodes(labels=["A"])
    assert v2 is not v1
    assert {p for _, _, p, _ in _collect_nodes(v2)} == {"v2"}
    # unlabeled write can affect anything -> drops every cached view
    v3 = buffered.nodes(labels=["C"])
    buffered.upsert(_node_rows(spark, "C", range(2), TAG, "u"), None, "s4", TAG)
    assert buffered.nodes(labels=["C"]) is not v3


def test_view_cache_invalidated_by_flush_through(spark, buffered):
    buffered.upsert(
        LabeledFrame(_node_rows(spark, "A", range(3), TAG, "v1"), ["A"]), None, "s1", TAG
    )
    view = buffered.nodes(labels=["A"])
    assert len(_collect_nodes(view)) == 3
    # delete() is a flush-through call: it publishes a new snapshot, so the
    # cached committed-state view must be dropped afterwards
    stale = _node_rows(spark, "A", [0], TAG).select("label", "id")
    buffered.delete(stale, None, "cleanup", TAG + 1)
    fresh = buffered.nodes(labels=["A"])
    assert fresh is not view
    assert len(_collect_nodes(fresh)) == 2


def test_resume_skips_buffered_member_stages(spark, buffered):
    buffered.upsert(
        LabeledFrame(_node_rows(spark, "A", range(2), TAG), ["A"]), None, "stage-a", TAG
    )
    buffered.upsert(
        LabeledFrame(_node_rows(spark, "B", range(2), TAG), ["B"]), None, "stage-b", TAG
    )
    buffered.flush()
    # every member stage of the group commit is individually resumable
    assert buffered.stage_done("stage-a", TAG)
    assert buffered.stage_done("stage-b", TAG)
    assert not buffered.stage_done("stage-c", TAG)


# -- edge MERGE: per-key props, provenance, last-stage scalars ----------------

EKEY = ("s-1", "REL", "d-1")


def _edge(spark, props, tag, src_label="A", dst_label="B"):
    return spark.createDataFrame(
        [(EKEY[0], src_label, EKEY[1], EKEY[2], dst_label, props, None, tag)], EDGES_SCHEMA
    )


def _edge_state(df):
    return {
        (r["src_id"], r["rel_label"], r["dst_id"]): (
            r["src_label"], r["dst_label"], r["props"], r["firstseen"], r["lastupdated"]
        )
        for r in df.collect()
    }


def test_edge_merge_keeps_unmentioned_props(spark, buffered, sequential):
    """A later batch SETs only the props it mentions: {a, b} then {b} gives
    the new b and the old a, firstseen from the first tag, lastupdated from
    the second — committed directly, and through the buffered store's read
    view before and after its flush."""
    t2 = TAG + 1
    want = {EKEY: ("A", "B", {"a": "1", "b": "3"}, TAG, t2)}
    for st in (sequential, buffered):
        st.upsert(None, _edge(spark, {"a": "1", "b": "2"}, TAG), "e1", TAG)
        st.upsert(None, _edge(spark, {"b": "3"}, t2), "e2", t2)
    assert _edge_state(sequential.edges()) == want
    assert _edge_state(buffered.edges()) == want
    assert _edge_state(buffered.edges(rel_labels=["REL"])) == want
    buffered.flush()
    assert _edge_state(buffered.edges()) == want


@pytest.mark.parametrize("read_before_flush", [True, False])
def test_buffered_edge_stages_fold_last_labels_win(spark, buffered, sequential, read_before_flush):
    """Two buffered stages on one committed edge key fold as sequential
    upserts: props merge per key in stage order and the LAST stage's
    src_label/dst_label win, in the read view and in the flushed commit."""
    t2 = TAG + 1
    stages = [
        ("e1", _edge(spark, {"a": "1", "b": "2"}, TAG), TAG),
        ("e2", _edge(spark, {"b": "3"}, t2, "A1", "B1"), t2),
        ("e3", _edge(spark, {"c": "5"}, t2, "A2", "B2"), t2),
    ]
    for st in (sequential, buffered):
        for stage, batch, tag in stages:
            st.upsert(None, batch, stage, tag)
    want = {EKEY: ("A2", "B2", {"a": "1", "b": "3", "c": "5"}, TAG, t2)}
    assert _edge_state(sequential.edges()) == want
    if read_before_flush:
        assert _edge_state(buffered.edges(rel_labels=["REL"])) == want
    buffered.flush()
    assert _edge_state(buffered.edges()) == want


def test_empty_props_stored_as_null_on_every_path(spark, buffered, sequential):
    """A row whose props map is empty (``compile_nodes`` gives ``{}`` when
    every declared prop is NULL) reads back as NULL props whichever path
    writes it: the cold-store insert, a buffered view before the first
    flush, and the buffered flush into an empty store — as the MERGE path
    stores it."""
    nodes = spark.createDataFrame(
        [("a", "A", {}, None, None, TAG), ("b", "A", {"p": "x"}, None, None, TAG)], NODES_SCHEMA
    )
    edges = spark.createDataFrame(
        [("a", "A", "REL", "b", "A", {}, None, TAG)], EDGES_SCHEMA
    )
    want_nodes = {("a", None, TAG), ("b", (("p", "x"),), TAG)}
    want_edges = {("a", None, TAG)}

    def state(store):
        n = {
            (r["id"], None if r["props"] is None else tuple(sorted(r["props"].items())), r["firstseen"])
            for r in store.nodes().collect()
        }
        e = {(r["src_id"], r["props"], r["firstseen"]) for r in store.edges().collect()}
        return n, e

    sequential.upsert(nodes, edges, "s", TAG)
    assert state(sequential) == (want_nodes, want_edges)

    buffered.upsert(nodes, edges, "s", TAG)
    assert state(buffered) == (want_nodes, want_edges)
    buffered.flush()
    assert state(buffered) == (want_nodes, want_edges)


# -- LabeledFrame compatibility pin (VERDICT r3 item 10 / ADVICE) -------------


def test_merge_semi_shape_row_identical(spark, tmp_path):
    """The big-committed-side semi-join MERGE shape (SEMI_MERGE_MIN_ROWS)
    must produce byte-identical rows to the direct shape: same matched-row
    firstseen preservation, per-key props merge, and untouched passthrough."""
    from cartography_spark.core.store import EDGES, NODES, GraphStore

    store = GraphStore(spark, str(tmp_path), write_partitions=2)
    old = _node_rows(spark, "A", range(6), TAG, prop="old").withColumn(
        "firstseen", F.lit(TAG).cast("long")
    )
    new = _node_rows(spark, "A", range(3, 9), TAG + 1, prop="new")

    direct = _collect_nodes(store._merge(NODES, old, new, TAG + 1, old_rows=0))
    semi = _collect_nodes(store._merge(NODES, old, new, TAG + 1, old_rows=10**9))
    assert direct == semi
    # firstseen: overlap keeps TAG, inserts get TAG+1 (resolved at commit,
    # but the merge plan must already coalesce for rows with an old match)
    fs = {r["id"]: r["firstseen"] for r in store._merge(NODES, old, new, TAG + 1, old_rows=10**9).collect()}
    assert fs["a-3"] == TAG and fs["a-8"] == TAG + 1

    # edges: same contract through the edge table spec
    erows = [
        (f"s{i}", "A", "REL", f"d{i}", "B", None, TAG, TAG) for i in range(4)
    ]
    eold = spark.createDataFrame(erows, EDGES_SCHEMA)
    enew = spark.createDataFrame(
        [(f"s{i}", "A", "REL", f"d{i}", "B", None, None, TAG + 1) for i in range(2, 6)],
        EDGES_SCHEMA,
    )

    def _edges(df):
        return sorted((r["src_id"], r["dst_id"], r["firstseen"], r["lastupdated"]) for r in df.collect())

    assert _edges(store._merge(EDGES, eold, enew, TAG + 1, old_rows=0)) == _edges(
        store._merge(EDGES, eold, enew, TAG + 1, old_rows=10**9)
    )


def test_labeledframe_survives_spark_version(spark):
    """Fails LOUDLY if a Spark upgrade breaks the classic-DataFrame
    subclassing the label pruning rides on (the engine itself degrades to
    unpruned-but-exact, which no pipeline test would catch)."""
    a = LabeledFrame(_node_rows(spark, "A", range(2), TAG), ["A"])
    b = LabeledFrame(_node_rows(spark, "B", range(2), TAG), ["B"])
    assert a.cartography_labels == frozenset({"A"})
    # transformations must still work through the subclass
    assert a.where(F.col("label") == "A").count() == 2
    u = a.unionByName(b)
    assert isinstance(u, LabeledFrame)
    assert u.cartography_labels == frozenset({"A", "B"})
    assert u.count() == 4
    # union with a plain frame degrades conservatively: no label claim
    plain = a.unionByName(_node_rows(spark, "C", range(1), TAG))
    assert getattr(plain, "cartography_labels", None) is None
    assert plain.count() == 3
    # edge frames carry rel labels the same way
    e = spark.createDataFrame(
        [("a-0", "A", "REL", "b-0", "B", None, None, TAG)], EDGES_SCHEMA
    )
    le = LabeledFrame(e, ["REL"])
    assert le.cartography_labels == frozenset({"REL"})


@pytest.mark.skip(
    reason="documents the KNOWN Spark Connect migration cost (VERDICT r4 "
    "wrong #2): LabeledFrame extends pyspark.sql.classic.dataframe.DataFrame "
    "and touches df._jdf, neither of which exists for Connect DataFrames. "
    "Under a Connect session (SPARK_CONNECT_MODE_ENABLED=1 / remote master) "
    "LabeledFrame.__init__ raises AttributeError on df._jdf.  Migration "
    "path: carry labels in a companion attribute set via a plan-metadata "
    "hint (or a wrapper object) instead of subclassing; the BufferedSyncStore "
    "already degrades correctly (unpruned-but-exact) for any frame without "
    "cartography_labels, so only the pruning, not correctness, is at stake. "
    "Unskip (and port) when the target runtime is Spark Connect."
)
def test_labeledframe_spark_connect_exposure():
    """Executable documentation of the failure mode — see skip reason.

    Linked from ARCHITECTURE.md §LabeledFrame.  The assertion below is what
    WOULD fail under Connect: the classic module import itself succeeds, but
    a Connect DataFrame has no ``_jdf``, so construction explodes.
    """
    from pyspark.sql.connect.dataframe import DataFrame as ConnectDataFrame

    assert not hasattr(ConnectDataFrame, "_jdf")


def test_principal_labels_cover_all_schemas():
    """ADVICE: PRINCIPAL_LABELS hardcodes which primary labels can carry the
    AWSPrincipal extra label — assert no schema anywhere binds AWSPrincipal
    under a primary label the list misses (pruned principal reads would
    silently drop it)."""
    import importlib
    import pkgutil

    import cartography_spark.modules as mods
    from cartography_spark.core.model import NodeSchema
    from cartography_spark.modules.aws_iam import PRINCIPAL_LABELS

    carriers = set()
    for m in pkgutil.iter_modules(mods.__path__):
        mod = importlib.import_module(f"cartography_spark.modules.{m.name}")
        for v in vars(mod).values():
            if isinstance(v, NodeSchema) and "AWSPrincipal" in (v.extra_labels or ()):
                carriers.add(v.label)
    assert carriers, "expected at least the IAM principal schemas"
    missing = carriers - set(PRINCIPAL_LABELS)
    assert not missing, (
        f"schemas bind AWSPrincipal under labels {sorted(missing)} not in "
        f"PRINCIPAL_LABELS — pruned principal reads would miss them"
    )


def test_hash_sample_near_one_rate_keeps_everything(spark):
    """ADVICE: rates just under 1.0 used to overflow the 4-hex-digit space
    ('10000') and keep only ~6% of rows."""
    from cartography_spark.ops.sampling import hash_sample

    df = spark.range(500).select(F.col("id").cast("string").alias("doc_id"))
    assert hash_sample(df, 0.999997).count() == 500
    assert hash_sample(df, 1.0).count() == 500
    assert hash_sample(df, 0.0).count() == 0
