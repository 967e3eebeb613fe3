"""Documents path: span invariant, extraction parity, linking,
canonicalization, end-to-end triples."""

import random

import pytest
from pyspark.sql import functions as F

from cartography_spark.kg.canonicalize import canonical_mapping, connected_components
from cartography_spark.kg.extract import detect_mentions, detect_mentions_arrow
from cartography_spark.sources.docs_synth import exploded_spans, interleaved_documents
from tests.conftest import SF_DIR

T1 = 111111111


@pytest.fixture(scope="module")
def docs(spark):
    return interleaved_documents(spark, SF_DIR).cache()


def test_span_offsets_strictly_increasing(spark, docs):
    """The per-row invariant: offset strictly increasing within each doc."""
    bad = docs.where(
        F.exists(
            F.zip_with(
                F.col("spans"),
                F.slice(F.col("spans"), 2, F.size("spans")),
                lambda a, b: b["offset"] <= a["offset"],
            ),
            lambda x: x,
        )
    )
    assert bad.count() == 0


def test_span_sequence_survives_explode_roundtrip(spark, docs):
    """(kind, text, media_ref, order) equality through posexplode +
    re-aggregation — the invariant must survive every shuffle."""
    spans = exploded_spans(docs)
    rebuilt = (
        spans.repartition(7, "kind")  # deliberately hostile shuffle
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_idx", "kind", "text", "media_ref", "offset"))
            ).alias("sorted_spans")
        )
        .select(
            "doc_id",
            F.transform(
                "sorted_spans",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )
    a = rebuilt.select("doc_id", F.to_json("spans").alias("a_json"))
    b = docs.select("doc_id", F.to_json("spans").alias("b_json"))
    diff = a.join(b, "doc_id").where(F.col("a_json") != F.col("b_json"))
    assert diff.count() == 0
    assert rebuilt.count() == docs.count()


def test_mention_impls_agree(spark, docs):
    spans = exploded_spans(docs)
    native = detect_mentions(spans)
    arrow = detect_mentions_arrow(spans)
    assert native.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(native).count() == 0
    kinds = {r.mention_kind for r in native.select("mention_kind").distinct().collect()}
    assert kinds == {"arn", "email"}


def _union_find(edges):
    """Reference components: node -> min member id (NULLs/self-loops skipped)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u is not None and v is not None and u != v:
            ru, rv = find(u), find(v)
            parent[max(ru, rv)] = min(ru, rv)
    return {(x, find(x)) for x in parent}


def _shuffled_path(n, seed):
    ids = [f"p{i:03d}" for i in range(n)]
    random.Random(seed).shuffle(ids)
    return list(zip(ids, ids[1:]))


CC_CASES = {
    "basic": [("a", "b"), ("b", "c"), ("x", "y"), ("m", "m")],
    "long_chain": [(f"n{i:03d}", f"n{i+1:03d}") for i in range(63)],
    # ids out of path order: components span partitions, so the local
    # union-find pass leaves residual edges for the star rounds
    "shuffled_path_200": _shuffled_path(200, 7),
    "hub_3000": [(f"m{i:04d}", "hub") for i in range(3000)],
    "bridged_hubs": [(f"a{i}", "hub1") for i in range(20)]
    + [(f"b{i}", "hub2") for i in range(20)]
    + [("bridge", "hub1"), ("bridge", "hub2")],
    "non_ascii": [("é", "z"), ("z", "日本"), ("ä", "a"), ("\U0001f600", "ÿ"), ("Z", "ü")],
    "null_self_dup": [
        ("a", None), (None, "b"), (None, None), ("c", "c"), ("a", "d"), ("a", "d"), ("d", "a"),
    ],
    "empty": [],
}


@pytest.mark.parametrize("case", list(CC_CASES))
def test_connected_components(spark, case):
    """Every caller's CC against a pure-Python union-find: component = min
    member id (Spark's UTF-8 byte order), no rows for isolated ends."""
    edges = CC_CASES[case]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = [(r.node, r.component) for r in connected_components(e).collect()]
    assert len(got) == len(set(got))
    assert set(got) == _union_find(edges)


def test_canonicalization_merges_iam_and_okta(spark, store):
    """An AWSUser and OktaUser sharing an email collapse to one canonical id."""
    rows = [
        ("arn:aws:iam::1:user/u1", "AWSUser", {"email": "a@x.com"}),
        ("okta-9", "OktaUser", {"login": "a@x.com"}),
        ("arn:aws:iam::1:user/u2", "AWSUser", {"email": "b@x.com"}),
    ]
    nodes = spark.createDataFrame(
        [(i, l, p, None, None, T1) for i, l, p in rows],
        "id string, label string, props map<string,string>, extra_labels array<string>, firstseen long, lastupdated long",
    )
    m = {r.node_id: r.canonical_id for r in canonical_mapping(nodes).collect()}
    assert m["okta-9"] == "arn:aws:iam::1:user/u1"
    assert m["arn:aws:iam::1:user/u1"] == "arn:aws:iam::1:user/u1"
    assert m["arn:aws:iam::1:user/u2"] == "arn:aws:iam::1:user/u2"


@pytest.mark.parametrize("first", ["a", "z"])
def test_sync_documents_canonicalizes_bridged_identities(spark, store, first):
    """A store node that is both an AWSUser and an OktaUser reaches two
    email hubs; sync_documents must not assume the identity forest, so every
    MENTIONS edge into that component targets its one canonical id — with
    one label and one row per MERGE key even when the canonical is the
    two-label node itself (``first="z"`` makes ``user/m`` the minimum)."""
    from cartography_spark.kg.materialize import sync_documents
    from cartography_spark.sources.docs_synth import SPAN_TYPE

    f, m = f"arn:aws:iam::1:user/{first}", "arn:aws:iam::1:user/m"
    rows = [
        (f, "AWSUser", {"email": "a@x.com"}),
        (m, "AWSUser", {"email": "a@x.com"}),
        (m, "OktaUser", {"login": "b@x.com"}),
        ("okta-z", "OktaUser", {"login": "b@x.com"}),
    ]
    nodes = spark.createDataFrame(
        [(i, l, p, None, None, T1) for i, l, p in rows],
        "id string, label string, props map<string,string>, extra_labels array<string>, firstseen long, lastupdated long",
    )
    store.upsert(nodes, None, "identities", T1)
    docs = spark.createDataFrame(
        [
            ("doc-1", [("text", "ping b@x.com", None, 0)]),
            ("doc-2", [("text", "ping a@x.com", None, 0)]),
            ("doc-3", [("text", f"ping {m}", None, 0)]),
        ],
        f"doc_id string, spans array<{SPAN_TYPE}>",
    )
    sync_documents(store, docs, T1)
    got = [
        (r.src_id, r.dst_id, r.dst_label, int(r.props["n_mentions"]))
        for r in store.edges().where(F.col("rel_label") == "MENTIONS").collect()
    ]
    canon = min(f, m)
    assert sorted(got) == [
        ("doc-1", canon, "AWSUser", 2),
        ("doc-2", canon, "AWSUser", 2),
        ("doc-3", canon, "AWSUser", 1),
    ]


def test_end_to_end_sync_triples(spark, store):
    """Flagship path at sf0.001: sync everything, check graph invariants,
    and that every batch the modules buffer carries its label set (the
    write-behind buffer prunes its read views by it)."""
    from cartography_spark.core.store import BufferedSyncStore
    from cartography_spark.kg.pipeline import run_sync

    batches = []

    class Recording(BufferedSyncStore):
        def upsert(self, new_nodes, new_edges, stage, update_tag, metrics=None):
            for df in (new_nodes, new_edges):
                if df is not None:
                    batches.append((stage, getattr(df, "cartography_labels", None)))
            return super().upsert(new_nodes, new_edges, stage, update_tag, metrics)

    res = run_sync(spark, Recording(store), SF_DIR, T1)
    assert res.node_count > 0 and res.edge_count > 0
    assert batches
    assert [s for s, labels in batches if labels is None] == []

    edges = store.edges()
    nodes = store.nodes()
    # Every doc yields 2 MENTIONS edges (canonical user entity + cluster).
    n_docs = nodes.where(F.col("label") == "Document").count()
    assert n_docs == 500
    assert edges.where(F.col("rel_label") == "MENTIONS").count() == 2 * n_docs

    # Referential integrity: no dangling edge endpoints.
    ids = nodes.select("id")
    dangling = (
        edges.join(ids.withColumnRenamed("id", "src_id"), "src_id", "left_anti").count()
        + edges.join(ids.withColumnRenamed("id", "dst_id"), "dst_id", "left_anti").count()
    )
    assert dangling == 0

    # MENTIONS canonical endpoints: okta duplicates must have been merged —
    # no MENTIONS edge may point at an OktaUser that shares an email with an
    # AWSUser (the AWSUser arn sorts first and wins representative).
    m_to_okta = edges.where(
        (F.col("rel_label") == "MENTIONS") & (F.col("dst_label") == "OktaUser")
    ).count()
    assert m_to_okta == 0
