"""Self-tests of the benchmark's own machinery.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pytest

import checks
import gen
from spans import Job, Span, Tracer, attribute_jobs, covered, layer_table, self_times


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-selftest")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    yield s
    s.stop()


# ----- digests --------------------------------------------------------------

ROWS = [
    ("u1", "AWSUser", {"email": "a@x", "path": "/"}, 111, 222),
    ("u2", "AWSUser", {"path": "/", "email": "b@x"}, 111, 222),
    ("g1", "AWSGroup", None, 222, 222),
]
SCHEMA = "id string, label string, props map<string,string>, firstseen long, lastupdated long"


def test_digest_ignores_row_order_and_map_order(spark):
    a = spark.createDataFrame(ROWS, SCHEMA)
    b = spark.createDataFrame(
        [(r[0], r[1], dict(reversed(list(r[2].items()))) if r[2] else None, r[3], r[4])
         for r in reversed(ROWS)], SCHEMA).repartition(2)
    assert checks.frame_digest(a, "label", [111, 222]) == checks.frame_digest(b, "label", [111, 222])


def test_digest_maps_tags_to_ordinals(spark):
    a = spark.createDataFrame(ROWS, SCHEMA)
    shifted = spark.createDataFrame([(*r[:3], r[3] + 5, r[4] + 5) for r in ROWS], SCHEMA)
    assert checks.frame_digest(a, "label", [111, 222]) == checks.frame_digest(shifted, "label", [116, 227])


@pytest.mark.parametrize("perturb", [
    lambda r: (r[0], r[1], {**r[2], "path": "/renamed/"}, r[3], r[4]) if r[0] == "u1" else r,
    lambda r: (*r[:3], 222, r[4]) if r[0] == "u2" else r,
    lambda r: r,  # duplicated row, added below
])
def test_digest_catches_one_changed_row(spark, perturb):
    base = spark.createDataFrame(ROWS, SCHEMA)
    rows = [perturb(r) for r in ROWS]
    if rows == ROWS:
        rows = ROWS + [ROWS[0], ROWS[0]]  # an even number of copies cancels under xor
    got = checks.frame_digest(spark.createDataFrame(rows, SCHEMA), "label", [111, 222])
    want = checks.frame_digest(base, "label", [111, 222])
    with pytest.raises(checks.CheckFailed):
        checks.compare("graph", {"nodes": got}, {"nodes": want})


# ----- oracles --------------------------------------------------------------


def test_cluster_check_rejects_a_wrong_representative():
    docs, pairs = [1, 2, 3, 4], {(1, 2): 0.9, (2, 3): 0.6}
    good = [(1, 1, 3, True), (2, 1, 3, False), (3, 1, 3, False), (4, 4, 1, True)]
    checks.check_clusters(good, docs, pairs)
    bad = [(1, 1, 2, True), (2, 1, 2, False), (3, 3, 1, True), (4, 4, 1, True)]
    with pytest.raises(checks.CheckFailed):
        checks.check_clusters(bad, docs, pairs)


def test_ngram_oracle_finds_planted_pair_and_rejects_wrong_jaccard():
    texts = {1: "a b c d e f g", 2: "a b c d e f h", 3: "x y z"}
    pairs = checks.expected_ngram_pairs(texts)
    assert pairs == {(1, 2): round(4 / 6, 4)}
    checks.check_pairs("ngram", pairs, texts)
    with pytest.raises(checks.CheckFailed):
        checks.check_pairs("ngram", {(1, 2): 0.5}, texts)


# ----- span arithmetic ------------------------------------------------------


def _tree():
    # phase [0,10] > store.flush [1,6] > two pool-thread writes [2,4] and [3,5]
    #               > loader [7,8]
    return [
        Span(0, "phase:sync", "workload", 0.0, 10.0, None),
        Span(1, "BufferedSyncStore.flush", "core.store", 1.0, 6.0, 0),
        Span(2, "GraphStore._write_slices", "core.store", 2.0, 4.0, 1, "pool-1"),
        Span(3, "GraphStore._write_slices", "core.store", 3.0, 5.0, 1, "pool-2"),
        Span(4, "loader.compile_nodes", "core.loader", 7.0, 8.0, 0),
    ]


def test_self_time_subtracts_union_of_children():
    st = self_times(_tree())
    assert st[0] == pytest.approx(10 - 5 - 1)  # children cover [1,6] and [7,8]
    assert st[1] == pytest.approx(5 - 3)  # overlapping children cover [2,5]
    assert st[2] == pytest.approx(2) and st[4] == pytest.approx(1)
    assert covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)


def test_jobs_go_to_innermost_open_span_by_submission_time():
    jobs = [
        Job(0, 0.5, 0.9),  # phase only
        Job(1, 3.5, 4.5),  # submitted from a pool thread while both writes are open
        Job(2, 5.5, 5.8),  # flush still open, writes done
        Job(3, 7.5, 7.9),  # loader
        Job(4, 11.0, 12.0),  # outside every span
    ]
    owner = attribute_jobs(_tree(), jobs)
    assert owner == {0: 0, 1: 3, 2: 1, 3: 4, 4: None}
    table = layer_table(_tree(), jobs)
    assert table["core.store"]["jobs"] == 2 and table["core.loader"]["jobs"] == 1
    assert table["core.store"]["wall_s"] == pytest.approx(5.0)  # outermost store span only
    assert table["(unattributed)"]["jobs"] == 1
    # the phase's wall minus the union of job intervals inside it
    assert table["workload"]["driver_only_s"] == pytest.approx(10 - 0.4 - 1.0 - 0.3 - 0.4)


def test_tracer_parents_pool_thread_spans_under_the_open_call():
    import threading

    tr = Tracer()

    def pool_work():
        with tr.span("inner", "core.store"):
            pass

    with tr.span("outer", "core.store"):
        t = threading.Thread(target=pool_work)
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    assert tr.spans[1].parent == tr.spans[0].sid


def test_tracer_keeps_concurrent_pool_spans_as_siblings():
    import threading
    from concurrent.futures import ThreadPoolExecutor

    tr = Tracer()
    both_open = threading.Barrier(2, timeout=10)

    def write_slices():
        with tr.span("GraphStore._write_slices", "core.store"):
            both_open.wait()  # the two pool spans overlap in time
            with tr.span("loader.compile", "core.loader"):
                pass

    with tr.span("GraphStore.upsert", "core.store") as upsert:
        with ThreadPoolExecutor(2) as pool:
            for f in [pool.submit(write_slices) for _ in range(2)]:
                f.result()
    writes = [sp for sp in tr.spans if sp.name == "GraphStore._write_slices"]
    assert len({sp.thread for sp in writes}) == 2
    assert [sp.parent for sp in writes] == [upsert.sid, upsert.sid]
    inner = [sp for sp in tr.spans if sp.name == "loader.compile"]
    assert sorted(sp.parent for sp in inner) == sorted(sp.sid for sp in writes)


# ----- generator ------------------------------------------------------------

SMALL = gen.Shape(customers=30, suppliers=10, parts=40, orders=100, base_docs=40, replicas=5)


def _file_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


def test_generator_is_byte_identical_per_seed(tmp_path):
    work = str(tmp_path)
    a = _file_bytes(gen.generate(SMALL, 3, os.path.join(work, "a"), work))
    b = _file_bytes(gen.generate(SMALL, 3, os.path.join(work, "b"), work))
    c = _file_bytes(gen.generate(SMALL, 4, os.path.join(work, "c"), work))
    assert len(a) == len(gen.TABLES) + 1 and a == b
    assert a["documents.parquet"] != c["documents.parquet"]


def test_generator_replicates_each_base_document():
    docs = gen.tables(SMALL, 3)["documents"].to_pydict()
    assert docs["doc_id"] == list(range(SMALL.docs))
    bases = [t.rsplit(" rep ", 1)[0] for t in docs["text"]]
    suffixes = [t.rsplit(" rep ", 1)[1] for t in docs["text"]]
    for b in range(SMALL.base_docs):
        family = slice(b * SMALL.replicas, (b + 1) * SMALL.replicas)
        assert len(set(bases[family])) == 1
        assert suffixes[family] == suffixes[: SMALL.replicas]
    assert len(set(suffixes)) == SMALL.replicas


def test_generator_refuses_destinations_outside_its_work_dir(tmp_path):
    work = tmp_path / "work"
    work.mkdir()
    for dst in (str(tmp_path), str(work), str(tmp_path / "elsewhere"), str(work / ".." / "x")):
        with pytest.raises(ValueError):
            gen.generate(SMALL, 1, dst, str(work))
    assert sorted(os.listdir(tmp_path)) == ["work"]
