"""Output checks: order-insensitive digests and seed-independent oracles.

A digest is, per group (node label, rel label, or one group for a flat
table): the row count, ``bit_xor`` of a 64-bit row hash and the sum of the
hash modulo a prime.  ``bit_xor`` ignores row order; the modular sum catches
what xor cannot (a row duplicated an even number of times).  Spark 4 runs
ANSI arithmetic, so a plain ``sum`` of 64-bit hashes would overflow.
Before hashing, map columns are rendered with their entries sorted and
update tags are replaced by their ordinal (1 = first sync, 2 = second), so
the digest does not depend on the tag values a seed picks.

Digests are compared with the values recorded in ``expected.json`` for the
seeds the benchmark ships.  For every seed, oracles recompute the expected
mention triples, clusters and pair sets from the generated inputs in plain
Python, and graph invariants check the store after each sync.
"""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PRIME = 2_147_483_647
TAG_COLS = ("firstseen", "lastupdated")


class CheckFailed(Exception):
    """An operation's output differs from what it must be."""


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def frame_digest(df: DataFrame, group_col: str | None = None, tags: list[int] = ()) -> dict:
    """{group: [rows, xor_hash, sum_hash_mod_prime]} for ``df``."""
    cols = []
    for name, dtype in df.dtypes:
        c = F.col(name)
        if dtype.startswith("map<"):
            c = F.to_json(F.array_sort(F.map_entries(c)))
        elif dtype.startswith(("array<", "struct<")):
            c = F.to_json(c)
        elif name in TAG_COLS and tags:
            ordinal = F.lit(None)
            for i, t in reversed(list(enumerate(tags, 1))):
                ordinal = F.when(c == F.lit(int(t)), F.lit(-i)).otherwise(ordinal)
            c = F.coalesce(ordinal, c)
        cols.append(F.coalesce(c.cast("string"), F.lit("\u0000null")))
    h = F.xxhash64(*cols)
    g = F.col(group_col).cast("string") if group_col else F.lit("*")
    rows = (
        df.select(g.alias("_g"), h.alias("_h"))
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor("_h").alias("x"),
            F.sum(F.pmod("_h", F.lit(PRIME))).alias("s"),
        )
        .collect()
    )
    return {r["_g"]: [int(r["n"]), int(r["x"]), int(r["s"])] for r in rows}


def graph_digest(store, tags: list[int]) -> dict:
    return {
        "nodes": frame_digest(store.nodes(), "label", tags),
        "edges": frame_digest(store.edges(), "rel_label", tags),
    }


def _leaves(d: dict, prefix: str = ""):
    for k, v in d.items():
        yield from _leaves(v, f"{prefix}{k}/") if isinstance(v, dict) else [(prefix + k, v)]


def compare(name: str, got: dict, expected: dict | None) -> None:
    """Exact comparison against a recorded digest (skipped if none recorded)."""
    if expected is None or got == expected:
        return
    a, b = dict(_leaves(got)), dict(_leaves(expected))
    diff = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
    raise CheckFailed(f"{name}: digest differs from the recorded one in {diff[:8]}")


# ----- graph invariants -----------------------------------------------------


def check_graph(store, inputs: str, tag: int, variant: str) -> None:
    """Invariants of the store after a sync that must hold for any seed."""
    nodes, edges = store.nodes(), store.edges()
    dup = nodes.groupBy("label", "id").count().where("count > 1").limit(1).count()
    require(dup == 0, "duplicate (label, id) in the node table")
    ids = nodes.select(F.col("id").alias("x")).distinct()
    dangling = (
        edges.select(F.explode(F.array("src_id", "dst_id")).alias("x"))
        .join(ids, "x", "left_anti").limit(1).count()
    )
    require(dangling == 0, "edge endpoint missing from the node table")
    cust = pq.read_table(f"{inputs}/customer.parquet", columns=["c_custkey"]).column(0).to_pylist()
    want = sum(1 for k in cust if variant != "t2" or k % 10 != 7)
    got = nodes.where("label = 'AWSUser'").count()
    require(got == want, f"AWSUser rows {got} != customers {want} for variant {variant}")
    meta = store.current_meta()
    synced = sorted({
        lab for s in meta.get("stages", {}).values() if s["update_tag"] == tag for lab in s["labels"]
    })
    stale = nodes.where(F.col("label").isin(synced) & (F.col("lastupdated") != tag)).limit(1).count()
    require(stale == 0, "stale rows left in labels synced at this tag")


# ----- oracles for the documents path ---------------------------------------


def _acct(k: int) -> str:
    return str(k).rjust(12, "0")


def expected_mentions(inputs: str) -> set[tuple[str, str, str]]:
    """Doc d mentions user (d mod customers) and EMR cluster (d mod
    suppliers).  The user's AWS ARN, Okta id and email hub form one identity
    component whose string-minimum member, the ARN, is the canonical entity."""
    cust = pq.read_table(f"{inputs}/customer.parquet", columns=["c_custkey", "c_nationkey"])
    supp = pq.read_table(f"{inputs}/supplier.parquet", columns=["s_suppkey", "s_nationkey"])
    cn = dict(zip(*(c.to_pylist() for c in cust.columns)))
    sn = dict(zip(*(c.to_pylist() for c in supp.columns)))
    docs = pq.read_table(f"{inputs}/documents.parquet", columns=["doc_id"]).column(0).to_pylist()
    out = set()
    for d in docs:
        ck, sk = d % len(cn), d % len(sn)
        out.add((f"doc-{d}", f"arn:aws:iam::{_acct(cn[ck])}:user/user-{ck}", "AWSUser"))
        out.add((f"doc-{d}", f"arn:aws:elasticmapreduce:us-east-1:{_acct(sn[sk])}:cluster/j-{sk}",
                 "EMRCluster"))
    return out


def shingles(text: str, k: int = 3) -> set[str]:
    t = re.split(" +", text.lower())
    return {s for s in (" ".join(t[i: i + k]) for i in range(max(len(t) - k, 0) + 1)) if s}


def _round4(x: float) -> float:
    return int(x * 10000 + 0.5) / 10000


def expected_ngram_pairs(texts: dict[int, str], threshold=0.5, max_freq=50) -> dict:
    """Word-3-shingle Jaccard over shingles held by at most ``max_freq`` docs."""
    holders: dict[str, list[int]] = defaultdict(list)
    for d, t in texts.items():
        for s in shingles(t):
            holders[s].append(d)
    cold = [np.sort(np.array(v, dtype=np.int64)) for v in holders.values() if len(v) <= max_freq]
    if not cold:
        return {}
    # every pair of docs sharing a cold shingle, once per shared shingle
    tri = {n: np.triu_indices(n, 1) for n in {len(g) for g in cold}}
    a = np.concatenate([g[tri[len(g)][0]] for g in cold])
    b = np.concatenate([g[tri[len(g)][1]] for g in cold])
    docs, n_sh = np.unique(np.concatenate(cold), return_counts=True)
    span = int(docs[-1]) + 1
    keys, shared = np.unique(a * span + b, return_counts=True)
    a, b = keys // span, keys % span
    j = shared / (n_sh[np.searchsorted(docs, a)] + n_sh[np.searchsorted(docs, b)] - shared)
    j = np.floor(j * 10000 + 0.5) / 10000  # _round4
    keep = j >= threshold
    return {(int(x), int(y)): float(v) for x, y, v in zip(a[keep], b[keep], j[keep])}


def check_pairs(name: str, got: dict, texts: dict[int, str] | None = None, threshold=0.5) -> None:
    """Pairs are ordered, above threshold, and (given texts) carry the exact
    shingle Jaccard of the two documents."""
    for (a, b), j in got.items():
        require(a < b and threshold <= j <= 1.0, f"{name}: malformed pair {(a, b, j)}")
        if texts is not None:
            sa, sb = shingles(texts[a]), shingles(texts[b])
            want = _round4(len(sa & sb) / len(sa | sb))
            require(abs(want - j) < 1e-9, f"{name}: jaccard of {(a, b)} is {want}, got {j}")


def check_clusters(rows: list[tuple[int, int, int, bool]], docs: list[int], pairs) -> None:
    """Clusters are the connected components of the pair graph, named by
    their minimum doc id, with sizes and canonical flags to match."""
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    size: dict[int, int] = defaultdict(int)
    for d in docs:
        size[find(d)] += 1
    require(len(rows) == len(docs), f"clusters: {len(rows)} rows for {len(docs)} docs")
    for d, cid, n, canon in rows:
        r = find(d)
        require(cid == r and n == size[r] and canon == (d == r),
                f"clusters: doc {d} -> {(cid, n, canon)}, want {(r, size[r], d == r)}")
