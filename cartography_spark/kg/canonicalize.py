"""Canonicalization: merge duplicate entities via connected components.

Cross-system identities (an AWSUser and an OktaUser sharing an email) must
collapse to one canonical entity before edge materialization — the engine's
analog of MERGE-by-id dedupe (SURVEY.md §2.4 A5) generalized to multi-key
identity resolution.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SOCC'14) — O(log n) rounds,
each round two shuffles on the node key.  Skew posture: star operations
group by node id; a mega-component's hub key is salted implicitly by the
algorithm itself (large-star hangs high neighbors under the minimum, so hub
degree shrinks every round), and AQE skew-join splitting covers the joins.
Each round is ``localCheckpoint``-ed to truncate the lineage (an iterative
driver loop must not build an unbounded plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, max_rounds: int = 25) -> DataFrame:
    """edges(src,dst) -> (node, component) with component = min member id.

    Ids compare lexicographically (string min).  Works on any undirected
    edge list; self-loops and duplicates tolerated.
    """
    e = (
        edges.select(F.col("src").cast("string").alias("u"), F.col("dst").cast("string").alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    if e.isEmpty():
        return e.select(F.col("u").alias("node"), F.col("v").alias("component"))

    def large_star(df: DataFrame) -> DataFrame:
        und = df.unionByName(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            und.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(df: DataFrame) -> DataFrame:
        und = df.unionByName(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        le = und.where(F.col("v") <= F.col("u"))
        m = le.groupBy("u").agg(F.min("v").alias("m"))
        pairs = le.join(m, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).unionByName(m.select(F.col("u"), F.col("m").alias("v")))
        return pairs.where(F.col("u") != F.col("v")).distinct()

    prev_sig = None
    for _ in range(max_rounds):
        # lazy checkpoint: the signature action below materializes it, so
        # each round is ONE job (checkpoint+agg) instead of two — the loop
        # on small edge lists is pure job latency (r6)
        e = small_star(large_star(e)).localCheckpoint(eager=False)
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        cur = (sig["n"], sig["h"])
        if cur == prev_sig:
            break
        prev_sig = cur

    # e is now (member -> root) star edges; add roots mapping to themselves.
    roots = e.select(F.col("v").alias("u")).distinct().withColumn("v", F.col("u"))
    return (
        e.unionByName(roots)
        .distinct()
        .select(F.col("u").alias("node"), F.col("v").alias("component"))
    )


def identity_edges(nodes: DataFrame) -> DataFrame:
    """Equivalence edges for identity resolution: node <-> shared-key hub.

    Hub nodes (``email:<addr>``) keep the join star-shaped: every holder of
    a key links to the key hub, never pairwise — O(n) edges instead of
    O(n^2) for hot keys (the salting-free way to survive a mega-identity).
    """
    emails = (
        nodes.where(F.col("label") == "AWSUser")
        .where(F.element_at("props", "email").isNotNull())
        .select(
            F.col("id").alias("src"),
            F.concat(F.lit("email:"), F.element_at("props", "email")).alias("dst"),
        )
    )
    logins = (
        nodes.where(F.col("label") == "OktaUser")
        .where(F.element_at("props", "login").isNotNull())
        .select(
            F.col("id").alias("src"),
            F.concat(F.lit("email:"), F.element_at("props", "login")).alias("dst"),
        )
    )
    return emails.unionByName(logins)


def canonical_mapping(nodes: DataFrame, assume_forest: bool = False) -> DataFrame:
    """(node_id, canonical_id): every identity-bearing node -> its canonical
    representative (lexicographic min *real* node id of its component; key
    hubs are excluded from candidacy).

    Fast path: identity edges are (real node)->(key hub) stars.  When every
    real node touches at most ONE hub, hubs cannot bridge, so each component
    is exactly one hub + its members — canonicalization is a single
    groupBy(hub) min, no iterative CC at all (one shuffle instead of
    O(log n) rounds x 2 shuffles).  The forest check is one cheap agg; any
    multi-key bridge (a node holding two identity keys) falls back to the
    general large-star/small-star loop.

    ``assume_forest=True`` skips the runtime forest check — two Spark jobs
    (the check is a driver-side branch, so it cannot fuse with the mapping
    computation).  Callers may pass it ONLY when the at-most-one-hub
    property is provable from the data's construction: each identity-bearing
    node contributes at most one key (a map prop holds a single email/login
    value) and the two labels' id namespaces are disjoint (IAM ARNs vs
    ``okta-*``), so no src can reach two hubs.  Violating the contract
    silently degrades to per-hub (not per-component) canonicalization;
    when in doubt keep the default runtime check.
    """
    edges = identity_edges(nodes)
    # a src whose min and max hub differ touches two hubs: a bridge.  One
    # shuffle and an emptiness probe, so two jobs under AQE
    forest = assume_forest or (
        edges.groupBy("src")
        .agg(F.min("dst").alias("lo"), F.max("dst").alias("hi"))
        .where("lo <> hi")
        .isEmpty()
    )
    if forest:
        rep = edges.groupBy("dst").agg(F.min("src").alias("canonical_id"))
        return edges.join(rep, "dst").select(
            F.col("src").alias("node_id"), "canonical_id"
        )

    comps = connected_components(edges.select("src", "dst"))
    members = comps.where(~F.col("node").startswith("email:"))
    rep = members.groupBy("component").agg(F.min("node").alias("canonical_id"))
    return members.join(rep, "component").select(
        F.col("node").alias("node_id"), "canonical_id"
    )
