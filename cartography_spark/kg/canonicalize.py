"""Canonicalization: merge duplicate entities via connected components.

Cross-system identities (an AWSUser and an OktaUser sharing an email) must
collapse to one canonical entity before edge materialization — the engine's
analog of MERGE-by-id dedupe (SURVEY.md §2.4 A5) generalized to multi-key
identity resolution.

Algorithm: one connected-components pass for every caller, sized to its
input (after BTS, load-balanced distributed union-find, ICDE 2024):

1. **Local union-find.**  One shuffle on ``dst``, then a ``mapInArrow``
   kernel runs union-find over each partition's edges and roots every local
   component at its minimum id.  Edges stream through in Arrow batches; the
   state is one parent dict per partition, so a hot hub (every holder of a
   key points at it) costs one dict entry per member, never a materialized
   group.  A component finishes here when every partition it touches
   roots it at the same id: a hub star (identity edges run node -> hub, so
   a hub's edges share one partition) or a near-dup clique (its min member
   is on every pair).
2. **Residual star rounds.**  A node that received two different local
   roots (partition-spanning component) contracts to root -> min-root edges;
   the alternating large-star / small-star loop (Kiveris et al., "Connected
   Components in MapReduce and Beyond", SOCC'14) runs on those edges only,
   O(log n) rounds, and composes back through one join.  Each round is
   ``localCheckpoint``-ed to truncate the lineage.

One test ends both steps: a node with two different roots.  After the local
pass it marks a partition-spanning component; on the star edges it marks a
graph that is not yet one star per component.  Identity stars and near-dup
cliques pass it after the local pass, so the loop runs zero rounds.

Component id = lexicographic min member id.  The kernel compares Python
``str`` (code-point order), which equals Spark's UTF-8 byte order.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(e: DataFrame) -> DataFrame:
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    # v > u >= m, so no self-loop can come out
    hung = und.join(m, "u").where("v > u")
    return hung.select(F.col("v").alias("u"), F.col("m").alias("v")).distinct()


def _small_star(e: DataFrame) -> DataFrame:
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    le = und.where(F.col("v") <= F.col("u"))
    m = le.groupBy("u").agg(F.min("v").alias("m"))
    pairs = le.join(m, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    ).unionByName(m.select(F.col("u"), F.col("m").alias("v")))
    return pairs.where(F.col("u") != F.col("v")).distinct()


def _spread(pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(node, root) rows -> per node its min root ``lo`` and distinct
    ``roots`` (checkpointed), and the nodes whose roots differ.  When there
    are none the rows are a star forest and node -> lo is the answer."""
    t = (
        pairs.groupBy("node")
        .agg(F.min("root").alias("lo"), F.collect_set("root").alias("roots"))
        .localCheckpoint(eager=False)
    )
    return t, t.where(F.size("roots") > 1)


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src,dst) -> (node, component) with component = min member id.

    Works on any undirected edge list; self-loops, duplicates and NULL
    endpoints are tolerated and produce no rows of their own.
    """

    def local_roots(batches):
        # mapInArrow kernel: (u, v) edge batches -> (node, root) for every node
        # of the partition, root = min id of its local component.  Nested, so
        # it pickles by value: executors need not import this package
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            root = parent.setdefault(x, x)
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for batch in batches:
            for u, v in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
        if parent:
            nodes = list(parent)
            yield pa.RecordBatch.from_pydict({"node": nodes, "root": [find(x) for x in nodes]})

    n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    local = (
        edges.select(F.col("src").cast("string").alias("u"), F.col("dst").cast("string").alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
        .repartition(n, "v")
        .mapInArrow(local_roots, "node string, root string")
    )
    t, split = _spread(local)
    if split.isEmpty():
        return t.select("node", F.col("lo").alias("component"))

    # contract: every local root of a split node hangs under its min root
    e = (
        split.select(F.explode("roots").alias("u"), F.col("lo").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    while True:
        # edges point to smaller ids, so once (member -> parent) plus
        # (parent -> parent) give every node one root, each star is a
        # whole component centred on its min
        star, split = _spread(
            e.select(F.col("u").alias("node"), F.col("v").alias("root")).unionByName(
                e.select(F.col("v").alias("node"), F.col("v").alias("root"))
            )
        )
        if split.isEmpty():
            break
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)

    comp = star.select(F.col("node").alias("lo"), F.col("lo").alias("component"))
    return t.join(comp, "lo", "left").select(
        "node", F.coalesce("component", "lo").alias("component")
    )


def identity_edges(nodes: DataFrame) -> DataFrame:
    """Equivalence edges for identity resolution: node -> shared-key hub.

    Hub nodes (``email:<addr>``) keep the join star-shaped: every holder of
    a key links to the key hub, never pairwise — O(n) edges instead of
    O(n^2) for hot keys (the salting-free way to survive a mega-identity).
    Oriented node -> hub, so the local union-find pass groups each hub's
    holders in one partition.
    """
    keyed = [
        nodes.where((F.col("label") == label) & F.element_at("props", key).isNotNull()).select(
            F.col("id").alias("src"),
            F.concat(F.lit("email:"), F.element_at("props", key)).alias("dst"),
        )
        for label, key in (("AWSUser", "email"), ("OktaUser", "login"))
    ]
    return keyed[0].unionByName(keyed[1])


def canonical_mapping(nodes: DataFrame) -> DataFrame:
    """(node_id, canonical_id): every identity-bearing node -> its canonical
    representative (lexicographic min *real* node id of its component; key
    hubs are excluded from candidacy).

    A node holding two identity keys bridges their hubs into one component;
    no caller has to prove that none does.
    """
    members = connected_components(identity_edges(nodes)).where(~F.col("node").startswith("email:"))
    rep = members.groupBy("component").agg(F.min("node").alias("canonical_id"))
    return members.join(rep, "component").select(F.col("node").alias("node_id"), "canonical_id")
