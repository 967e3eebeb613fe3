"""Stale-element cleanup — the snapshot-diff anti-join restatement of
GraphJob cleanup (reference: cartography/graph/cleanupbuilder.py:15-41).

The reference generates, per node schema:
  1. DETACH DELETE stale nodes attached to the run's sub-resource
     (cleanupbuilder.py:44-76; scoping MATCH :107-126);
  2. DELETE stale sub-resource relationships;
  3. DELETE stale other-relationships (:79-104).
"Stale" == ``lastupdated <> $UPDATE_TAG`` scoped to the sub-resource that was
just synced — elements of *other* tenants are never touched.

Here each of those is a DataFrame predicate + anti-join against the live
snapshot; the iterative ``LIMIT $LIMIT_SIZE`` loop (statement.py:112-128) is
unnecessary because a snapshot commit is one atomic set operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.model import NodeSchema
from cartography_spark.core.store import GraphStore


def _scoped_node_ids(
    store: GraphStore, schema: NodeSchema, sub_resource_id: str
) -> DataFrame:
    """ids of schema-label nodes attached to the given sub-resource.

    Scope comes from the RESOURCE-style edge the sub_resource_rel declared
    (reference cleanupbuilder.py:107-126 builds the same MATCH pattern).
    """
    rel = schema.sub_resource_rel
    edges = store.edges(rel_labels=[rel.rel_label])
    # Sub-resource edges point (sub)-[:RESOURCE]->(asset) for INWARD
    # declarations (the common case) or the reverse for OUTWARD.
    from cartography_spark.core.model import LinkDirection

    if rel.direction == LinkDirection.INWARD:
        scoped = edges.where(
            (F.col("src_label") == rel.target_label)
            & (F.col("src_id") == sub_resource_id)
            & (F.col("dst_label") == schema.label)
        ).select(F.col("dst_id").alias("id"))
    else:
        scoped = edges.where(
            (F.col("dst_label") == rel.target_label)
            & (F.col("dst_id") == sub_resource_id)
            & (F.col("src_label") == schema.label)
        ).select(F.col("src_id").alias("id"))
    return scoped.distinct()


def cleanup_schema(
    store: GraphStore,
    schema: NodeSchema,
    update_tag: int,
    sub_resource_id: str,
    commit: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Compute (and optionally commit) stale nodes + edges for one schema.

    Returns the (stale_nodes, stale_edges) DataFrames so tests and the
    driver oracle can inspect exactly what a cleanup would remove.
    """
    if schema.sub_resource_rel is None:
        raise ValueError(
            f"cleanup for '{schema.label}' requires a sub_resource_rel "
            "(reference: cleanupbuilder.py:148-163 enforces the same)"
        )
    nodes = store.nodes(labels=[schema.label])
    scoped = _scoped_node_ids(store, schema, sub_resource_id)

    stale_nodes = (
        nodes.where((F.col("label") == schema.label) & (F.col("lastupdated") != int(update_tag)))
        .join(scoped, ["id"], "left_semi")
        .select("label", "id")
    )

    # Stale edges touching *live* schema nodes in scope (stale nodes cascade
    # via DETACH in store.delete, so only rels whose endpoints survive need
    # an explicit stale-edge pass — mirrors cleanupbuilder steps 2-3).
    live_scoped = (
        nodes.where(F.col("label") == schema.label)
        .join(scoped, ["id"], "left_semi")
        .select("id")
    )
    edges = store.edges()
    stale_edges = (
        edges.where(F.col("lastupdated") != int(update_tag))
        .join(
            live_scoped.withColumnRenamed("id", "src_id"), ["src_id"], "left_semi"
        )
        .select("src_id", "rel_label", "dst_id")
        .unionByName(
            edges.where(F.col("lastupdated") != int(update_tag))
            .join(live_scoped.withColumnRenamed("id", "dst_id"), ["dst_id"], "left_semi")
            .select("src_id", "rel_label", "dst_id")
        )
        .distinct()
    )

    if commit:
        store.delete(stale_nodes, stale_edges, f"cleanup:{schema.label}", update_tag)
    return stale_nodes, stale_edges


def cleanup_orphans(store: GraphStore, label: str, anchor_label: str, update_tag: int) -> None:
    """Delete label-nodes with no edge to any anchor-label node.

    Parity: post-ingestion principal cleanup — delete AWSPrincipals not
    attached to a known AWSAccount (reference:
    data/jobs/cleanup/aws_post_ingestion_principals_cleanup.json, invoked at
    intel/aws/__init__.py:200-204).  Pure anti-join.
    """
    nodes, edges = store.nodes(labels=[label]), store.edges()
    anchored = (
        edges.where(
            (F.col("src_label") == anchor_label) & (F.col("dst_label") == label)
        ).select(F.col("dst_id").alias("id"))
        .unionByName(
            edges.where(
                (F.col("dst_label") == anchor_label) & (F.col("src_label") == label)
            ).select(F.col("src_id").alias("id"))
        )
        .distinct()
    )
    orphans = (
        nodes.where(F.col("label") == label)
        .join(anchored, ["id"], "left_anti")
        .select("label", "id")
    )
    store.delete(orphans, None, f"cleanup_orphans:{label}", update_tag)


def delete_stale(
    store: GraphStore,
    stale_nodes: DataFrame | None,
    stale_edges: DataFrame | None,
    stage: str,
    update_tag: int,
) -> None:
    """Delete the given stale rows under ``stage``, or only record the stage
    when there are none.

    A first sync has nothing stale, and a delete is expensive there: it
    forces the write-behind buffer to flush (a full group commit) before
    running its own commit.  The empty probes read pruned slices through the
    lazy merge view, no flush; the checkpoint-only upsert still records the
    stage (buffered into the next group commit) so resume skip-lists stay
    complete.
    """
    if all(df is None or df.isEmpty() for df in (stale_nodes, stale_edges)):
        store.upsert(None, None, stage, update_tag)
        return
    store.delete(stale_nodes, stale_edges, stage, update_tag)
