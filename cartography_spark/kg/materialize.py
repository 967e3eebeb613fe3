"""Document-graph materialization: Document nodes + MENTIONS edges.

The documents path (north_star): exploded spans -> mention detection ->
entity linking -> canonicalization -> deterministic edge materialization.
Edges carry the provenance the reference stamps on every element
(firstseen/lastupdated) plus the span position, so the span-sequence
invariant is auditable from the graph itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.loader import compile_nodes, edge_rows
from cartography_spark.core.model import NodeSchema, PropertyRef
from cartography_spark.core.store import GraphStore
from cartography_spark.kg.canonicalize import canonical_mapping
from cartography_spark.kg.extract import detect_mentions
from cartography_spark.kg.link import identifier_dictionary, link_mentions
from cartography_spark.sources.docs_synth import exploded_spans


DOCUMENT_SCHEMA = NodeSchema(
    label="Document", id=PropertyRef("doc_id"), properties={"n_spans": PropertyRef("n_spans")}
)


def document_nodes(docs: DataFrame, update_tag: int) -> DataFrame:
    # doc ids are unique by construction (one row per source document)
    return compile_nodes(
        docs.withColumn("n_spans", F.size("spans")), DOCUMENT_SCHEMA, update_tag, dedupe=False
    )


def mention_edges(docs: DataFrame, nodes: DataFrame, update_tag: int) -> DataFrame:
    """(Document)-[:MENTIONS]->(canonical entity) with span provenance.

    Canonicalization rewrites each linked entity to its component
    representative before the edge is emitted, so duplicate identities
    (AWSUser + OktaUser sharing an email) produce ONE canonical endpoint.
    Edge props keep mention count and first span index per (doc, entity).
    """
    spans = exploded_spans(docs)
    mentions = detect_mentions(spans)
    dims = identifier_dictionary(nodes)
    links = link_mentions(mentions, dims)

    canon = canonical_mapping(nodes)
    links = (
        links.join(canon, links["entity_id"] == canon["node_id"], "left")
        .withColumn("canonical", F.coalesce("canonical_id", "entity_id"))
        .drop("node_id", "canonical_id")
    )
    # The canonical node's label (it may differ from the matched node's).
    # A canonical id that differs from the matched entity is by construction
    # an identity-bearing node (identity_edges only links AWSUser/OktaUser),
    # so the lookup frame is restricted to those labels — a fraction of the
    # full node broadcast.  One id may carry both labels (the node key is
    # (label, id)), so the lookup keeps ONE label per id, the min: the label
    # must depend on the canonical id alone, or one MERGE key splits into
    # per-label rows.  Other canonicals keep the matched entity_label.
    labels = (
        nodes.where(F.col("label").isin("AWSUser", "OktaUser"))
        .groupBy(F.col("id").alias("canonical"))
        .agg(F.min("label").alias("_ident_label"))
    )
    links = links.join(labels, "canonical", "left").withColumn(
        "canon_label", F.coalesce("_ident_label", "entity_label")
    )

    per_entity = (
        links.groupBy("doc_id", "canonical", "canon_label")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.min("span_idx").alias("first_span_idx"),
            F.max("score").alias("score"),
        )
        .withColumn("dst_label", F.coalesce("canon_label", F.lit("Entity")))
    )
    # canon_label is a function of canonical, so one row per (doc,
    # canonical) group is one row per MERGE key: no MERGE-key dedupe
    return edge_rows(
        per_entity, "doc_id", "Document", "MENTIONS", "canonical", None, update_tag,
        props="map_from_arrays(array('n_mentions', 'first_span_idx', 'score'),"
        " array(CAST(n_mentions AS STRING), CAST(first_span_idx AS STRING),"
        " CAST(score AS STRING)))",
        dedupe=False,
    )


def fixture_nodes(spark, sf_dir: str, update_tag: int):
    """Minimal linkable node set built straight from fixtures (store-free) —
    used by pure queries and the flagship entry."""
    from cartography_spark.modules.aws_emr import EMR_CLUSTER_SCHEMA
    from cartography_spark.modules.aws_iam import ROLE_SCHEMA, USER_SCHEMA
    from cartography_spark.modules.okta import USER_SCHEMA as OKTA_USER_SCHEMA
    from cartography_spark.sources import fixtures as fx

    # fixture ids are unique by construction (pure key formulas over
    # distinct table keys) — skip the MERGE-collapse window per family
    parts = [
        compile_nodes(fx.iam_users(spark, sf_dir), USER_SCHEMA, update_tag, dedupe=False),
        compile_nodes(
            fx.iam_roles(spark, sf_dir).drop("trust_principals"), ROLE_SCHEMA, update_tag,
            dedupe=False,
        ),
        compile_nodes(fx.emr_clusters(spark, sf_dir), EMR_CLUSTER_SCHEMA, update_tag, dedupe=False),
        compile_nodes(fx.okta_users(spark, sf_dir), OKTA_USER_SCHEMA, update_tag, dedupe=False),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # consolidate the narrow union's accumulated partitions (see bulk.py)
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return out.repartition(nparts, "label", "id")


def mention_triples(spark, sf_dir: str, update_tag: int = 111111111):
    """Flagship store-free path: synthesize docs -> extract -> link ->
    canonicalize -> MENTIONS triples.  Output is flat (src_id, rel_label,
    dst_id, dst_label, n_mentions, first_span_idx)."""
    from cartography_spark.sources.docs_synth import interleaved_documents

    docs = interleaved_documents(spark, sf_dir)
    # the node frame feeds the identifier dictionary, canonicalization, and
    # the label join — materialize it once instead of recomputing per branch
    # (localCheckpoint, not cache: blocks are GC-freed via ContextCleaner,
    # and consumers re-analyze a leaf scan, not the 4-family union plan)
    nodes = fixture_nodes(spark, sf_dir, update_tag).localCheckpoint()
    edges = mention_edges(docs, nodes, update_tag)
    return edges.select(
        F.col("src_id").alias("doc_id"),
        F.col("rel_label"),
        F.col("dst_id").alias("entity_id"),
        F.col("dst_label").alias("entity_label"),
        F.element_at("props", "n_mentions").cast("long").alias("n_mentions"),
        F.element_at("props", "first_span_idx").cast("long").alias("first_span_idx"),
    )


def sync_documents(store: GraphStore, docs: DataFrame, update_tag: int) -> None:
    stage = "documents:mentions"
    if store.stage_done(stage, update_tag):
        return
    nodes = document_nodes(docs, update_tag)
    edges = mention_edges(docs, store.nodes(), update_tag)
    store.upsert(nodes, edges, stage, update_tag)
