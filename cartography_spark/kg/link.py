"""Entity linking: mentions x identifier dictionary -> scored candidate links.

The identifier dictionary is built from the live node table — every node
contributes its id (ARNs, okta ids, ...) plus any identifier-bearing props
(email/login).  It is dimension-sized relative to the mention stream
(identifiers ~ assets, mentions ~ documents), so the join broadcasts it.

Scoring: exact identifier match -> 1.0; case-insensitive match -> 0.9.
Ties keep the highest score per (mention occurrence, entity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def identifier_dictionary(nodes: DataFrame) -> DataFrame:
    """(key, key_kind, entity_id, entity_label) — one row per linkable identifier."""
    ids = nodes.where(
        F.col("label").isin("AWSUser", "AWSRole", "AWSGroup", "EMRCluster", "AWSPrincipal")
    ).select(
        F.col("id").alias("key"),
        F.lit("arn").alias("key_kind"),
        F.col("id").alias("entity_id"),
        F.col("label").alias("entity_label"),
    )
    emails = (
        nodes.where(F.col("label") == "AWSUser")
        .where(F.element_at("props", "email").isNotNull())
        .select(
            F.element_at("props", "email").alias("key"),
            F.lit("email").alias("key_kind"),
            F.col("id").alias("entity_id"),
            F.col("label").alias("entity_label"),
        )
    )
    logins = (
        nodes.where(F.col("label") == "OktaUser")
        .where(F.element_at("props", "login").isNotNull())
        .select(
            F.element_at("props", "login").alias("key"),
            F.lit("email").alias("key_kind"),
            F.col("id").alias("entity_id"),
            F.col("label").alias("entity_label"),
        )
    )
    return ids.unionByName(emails).unionByName(logins)


def link_mentions(mentions: DataFrame, dims: DataFrame) -> DataFrame:
    """Join mentions to the identifier dictionary with tiered scoring.

    Output: doc_id, span_idx, offset, mention, mention_kind,
            entity_id, entity_label, score.
    """
    # One join covers both tiers: the case-folded key is a superset match of
    # the exact one, so joining on lower(mention)=lower(key) and scoring
    # exact hits inline does the work of two joins in a single pass over the
    # mention stream (the mention side is the 10^12-row side — never walk it
    # twice).  max() per (occurrence, entity) keeps exact's 1.0 over 0.9 when
    # several dictionary keys case-fold together.
    d = F.broadcast(dims.withColumn("key_folded", F.lower(F.col("key"))))

    joined = mentions.join(
        d,
        (F.lower(mentions["mention"]) == d["key_folded"])
        & (mentions["mention_kind"] == d["key_kind"]),
        "inner",
    )
    return (
        joined.select(
            "doc_id", "span_idx", "offset", "mention", "mention_kind",
            "entity_id", "entity_label",
            F.when(joined["mention"] == d["key"], F.lit(1.0))
            .otherwise(F.lit(0.9))
            .alias("score"),
        )
        .groupBy(
            "doc_id", "span_idx", "offset", "mention", "mention_kind",
            "entity_id", "entity_label",
        )
        .agg(F.max("score").alias("score"))
    )
