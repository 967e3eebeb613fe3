"""TAGGED edges from resource-tag mappings.

Parity: cartography/intel/aws/resourcegroupstaggingapi.py — the reference
double-UNWINDs nested tag arrays (:151-168), maps each resource type to a
(label, match-property) pair (:66-116), and MERGEs
(resource)-[:TAGGED]->(:AWSTag{id: key+":"+value}).  Here the double UNWIND
is one ``explode`` and the per-type match is an equi-join against the node
table on id (we tag by full ARN; short-id extraction for ec2/s3 types is a
``regexp_extract`` in functions/arn.py, not per-row Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.loader import compile_nodes, edge_rows
from cartography_spark.core.model import NodeSchema, PropertyRef
from cartography_spark.core.store import GraphStore

# Bound to an exploded tag frame's ``tag_id``/``key``/``value`` columns.
TAG_SCHEMA = NodeSchema(
    label="AWSTag",
    id=PropertyRef("tag_id"),
    properties={"key": PropertyRef("key"), "value": PropertyRef("value")},
)

TYPE_TO_LABEL = {
    "emr": "EMRCluster",
    "s3": "S3Bucket",
    "iam:user": "AWSUser",
}


def sync_tags(store: GraphStore, tag_mappings: DataFrame, update_tag: int) -> None:
    stage = "aws:tags"
    if store.stage_done(stage, update_tag):
        return
    exploded = tag_mappings.select(
        "ResourceARN", "resource_type", F.explode("Tags").alias("t")
    ).select(
        "ResourceARN",
        "resource_type",
        F.col("t.Key").alias("key"),
        F.col("t.Value").alias("value"),
        F.concat(F.col("t.Key"), F.lit(":"), F.col("t.Value")).alias("tag_id"),
    )

    tag_nodes = compile_nodes(exploded, TAG_SCHEMA, update_tag)

    label_map = F.create_map(
        *[F.lit(x) for kv in TYPE_TO_LABEL.items() for x in kv]
    )
    typed = exploded.withColumn("res_label", F.element_at(label_map, F.col("resource_type")))

    # Only emit edges for resources that exist in the graph (the reference's
    # MATCH-by-(label, property) does the same by construction).  The join's
    # equality on res_label means only the mapped labels can ever match, so
    # the read prunes to exactly those slices.
    resources = store.nodes(labels=sorted(set(TYPE_TO_LABEL.values()))).select(
        F.col("id").alias("res_id"), F.col("label").alias("src_label")
    )
    tagged = typed.join(
        resources,
        (typed["ResourceARN"] == resources["res_id"])
        & (typed["res_label"] == resources["src_label"]),
    )
    edges = edge_rows(tagged, "res_id", None, "TAGGED", "tag_id", "AWSTag", update_tag)
    store.upsert(tag_nodes, edges, stage, update_tag)
