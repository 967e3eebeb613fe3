"""Route53 DNS module: zones, records, nameservers, and the SUBZONE
delegation derivation.

Parity map (reference cartography/intel/aws/route53.py):
  * zones (route53.py:133-147)   — AWSDNSZone:DNSZone{zoneid} with
    name/comment/privatezone, (AWSAccount)-[:RESOURCE]->(AWSDNSZone)
  * A / CNAME / ALIAS / NS records (route53.py:58-186) —
    AWSDNSRecord:DNSRecord{id: zoneid/name/type},
    (record)-[:MEMBER_OF_DNS_ZONE]->(zone)
  * NS targets (route53.py:162-186) — NameServer{id} nodes,
    (:AWSDNSRecord{type NS})-[:DNS_POINTS_TO]->(:NameServer)
  * official nameserver mapping (route53.py:188-204) —
    (zone)-[:NAMESERVER]->(ns) where the NS record's name equals the zone's
  * CNAME resolution (route53.py:29-43 link_aws_dns) —
    (:AWSDNSRecord{type CNAME})-[:DNS_POINTS_TO]->(:AWSDNSRecord) joined on
    cname.value = target.name
  * subzone delegation (route53.py:205-230 link_sub_zones) — the 5-hop
    pattern  (z)<-[:MEMBER_OF_DNS_ZONE]-(rec NS)-[:DNS_POINTS_TO]->(ns)
    <-[:NAMESERVER]-(z2) WHERE rec.name = z2.name AND z <> z2
    => (z2)<-[:SUBZONE]-(z)

Spark-first shape: every link is an equi-join the schema compiler emits;
``link_sub_zones`` is a pure function over (nodes, edges) DataFrames so the
driver can run it store-free and the sync can run it over committed state.
All of the joins are dimension-vs-dimension broadcasts here; at 10^12-record
scale the record table is the one fact-sized side and every join keys on
zone/name/server — naturally hash-partitionable, no skew hot spot (DNS names
are near-unique).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.loader import compile_edges, compile_nodes, edge_rows, live_view
from cartography_spark.core.model import (
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_base import account_resource_rel

DNS_ZONE_SCHEMA = NodeSchema(
    label="AWSDNSZone",
    extra_labels=("DNSZone",),
    id=PropertyRef("zoneid"),
    properties={
        "name": PropertyRef("name"),
        "comment": PropertyRef("comment"),
        "privatezone": PropertyRef("privatezone"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)

DNS_RECORD_SCHEMA = NodeSchema(
    label="AWSDNSRecord",
    extra_labels=("DNSRecord",),
    id=PropertyRef("record_id"),
    properties={
        "name": PropertyRef("name"),
        "type": PropertyRef("type"),
        "value": PropertyRef("value"),
        "zoneid": PropertyRef("zoneid"),
    },
    other_rels=(
        RelSchema(
            target_label="AWSDNSZone",
            rel_label="MEMBER_OF_DNS_ZONE",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("zoneid")}),
        ),
    ),
)

# Second-pass record schemas: link edges only (same label/id — the store's
# per-key props merge keeps the base pass's properties).
NS_RECORD_LINK_SCHEMA = NodeSchema(
    label="AWSDNSRecord",
    id=PropertyRef("record_id"),
    other_rels=(
        RelSchema(
            target_label="NameServer",
            rel_label="DNS_POINTS_TO",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("server")}),
        ),
    ),
)

CNAME_LINK_SCHEMA = NodeSchema(
    label="AWSDNSRecord",
    id=PropertyRef("record_id"),
    other_rels=(
        RelSchema(
            target_label="AWSDNSRecord",
            rel_label="DNS_POINTS_TO",
            direction=LinkDirection.OUTWARD,
            # cname.value == target.name (reference link_aws_dns,
            # route53.py:29-43)
            matcher=TargetNodeMatcher({"name": PropertyRef("value")}),
        ),
    ),
)

NAMESERVER_SCHEMA = NodeSchema(
    label="NameServer",
    id=PropertyRef("ns_id"),
    properties={"name": PropertyRef("name")},
    other_rels=(
        RelSchema(
            target_label="AWSDNSZone",
            rel_label="NAMESERVER",
            direction=LinkDirection.INWARD,  # (zone)-[:NAMESERVER]->(ns)
            matcher=TargetNodeMatcher({"id": PropertyRef("official_zoneid")}),
        ),
    ),
)


def subzone_edges(nodes: DataFrame, edges: DataFrame, update_tag: int) -> DataFrame:
    """SUBZONE edges from committed graph state (reference link_sub_zones,
    route53.py:205-230).

    Plan shape: three narrow broadcast-able dimension frames (zones, ns
    records, nameserver edges) chained with equi-joins; the only fact-sized
    side (records) is filtered to type='NS' before any join, so at scale
    this reads one predicate-pushed slice of the record table.
    """
    zones = nodes.where("label = 'AWSDNSZone'").select(
        F.col("id").alias("z_id"), F.element_at("props", "name").alias("z_name")
    )
    ns_recs = nodes.where(
        "label = 'AWSDNSRecord' AND element_at(props, 'type') = 'NS'"
    ).select(F.col("id").alias("rec_id"), F.element_at("props", "name").alias("rec_name"))
    member = edges.where("rel_label = 'MEMBER_OF_DNS_ZONE'").select(
        F.col("src_id").alias("rec_id"), F.col("dst_id").alias("zone_id")
    )
    points = edges.where(
        "rel_label = 'DNS_POINTS_TO' AND dst_label = 'NameServer'"
    ).select(F.col("src_id").alias("rec_id"), F.col("dst_id").alias("ns_id"))
    official = edges.where("rel_label = 'NAMESERVER'").select(
        F.col("src_id").alias("z2_id"), F.col("dst_id").alias("ns_id")
    )
    chain = (
        ns_recs.join(member, "rec_id")
        .join(points, "rec_id")
        .join(official, "ns_id")
        .join(zones.withColumnRenamed("z_id", "z2_id").withColumnRenamed("z_name", "z2_name"), "z2_id")
        .where((F.col("rec_name") == F.col("z2_name")) & (F.col("zone_id") != F.col("z2_id")))
    )
    # dedupe on the key pair BEFORE attaching the MAP props column (Spark
    # cannot run set ops over MAP-typed columns)
    return edge_rows(
        chain.select("zone_id", "z2_id").distinct(),
        "zone_id", "AWSDNSZone", "SUBZONE", "z2_id", "AWSDNSZone", update_tag,
        dedupe=False,
    )


def sync_route53(
    store: GraphStore,
    zones: DataFrame,
    records: DataFrame,
    nameservers: DataFrame,
    update_tag: int,
) -> None:
    """Zones -> records -> nameservers -> link edges -> SUBZONE, mirroring
    the reference's per-zone sync order (route53.py:233-341 sync)."""
    if store.stage_done("aws:route53", update_tag):
        return
    node_frames = [
        compile_nodes(zones, DNS_ZONE_SCHEMA, update_tag),
        compile_nodes(records, DNS_RECORD_SCHEMA, update_tag),
        compile_nodes(nameservers, NAMESERVER_SCHEMA, update_tag),
    ]
    nodes = node_frames[0]
    for f in node_frames[1:]:
        nodes = nodes.unionByName(f)
    live = live_view(store, nodes)
    edge_frames = [
        compile_edges(zones, DNS_ZONE_SCHEMA, store.nodes, update_tag),
        compile_edges(records, DNS_RECORD_SCHEMA, live, update_tag),
        compile_edges(nameservers, NAMESERVER_SCHEMA, live, update_tag),
        compile_edges(records.where("type = 'NS'"), NS_RECORD_LINK_SCHEMA, live, update_tag),
        # record-vs-record self-join: both sides are fact-sized at scale, so
        # no broadcast — AQE picks the shuffle strategy (names are
        # near-unique, no skew)
        compile_edges(
            records.where("type = 'CNAME'"),
            CNAME_LINK_SCHEMA,
            live,
            update_tag,
            broadcast_targets=False,
        ),
    ]
    edges = edge_frames[0]
    for f in edge_frames[1:]:
        edges = edges.unionByName(f)
    edges = edges.unionByName(subzone_edges(nodes, edges, update_tag))
    store.upsert(nodes, edges, "aws:route53", update_tag)
