"""Elasticsearch module: ES domains + DNS endpoint records.

Parity map (reference cartography/intel/aws/elasticsearch.py:40-125 +
cartography/intel/dns.py:17-67):
  * ESDomain{id: DomainId} with arn/endpoint,
    (AWSAccount)-[:RESOURCE]->(ESDomain)
  * ``_link_es_dns`` calls ingest_dns_record_by_fqdn for the domain
    endpoint: a DNSRecord:AWSDNSRecord node per endpoint FQDN with
    (record)-[:DNS_POINTS_TO]->(ESDomain)

The endpoint record rows are derived straight from the domain frame (one
narrow projection — no second scan), then compiled with the same record
schema machinery the Route53 module uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.loader import load
from cartography_spark.core.model import (
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_base import account_resource_rel

ES_DOMAIN_SCHEMA = NodeSchema(
    label="ESDomain",
    id=PropertyRef("domain_id"),
    properties={
        "arn": PropertyRef("arn"),
        "endpoint": PropertyRef("endpoint"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)

# endpoint DNS record (reference dns.py:69-107 ingest_dns_record): id is
# "{fqdn}+{type}", value the target's id, and a DNS_POINTS_TO edge to the
# ES domain node
ES_DNS_RECORD_SCHEMA = NodeSchema(
    label="AWSDNSRecord",
    extra_labels=("DNSRecord",),
    id=PropertyRef("record_id"),
    properties={
        "name": PropertyRef("name"),
        "type": PropertyRef("type"),
        "value": PropertyRef("value"),
    },
    other_rels=(
        RelSchema(
            target_label="ESDomain",
            rel_label="DNS_POINTS_TO",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("domain_id")}),
        ),
    ),
)


def es_endpoint_records(domains: DataFrame) -> DataFrame:
    """One CNAME-style endpoint record per domain (reference
    dns.py:17-67)."""
    return domains.select(
        F.concat(F.col("endpoint"), F.lit("+CNAME")).alias("record_id"),
        F.col("endpoint").alias("name"),
        F.lit("CNAME").alias("type"),
        F.col("domain_id").alias("value"),
        F.col("domain_id"),
    )


def sync_elasticsearch(store: GraphStore, domains: DataFrame, update_tag: int) -> None:
    load(
        store,
        "aws:es",
        update_tag,
        (domains, ES_DOMAIN_SCHEMA),
        (es_endpoint_records(domains), ES_DNS_RECORD_SCHEMA),
    )
