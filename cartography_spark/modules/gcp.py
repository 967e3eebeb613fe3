"""GCP module: projects, compute instances, VPC/firewall network stack, GKE.

Proves the schema compiler generalizes beyond AWS naming: a non-AWS
sub-resource (GCPProject instead of AWSAccount) anchors the RESOURCE edge.

Parity map (reference cartography/intel/gcp/):
  * projects (crm.py:96-123)       — GCPProject{id: projectid}
  * instances (compute.py:183-221) — GCPInstance{id: partial_uri self-link},
    (GCPProject)-[:RESOURCE]->(GCPInstance)
  * vpcs (compute.py:331-360)      — GCPVpc, (GCPProject)-[:RESOURCE]->(GCPVpc),
    (GCPInstance)-[:MEMBER_OF_GCP_VPC]->(GCPVpc)
  * network tags (compute.py:1001-1034) — GCPNetworkTag,
    (GCPInstance)-[:TAGGED]->(GCPNetworkTag),
    (GCPNetworkTag)-[:TARGET_TAG]->(GCPFirewall)
  * firewalls + rules (compute.py:404-474) — GCPFirewall with
    priority/direction, (GCPVpc)-[:RESOURCE]->(GCPFirewall), GCPIpRule with
    (GCPIpRule)-[:ALLOWED_BY|DENIED_BY]->(GCPFirewall)
  * gke (gke.py:15-63)             — GKECluster with masterauth/privacy
    flags (basic_auth / exposed_internet are analysis-set)
The FIREWALL_INGRESS edges and exposed_internet marks come from the
gcp_compute_asset_inet_exposure analysis job, mirroring
data/jobs/analysis/gcp_compute_asset_inet_exposure.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cartography_spark.core.loader import compile_edges, compile_nodes, load
from cartography_spark.core.model import (
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.core.store import GraphStore

GCP_PROJECT_SCHEMA = NodeSchema(
    label="GCPProject",
    id=PropertyRef("project_id"),
    properties={"displayname": PropertyRef("display_name")},
)

GCP_INSTANCE_SCHEMA = NodeSchema(
    label="GCPInstance",
    id=PropertyRef("instance_id"),
    properties={"name": PropertyRef("name"), "zone": PropertyRef("zone")},
    sub_resource_rel=RelSchema(
        target_label="GCPProject",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("project_id")}),
    ),
)


def _project_resource_rel() -> RelSchema:
    return RelSchema(
        target_label="GCPProject",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("project_id")}),
    )


GCP_VPC_SCHEMA = NodeSchema(
    label="GCPVpc",
    id=PropertyRef("vpc_id"),
    properties={"name": PropertyRef("name")},
    sub_resource_rel=_project_resource_rel(),
)

# Second-pass GCPInstance write: network attachment properties + edges.
# Same label/id as GCP_INSTANCE_SCHEMA — the store's per-key props merge
# keeps the base pass's name/zone while this pass adds vpc/tag/public_ip
# (the multi-writer-per-label semantics the reference gets from MERGE SET).
GCP_INSTANCE_NET_SCHEMA = NodeSchema(
    label="GCPInstance",
    id=PropertyRef("instance_id"),
    properties={
        "vpc_id": PropertyRef("vpc_id"),
        "tag": PropertyRef("tag"),
        "public_ip": PropertyRef("public_ip"),
    },
    other_rels=(
        RelSchema(
            target_label="GCPVpc",
            rel_label="MEMBER_OF_GCP_VPC",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("vpc_id")}),
        ),
        RelSchema(
            target_label="GCPNetworkTag",
            rel_label="TAGGED",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("tag")}),
        ),
    ),
)

GCP_NETWORK_TAG_SCHEMA = NodeSchema(
    # One node per tag value (reference keys GCPNetworkTag on the tag id and
    # shares it between instances and firewall target lists).
    label="GCPNetworkTag",
    id=PropertyRef("tag"),
)

GCP_FIREWALL_SCHEMA = NodeSchema(
    label="GCPFirewall",
    id=PropertyRef("fw_id"),
    properties={
        "name": PropertyRef("name"),
        "priority": PropertyRef("priority"),
        "direction": PropertyRef("direction"),
        "has_target_service_accounts": PropertyRef("has_target_service_accounts"),
    },
    sub_resource_rel=RelSchema(
        target_label="GCPVpc",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("vpc_id")}),
    ),
)

# (GCPNetworkTag)-[:TARGET_TAG]->(GCPFirewall), built from the firewall rows
# that declare a target tag.
GCP_TARGET_TAG_SCHEMA = NodeSchema(
    label="GCPNetworkTag",
    id=PropertyRef("target_tag"),
    other_rels=(
        RelSchema(
            target_label="GCPFirewall",
            rel_label="TARGET_TAG",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("fw_id")}),
        ),
    ),
)

GCP_IP_RULE_SCHEMA = NodeSchema(
    label="GCPIpRule",
    id=PropertyRef("rule_id"),
    properties={
        "protocol": PropertyRef("protocol"),
        "fromport": PropertyRef("fromport"),
        "toport": PropertyRef("toport"),
        "cidr": PropertyRef("cidr"),
        "action": PropertyRef("action"),
    },
    # ALLOWED_BY / DENIED_BY split at sync time on the action column
    # (reference loads allowed and denied rule lists separately).
)

GKE_CLUSTER_SCHEMA = NodeSchema(
    label="GKECluster",
    id=PropertyRef("self_link"),
    properties={
        "name": PropertyRef("name"),
        "private_nodes": PropertyRef("private_nodes"),
        "private_endpoint_enabled": PropertyRef("private_endpoint_enabled"),
        "master_authorized_networks": PropertyRef("master_authorized_networks"),
        "masterauth_username": PropertyRef("masterauth_username"),
        "masterauth_password": PropertyRef("masterauth_password"),
    },
    sub_resource_rel=_project_resource_rel(),
)


def _rule_rel_schema(rel_label: str) -> NodeSchema:
    return NodeSchema(
        label="GCPIpRule",
        id=PropertyRef("rule_id"),
        other_rels=(
            RelSchema(
                target_label="GCPFirewall",
                rel_label=rel_label,
                direction=LinkDirection.OUTWARD,
                matcher=TargetNodeMatcher({"id": PropertyRef("fw_id")}),
            ),
        ),
    )


def sync_gcp(
    store: GraphStore,
    projects: DataFrame,
    instances: DataFrame,
    update_tag: int,
    vpcs: DataFrame | None = None,
    instance_net: DataFrame | None = None,
    firewalls: DataFrame | None = None,
    fw_rules: DataFrame | None = None,
    gke: DataFrame | None = None,
) -> None:
    from pyspark.sql import functions as F

    load(store, "gcp:projects", update_tag, (projects, GCP_PROJECT_SCHEMA))
    load(store, "gcp:instances", update_tag, (instances, GCP_INSTANCE_SCHEMA))
    if vpcs is not None:
        load(store, "gcp:vpcs", update_tag, (vpcs, GCP_VPC_SCHEMA))
    if firewalls is not None:
        load(
            store,
            "gcp:firewalls",
            update_tag,
            (firewalls, GCP_FIREWALL_SCHEMA),
            (firewalls.where(F.col("target_tag").isNotNull()), GCP_TARGET_TAG_SCHEMA),
        )
    if fw_rules is not None and not store.stage_done("gcp:fw_rules", update_tag):
        rule_nodes = compile_nodes(fw_rules, GCP_IP_RULE_SCHEMA, update_tag)
        allowed = compile_edges(
            fw_rules.where(F.col("action") == "allow"),
            _rule_rel_schema("ALLOWED_BY"),
            store.nodes,
            update_tag,
        )
        denied = compile_edges(
            fw_rules.where(F.col("action") == "deny"),
            _rule_rel_schema("DENIED_BY"),
            store.nodes,
            update_tag,
        )
        store.upsert(
            rule_nodes, allowed.unionByName(denied), "gcp:fw_rules", update_tag
        )
    if instance_net is not None:
        load(
            store,
            "gcp:instance_net",
            update_tag,
            (instance_net, GCP_INSTANCE_NET_SCHEMA),
            (instance_net, GCP_NETWORK_TAG_SCHEMA),
        )
    if gke is not None:
        load(store, "gcp:gke", update_tag, (gke, GKE_CLUSTER_SCHEMA))


# --- round-3 breadth: GCS buckets + Cloud DNS ------------------------------

BUCKET_SCHEMA = NodeSchema(
    label="GCPBucket",
    id=PropertyRef("bucket_id"),
    properties={
        "storage_class": PropertyRef("storage_class"),
        "versioning_enabled": PropertyRef("versioning_enabled"),
    },
    sub_resource_rel=RelSchema(
        # reference intel/gcp/storage.py:117-143 MERGEs the project RESOURCE
        target_label="GCPProject",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("project_id")}),
    ),
)

DNS_ZONE_SCHEMA = NodeSchema(
    label="GCPDNSZone",
    id=PropertyRef("zone_id"),
    properties={
        "dns_name": PropertyRef("dns_name"),
        "visibility": PropertyRef("visibility"),
    },
    sub_resource_rel=RelSchema(
        # reference intel/gcp/dns.py:130-131
        target_label="GCPProject",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("project_id")}),
    ),
)

RECORD_SET_SCHEMA = NodeSchema(
    # reference intel/gcp/dns.py:167-179: GCPRecordSet{id: name} with
    # (zone)-[:HAS_RECORD]->(rrs)
    label="GCPRecordSet",
    id=PropertyRef("record_id"),
    properties={"type": PropertyRef("rtype"), "value": PropertyRef("value")},
    other_rels=(
        RelSchema(
            target_label="GCPDNSZone",
            rel_label="HAS_RECORD",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("zone_id")}),
        ),
    ),
)


def sync_gcp_storage_dns(
    store: GraphStore,
    buckets: DataFrame,
    dns_zones: DataFrame,
    dns_records: DataFrame,
    update_tag: int,
) -> None:
    """GCS buckets, Cloud DNS zones, then record sets (attach to zones).
    The cross-provider record join (GCPRecordSet CNAME values landing in the
    AWS Route53 DNSRecord name space) runs as an analysis derivation —
    analysis/jobs.py gcp_aws_dns_links."""
    load(store, "gcp:buckets", update_tag, (buckets, BUCKET_SCHEMA))
    load(store, "gcp:dns_zones", update_tag, (dns_zones, DNS_ZONE_SCHEMA))
    load(store, "gcp:dns_records", update_tag, (dns_records, RECORD_SET_SCHEMA))
