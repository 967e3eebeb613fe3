"""ECS module: clusters, services, task definitions, tasks, containers.

Parity map (reference cartography/intel/aws/ecs.py):
  * clusters (ecs.py:130-160)    — ECSCluster{id: clusterArn},
    (AWSAccount)-[:RESOURCE]->(cluster)
  * services (ecs.py:225-270)    — ECSService{id: serviceArn},
    (cluster)-[:HAS_SERVICE]->(service),
    (service)-[:HAS_TASK_DEFINITION]->(taskdef)
  * task defs (ecs.py:285-330)   — ECSTaskDefinition{id: taskDefinitionArn},
    (AWSAccount)-[:RESOURCE]->(taskdef)
  * tasks (ecs.py:360-420)       — ECSTask{id: taskArn},
    (cluster)-[:HAS_TASK]->(task),
    (task)-[:HAS_TASK_DEFINITION]->(taskdef) — reference drops tasks whose
    definition is unknown (MATCH, not MERGE); the compiler's inner join is
    the same gate
  * containers                   — ECSContainer{id} with image digest,
    (task)-[:HAS_CONTAINER]->(container); the digest joins the ECRImage
    space (the image-provenance chain the reference builds through ecr.py)

Scale: tasks/containers are the fact tables; cluster/taskdef dimensions
broadcast; the task->taskdef gate keys on unique arns (no skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

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

ECS_CLUSTER_SCHEMA = NodeSchema(
    label="ECSCluster",
    id=PropertyRef("arn"),
    properties={"name": PropertyRef("name")},
)

ECS_TASK_DEF_SCHEMA = NodeSchema(
    label="ECSTaskDefinition",
    id=PropertyRef("arn"),
    properties={"family": PropertyRef("family"), "account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
)


def _cluster_rel(rel_label: str) -> RelSchema:
    return RelSchema(
        target_label="ECSCluster",
        rel_label=rel_label,
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("cluster_arn")}),
    )


ECS_SERVICE_SCHEMA = NodeSchema(
    label="ECSService",
    id=PropertyRef("arn"),
    properties={"name": PropertyRef("name")},
    other_rels=(
        _cluster_rel("HAS_SERVICE"),
        RelSchema(
            target_label="ECSTaskDefinition",
            rel_label="HAS_TASK_DEFINITION",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("task_def_arn")}),
        ),
    ),
)

ECS_TASK_SCHEMA = NodeSchema(
    label="ECSTask",
    id=PropertyRef("arn"),
    other_rels=(
        _cluster_rel("HAS_TASK"),
        RelSchema(
            target_label="ECSTaskDefinition",
            rel_label="HAS_TASK_DEFINITION",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("task_def_ref")}),
        ),
    ),
)

ECS_CONTAINER_SCHEMA = NodeSchema(
    label="ECSContainer",
    id=PropertyRef("container_id"),
    properties={"image_digest": PropertyRef("image_digest")},
    other_rels=(
        RelSchema(
            target_label="ECSTask",
            rel_label="HAS_CONTAINER",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("arn")}),
        ),
    ),
)


def sync_ecs(
    store: GraphStore,
    clusters: DataFrame,
    services: DataFrame,
    task_defs: DataFrame,
    tasks: DataFrame,
    update_tag: int,
) -> None:
    load(
        store,
        "aws:ecs",
        update_tag,
        (clusters, ECS_CLUSTER_SCHEMA),
        (task_defs, ECS_TASK_DEF_SCHEMA),
        (services, ECS_SERVICE_SCHEMA),
        (tasks, ECS_TASK_SCHEMA),
        (tasks.select("arn", "container_id", "image_digest"), ECS_CONTAINER_SCHEMA),
    )
