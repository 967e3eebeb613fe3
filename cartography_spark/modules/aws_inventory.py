"""AWS inventory breadth: SQS, KMS, DynamoDB, API Gateway.

Parity map:
  * SQS (reference intel/aws/sqs.py:60-135) — SQSQueue{id: QueueArn},
    (AWSAccount)-[:RESOURCE]->(SQSQueue),
    (queue)-[:HAS_DEADLETTER_QUEUE]->(deadletter queue) from the redrive
    policy target — a queue-vs-queue self-join on arn.
  * KMS (kms.py:115-130, 295-320) — KMSKey{id: KeyId} with
    rotation_enabled, KMSAlias{id: AliasArn},
    (alias)-[:KNOWN_AS]->(key), (AWSAccount)-[:RESOURCE]->(KMSKey).
  * DynamoDB (dynamodb.py load_dynamodb_tables) — DynamoDBTable{id: Arn}
    with gsi count, (AWSAccount)-[:RESOURCE]->(DynamoDBTable).
  * API Gateway (apigateway.py:115-275) — APIGatewayRestAPI{id},
    APIGatewayStage{id: arn} with (api)-[:ASSOCIATED_WITH]->(stage),
    APIGatewayResource{id} with (api)-[:RESOURCE]->(resource).

All targets are dimension-or-fact keyed by unique ids — broadcast for the
account/api dimensions, plain hash join for the queue self-join (fact x
fact at scale; arns are unique so no skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cartography_spark.core.loader import compile_edges, compile_nodes, live_view, load
from cartography_spark.core.model import (
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_base import account_resource_rel

SQS_QUEUE_SCHEMA = NodeSchema(
    label="SQSQueue",
    id=PropertyRef("arn"),
    properties={"name": PropertyRef("name"), "account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
)

# second pass: the DLQ self-join (targets must exist as queue nodes first)
SQS_DLQ_LINK_SCHEMA = NodeSchema(
    label="SQSQueue",
    id=PropertyRef("arn"),
    other_rels=(
        RelSchema(
            target_label="SQSQueue",
            rel_label="HAS_DEADLETTER_QUEUE",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("redrive_target")}),
        ),
    ),
)

KMS_KEY_SCHEMA = NodeSchema(
    label="KMSKey",
    id=PropertyRef("key_id"),
    properties={
        "rotation_enabled": PropertyRef("rotation_enabled"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)

KMS_ALIAS_SCHEMA = NodeSchema(
    label="KMSAlias",
    id=PropertyRef("alias_arn"),
    other_rels=(
        RelSchema(
            target_label="KMSKey",
            rel_label="KNOWN_AS",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("target_key_id")}),
        ),
    ),
)

DYNAMODB_TABLE_SCHEMA = NodeSchema(
    label="DynamoDBTable",
    id=PropertyRef("arn"),
    properties={
        "name": PropertyRef("name"),
        "gsi_count": PropertyRef("gsi_count"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)

APIGW_API_SCHEMA = NodeSchema(
    label="APIGatewayRestAPI",
    id=PropertyRef("api_id"),
    properties={"name": PropertyRef("name"), "account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
)


def _api_rel(rel_label: str) -> RelSchema:
    return RelSchema(
        target_label="APIGatewayRestAPI",
        rel_label=rel_label,
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("api_id")}),
    )


APIGW_STAGE_SCHEMA = NodeSchema(
    label="APIGatewayStage",
    id=PropertyRef("stage_arn"),
    properties={"stage_name": PropertyRef("stage_name")},
    other_rels=(_api_rel("ASSOCIATED_WITH"),),
)

APIGW_RESOURCE_SCHEMA = NodeSchema(
    label="APIGatewayResource",
    id=PropertyRef("resource_id"),
    properties={"path": PropertyRef("path")},
    other_rels=(_api_rel("RESOURCE"),),
)


def sync_sqs(store: GraphStore, queues: DataFrame, update_tag: int) -> None:
    if store.stage_done("aws:sqs", update_tag):
        return
    nodes = compile_nodes(queues, SQS_QUEUE_SCHEMA, update_tag)
    live = live_view(store, nodes)
    edges = compile_edges(queues, SQS_QUEUE_SCHEMA, store.nodes, update_tag).unionByName(
        compile_edges(
            queues.where("redrive_target IS NOT NULL"),
            SQS_DLQ_LINK_SCHEMA,
            live,
            update_tag,
            broadcast_targets=False,  # queue x queue self-join: fact-sized
        )
    )
    store.upsert(nodes, edges, "aws:sqs", update_tag)


def sync_kms(
    store: GraphStore, keys: DataFrame, aliases: DataFrame, update_tag: int
) -> None:
    load(store, "aws:kms", update_tag, (keys, KMS_KEY_SCHEMA), (aliases, KMS_ALIAS_SCHEMA))


def sync_dynamodb(store: GraphStore, tables: DataFrame, update_tag: int) -> None:
    load(store, "aws:dynamodb", update_tag, (tables, DYNAMODB_TABLE_SCHEMA))


def sync_apigateway(
    store: GraphStore,
    apis: DataFrame,
    stages: DataFrame,
    resources: DataFrame,
    update_tag: int,
) -> None:
    load(
        store,
        "aws:apigateway",
        update_tag,
        (apis, APIGW_API_SCHEMA),
        (stages, APIGW_STAGE_SCHEMA),
        (resources, APIGW_RESOURCE_SCHEMA),
    )


# --- Redshift / ElastiCache / Secrets Manager ------------------------------

REDSHIFT_CLUSTER_SCHEMA = NodeSchema(
    label="RedshiftCluster",
    id=PropertyRef("arn"),
    properties={
        "publicly_accessible": PropertyRef("publicly_accessible"),
        "encrypted": PropertyRef("encrypted"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
    other_rels=(
        # reference redshift.py:99-100 — clusters join the EC2 SG space
        RelSchema(
            target_label="EC2SecurityGroup",
            rel_label="MEMBER_OF_EC2_SECURITY_GROUP",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("sg_id")}),
        ),
    ),
)

ELASTICACHE_CLUSTER_SCHEMA = NodeSchema(
    label="ElasticacheCluster",
    id=PropertyRef("arn"),
    properties={"name": PropertyRef("name"), "account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
)

ELASTICACHE_TOPIC_SCHEMA = NodeSchema(
    label="ElasticacheTopic",
    id=PropertyRef("topic_arn"),
    sub_resource_rel=account_resource_rel(),
    other_rels=(
        # reference elasticache.py:73-79 (topic)-[:CACHE_CLUSTER]->(cluster)
        RelSchema(
            target_label="ElasticacheCluster",
            rel_label="CACHE_CLUSTER",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("arn")}),
        ),
    ),
)

SECRET_SCHEMA = NodeSchema(
    label="SecretsManagerSecret",
    id=PropertyRef("arn"),
    properties={
        "name": PropertyRef("name"),
        "rotation_enabled": PropertyRef("rotation_enabled"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)


def sync_redshift(store: GraphStore, clusters: DataFrame, update_tag: int) -> None:
    load(store, "aws:redshift", update_tag, (clusters, REDSHIFT_CLUSTER_SCHEMA))


def sync_elasticache(store: GraphStore, clusters: DataFrame, update_tag: int) -> None:
    topics = clusters.where("topic_arn IS NOT NULL").select("topic_arn", "arn", "account_id")
    load(
        store,
        "aws:elasticache",
        update_tag,
        (clusters, ELASTICACHE_CLUSTER_SCHEMA),
        (topics, ELASTICACHE_TOPIC_SCHEMA),
    )


def sync_secretsmanager(store: GraphStore, secrets: DataFrame, update_tag: int) -> None:
    load(store, "aws:secretsmanager", update_tag, (secrets, SECRET_SCHEMA))
