"""Azure module: subscriptions + virtual machines.

Second non-AWS provider (with modules/gcp.py) — Azure's id grammar is
path-style resource URIs, exercising the schema compiler on yet another
naming scheme.

Parity map (reference cartography/intel/azure/):
  * subscriptions (subscription.py:63-81) — AzureSubscription{id}
  * virtual machines (compute.py:84-132) — AzureVirtualMachine{id: resource
    URI}, (AzureSubscription)-[:RESOURCE]->(AzureVirtualMachine)
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

AZURE_SUBSCRIPTION_SCHEMA = NodeSchema(
    label="AzureSubscription",
    id=PropertyRef("subscription_id"),
    properties={"name": PropertyRef("name")},
)

AZURE_VM_SCHEMA = NodeSchema(
    label="AzureVirtualMachine",
    id=PropertyRef("vm_id"),
    properties={"name": PropertyRef("name"), "location": PropertyRef("location")},
    sub_resource_rel=RelSchema(
        target_label="AzureSubscription",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("subscription_id")}),
    ),
)


def sync_azure(
    store: GraphStore, subscriptions: DataFrame, vms: DataFrame, update_tag: int
) -> None:
    load(store, "azure:subscriptions", update_tag, (subscriptions, AZURE_SUBSCRIPTION_SCHEMA))
    load(store, "azure:vms", update_tag, (vms, AZURE_VM_SCHEMA))


# --- storage + SQL families (reference storage.py, sql.py) -----------------

AZURE_STORAGE_ACCOUNT_SCHEMA = NodeSchema(
    label="AzureStorageAccount",
    id=PropertyRef("account_id"),
    properties={"name": PropertyRef("name")},
    sub_resource_rel=RelSchema(
        target_label="AzureSubscription",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("subscription_id")}),
    ),
)

AZURE_BLOB_SERVICE_SCHEMA = NodeSchema(
    label="AzureStorageBlobService",
    id=PropertyRef("blob_service_id"),
    other_rels=(
        # (account)-[:USES]->(blob service), reference storage.py:367-373
        RelSchema(
            target_label="AzureStorageAccount",
            rel_label="USES",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("account_id")}),
        ),
    ),
)

AZURE_BLOB_CONTAINER_SCHEMA = NodeSchema(
    label="AzureStorageBlobContainer",
    id=PropertyRef("container_id"),
    properties={"name": PropertyRef("name"), "public_access": PropertyRef("public_access")},
    other_rels=(
        # (blob service)-[:CONTAINS]->(container), reference storage.py:540-560
        RelSchema(
            target_label="AzureStorageBlobService",
            rel_label="CONTAINS",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("blob_service_id")}),
        ),
    ),
)

AZURE_SQL_SERVER_SCHEMA = NodeSchema(
    label="AzureSQLServer",
    id=PropertyRef("server_id"),
    properties={"name": PropertyRef("name")},
    sub_resource_rel=RelSchema(
        target_label="AzureSubscription",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("subscription_id")}),
    ),
)

AZURE_SQL_DATABASE_SCHEMA = NodeSchema(
    label="AzureSQLDatabase",
    id=PropertyRef("db_id"),
    properties={"name": PropertyRef("name")},
    other_rels=(
        RelSchema(
            target_label="AzureSQLServer",
            rel_label="RESOURCE",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("server_id")}),
        ),
    ),
)


def sync_azure_storage_sql(
    store: GraphStore,
    storage_accounts: DataFrame,
    blob_containers: DataFrame,
    sql_servers: DataFrame,
    sql_databases: DataFrame,
    update_tag: int,
) -> None:
    """Storage account -> blob service -> container chain and SQL server ->
    database family (reference storage.py / sql.py sync order)."""
    blob_services = blob_containers.select("blob_service_id", "account_id").distinct()
    load(
        store,
        "azure:storage_sql",
        update_tag,
        (storage_accounts, AZURE_STORAGE_ACCOUNT_SCHEMA),
        (blob_services, AZURE_BLOB_SERVICE_SCHEMA),
        (blob_containers, AZURE_BLOB_CONTAINER_SCHEMA),
        (sql_servers, AZURE_SQL_SERVER_SCHEMA),
        (sql_databases, AZURE_SQL_DATABASE_SCHEMA),
    )


# --- round-3 depth: CosmosDB ------------------------------------------------

COSMOS_ACCOUNT_SCHEMA = NodeSchema(
    # reference intel/azure/cosmosdb.py:85-112
    label="AzureCosmosDBAccount",
    id=PropertyRef("account_id"),
    properties={"name": PropertyRef("name"), "kind": PropertyRef("kind")},
    sub_resource_rel=RelSchema(
        target_label="AzureSubscription",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("subscription_id")}),
    ),
    other_rels=(
        # (account)-[:CAN_WRITE_FROM]->(loc) / CAN_READ_FROM — the location
        # nodes use the reference's "{account_id}-{location}" id grammar
        # (cosmosdb.py:156-202)
        RelSchema(
            target_label="AzureCosmosDBLocation",
            rel_label="CAN_WRITE_FROM",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("write_loc")}),
        ),
        RelSchema(
            target_label="AzureCosmosDBLocation",
            rel_label="CAN_READ_FROM",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("read_loc")}),
        ),
    ),
)

COSMOS_WRITE_LOC_SCHEMA = NodeSchema(
    label="AzureCosmosDBLocation", id=PropertyRef("write_loc")
)
COSMOS_READ_LOC_SCHEMA = NodeSchema(
    label="AzureCosmosDBLocation", id=PropertyRef("read_loc")
)

COSMOS_SQL_DB_SCHEMA = NodeSchema(
    # cosmosdb.py:624-633: (account)-[:CONTAINS]->(sqldb)
    label="AzureCosmosDBSqlDatabase",
    id=PropertyRef("db_id"),
    other_rels=(
        RelSchema(
            target_label="AzureCosmosDBAccount",
            rel_label="CONTAINS",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("account_id")}),
        ),
    ),
)

COSMOS_MONGO_DB_SCHEMA = NodeSchema(
    # cosmosdb.py:680-689
    label="AzureCosmosDBMongoDBDatabase",
    id=PropertyRef("db_id"),
    other_rels=(
        RelSchema(
            target_label="AzureCosmosDBAccount",
            rel_label="CONTAINS",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("account_id")}),
        ),
    ),
)

COSMOS_SQL_CONTAINER_SCHEMA = NodeSchema(
    # cosmosdb.py:805-820: (sqldb)-[:CONTAINS]->(container)
    label="AzureCosmosDBSqlContainer",
    id=PropertyRef("container_id"),
    other_rels=(
        RelSchema(
            target_label="AzureCosmosDBSqlDatabase",
            rel_label="CONTAINS",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("db_id")}),
        ),
    ),
)

COSMOS_MONGO_COLLECTION_SCHEMA = NodeSchema(
    # cosmosdb.py:1012-1023
    label="AzureCosmosDBMongoDBCollection",
    id=PropertyRef("container_id"),
    other_rels=(
        RelSchema(
            target_label="AzureCosmosDBMongoDBDatabase",
            rel_label="CONTAINS",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("db_id")}),
        ),
    ),
)


def sync_cosmosdb(
    store: GraphStore,
    accounts: DataFrame,
    databases: DataFrame,
    update_tag: int,
) -> None:
    """Accounts + location nodes first, then databases (split by account
    kind into SQL / Mongo families), then containers/collections — the
    reference's CONTAINS chain order (cosmosdb.py sync_database_account →
    sql_databases → containers)."""
    from pyspark.sql import functions as F

    load(
        store,
        "azure:cosmosdb:accounts",
        update_tag,
        (accounts, COSMOS_ACCOUNT_SCHEMA),
        (accounts, COSMOS_WRITE_LOC_SCHEMA),
        (accounts, COSMOS_READ_LOC_SCHEMA),
    )
    if not store.stage_done("azure:cosmosdb:databases", update_tag):
        sql = databases.where(F.col("db_kind") == "sql")
        mongo = databases.where(F.col("db_kind") == "mongo")
        sql_dbs = sql.select("db_id", "account_id").distinct()
        mongo_dbs = mongo.select("db_id", "account_id").distinct()
        nodes = (
            compile_nodes(sql_dbs, COSMOS_SQL_DB_SCHEMA, update_tag, dedupe=False)
            .unionByName(compile_nodes(mongo_dbs, COSMOS_MONGO_DB_SCHEMA, update_tag, dedupe=False))
            .unionByName(compile_nodes(sql, COSMOS_SQL_CONTAINER_SCHEMA, update_tag, dedupe=False))
            .unionByName(compile_nodes(mongo, COSMOS_MONGO_COLLECTION_SCHEMA, update_tag, dedupe=False))
        )
        live = live_view(store, nodes)
        edges = (
            compile_edges(sql_dbs, COSMOS_SQL_DB_SCHEMA, live, update_tag)
            .unionByName(compile_edges(mongo_dbs, COSMOS_MONGO_DB_SCHEMA, live, update_tag))
            .unionByName(compile_edges(sql, COSMOS_SQL_CONTAINER_SCHEMA, live, update_tag))
            .unionByName(compile_edges(mongo, COSMOS_MONGO_COLLECTION_SCHEMA, live, update_tag))
        )
        store.upsert(nodes, edges, "azure:cosmosdb:databases", update_tag)
