"""DigitalOcean module: accounts, projects, droplets.

Parity map (reference cartography/intel/digitalocean/):
  * platform.py:50-60   — DOAccount{id}
  * management.py:78-96 — DOProject{id}, (DOAccount)-[:RESOURCE]->(DOProject)
  * compute.py:85-112   — DODroplet{id}, (DOProject)-[:RESOURCE]->(DODroplet)

Third distinct tenancy grammar after AWSAccount and GCPProject — the
account->project->droplet RESOURCE chain proves the sub_resource compiler is
provider-agnostic.
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

DO_ACCOUNT_SCHEMA = NodeSchema(label="DOAccount", id=PropertyRef("id"))

DO_PROJECT_SCHEMA = NodeSchema(
    label="DOProject",
    id=PropertyRef("id"),
    properties={"name": PropertyRef("name")},
    sub_resource_rel=RelSchema(
        target_label="DOAccount",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("account_id")}),
    ),
)

DO_DROPLET_SCHEMA = NodeSchema(
    label="DODroplet",
    id=PropertyRef("id"),
    properties={"name": PropertyRef("name"), "region": PropertyRef("region")},
    sub_resource_rel=RelSchema(
        target_label="DOProject",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("project_id")}),
    ),
)


def sync_digitalocean(
    store: GraphStore,
    accounts: DataFrame,
    projects: DataFrame,
    droplets: DataFrame,
    update_tag: int,
) -> None:
    load(
        store,
        "digitalocean",
        update_tag,
        (accounts, DO_ACCOUNT_SCHEMA),
        (projects, DO_PROJECT_SCHEMA),
        (droplets, DO_DROPLET_SCHEMA),
    )
