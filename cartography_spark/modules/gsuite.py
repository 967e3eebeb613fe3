"""GSuite module: users, groups, nested memberships, effective membership.

Parity map (reference cartography/intel/gsuite/api.py):
  * groups (api.py:130-150)  — GSuiteGroup{id} with email
  * users (api.py:152-186)   — GSuiteUser{id} with email
  * memberships (api.py:188-214) — (GSuiteUser)-[:MEMBER_GSUITE_GROUP]->
    (GSuiteGroup) AND (GSuiteGroup)-[:MEMBER_GSUITE_GROUP]->(GSuiteGroup)
    (nested groups)

Beyond the reference's direct edges, ``effective_memberships`` expands the
nested-group graph to (user, ancestor-group) closure — the query a consumer
actually asks ("who is effectively in group X?").  The expansion is an
iterative semi-join with a fixpoint check, the standard Spark shape for
bounded-depth transitive closure: each round joins the frontier against the
dimension-sized group->parent table (broadcast), so rounds are narrow
map-side jobs, not full shuffles; real org trees are depth<=10 so the round
count is tiny and deterministic.
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

GSUITE_GROUP_SCHEMA = NodeSchema(
    label="GSuiteGroup",
    id=PropertyRef("id"),
    properties={"email": PropertyRef("email")},
    other_rels=(
        # nested group membership: (child group)-[:MEMBER_GSUITE_GROUP]->(parent)
        RelSchema(
            target_label="GSuiteGroup",
            rel_label="MEMBER_GSUITE_GROUP",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("parent_id")}),
        ),
    ),
)

GSUITE_USER_SCHEMA = NodeSchema(
    label="GSuiteUser",
    id=PropertyRef("id"),
    properties={"email": PropertyRef("email"), "name": PropertyRef("name")},
    other_rels=(
        # direct membership: user -> the group of their nation
        RelSchema(
            target_label="GSuiteGroup",
            rel_label="MEMBER_GSUITE_GROUP",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("group_id")}),
        ),
    ),
)


def _users_with_group(users: DataFrame) -> DataFrame:
    return users.withColumn(
        "group_id", F.concat(F.lit("ggroup-"), F.col("nationkey").cast("string"))
    )


def effective_memberships(
    users: DataFrame, groups: DataFrame, max_depth: int = 10
) -> DataFrame:
    """(user_id, group_id) transitive closure through nested groups.

    users must carry ``group_id`` (direct membership); groups carry
    ``parent_id``.  Iterates frontier x broadcast(parent-map) until no new
    pairs appear (fixpoint) or max_depth rounds.
    """
    parents = groups.where(F.col("parent_id").isNotNull()).select(
        F.col("id").alias("group_id"), F.col("parent_id")
    )
    closure = users.select(F.col("id").alias("user_id"), "group_id")
    frontier = closure
    for _ in range(max_depth):
        # localCheckpoint cuts lineage each round (same discipline as
        # kg/canonicalize.py's connected-components loop): without it round
        # N re-executes an O(N)-deep plan — O(depth^2) total work — and the
        # isEmpty() action below would re-derive every earlier frontier.
        # At cluster scale this cut would be a write to reliable storage.
        nxt = (
            frontier.join(F.broadcast(parents), "group_id")
            .select("user_id", F.col("parent_id").alias("group_id"))
            .exceptAll(closure)
            .distinct()
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        closure = closure.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return closure


def sync_gsuite(
    store: GraphStore, users: DataFrame, groups: DataFrame, update_tag: int
) -> None:
    load(
        store,
        "gsuite",
        update_tag,
        (groups, GSUITE_GROUP_SCHEMA),
        (_users_with_group(users), GSUITE_USER_SCHEMA),
    )
