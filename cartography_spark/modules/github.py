"""GitHub module: repos, python requirements, users with case-insensitive
employee linking.

Parity:
  * repo load                    — reference github/repos.py:371-419
  * requirements -> REQUIRES     — reference github/repos.py:296-348 (text
    parsing lives in ops/textparse.py as an applyInPandas batch parser;
    this module consumes parsed rows)
  * ignore_case user matching    — reference models/core/common.py:25-35 and
    tests/unit/cartography/graph/test_querybuilder_simple.py:64-93
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cartography_spark.core.loader import compile_edges, load
from cartography_spark.core.model import (
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.core.store import GraphStore

REPO_SCHEMA = NodeSchema(
    label="GitHubRepository",
    id=PropertyRef("id"),
    properties={
        "name": PropertyRef("name"),
        "fullname": PropertyRef("fullname"),
        # round-5 flag tranche (reference intel/github/repos.py:386-400)
        "private": PropertyRef("private"),
        "archived": PropertyRef("archived"),
        "disabled": PropertyRef("disabled"),
        "primarylanguage": PropertyRef("primarylanguage"),
        "defaultbranch": PropertyRef("defaultbranch"),
        "createdat": PropertyRef("createdat"),
        "updatedat": PropertyRef("updatedat"),
    },
)

LIBRARY_SCHEMA = NodeSchema(
    label="PythonLibrary",
    id=PropertyRef("lib_id"),
    properties={"name": PropertyRef("lib_name"), "version": PropertyRef("version")},
)

REQUIRES_SCHEMA = NodeSchema(
    label="GitHubRepository",
    id=PropertyRef("repo_url"),
    other_rels=(
        RelSchema(
            target_label="PythonLibrary",
            rel_label="REQUIRES",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("lib_id")}),
        ),
    ),
)

GITHUB_USER_SCHEMA = NodeSchema(
    label="GitHubUser",
    id=PropertyRef("id"),
    properties={"username": PropertyRef("username", extra_index=True)},
    # Case-insensitive identity link: GitHub usernames are matched against
    # AWSUser names ignoring case (exercises PropertyRef.ignore_case).
    other_rels=(
        RelSchema(
            target_label="AWSUser",
            rel_label="IDENTITY_AWS",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"name": PropertyRef("username", ignore_case=True)}),
        ),
    ),
)


def sync_github(
    store: GraphStore,
    repos: DataFrame,
    requirements: DataFrame,
    users: DataFrame,
    update_tag: int,
) -> None:
    load(store, "github:repos", update_tag, (repos, REPO_SCHEMA))
    load(store, "github:libs", update_tag, (requirements, LIBRARY_SCHEMA))
    if not store.stage_done("github:requires", update_tag):
        edges = compile_edges(requirements, REQUIRES_SCHEMA, store.nodes, update_tag)
        store.upsert(None, edges, "github:requires", update_tag)
    load(store, "github:users", update_tag, (users, GITHUB_USER_SCHEMA))


# --- round-3 breadth: organization + teams with per-permission repo rels ---

ORG_SCHEMA = NodeSchema(
    label="GitHubOrganization",
    id=PropertyRef("id"),
    properties={"username": PropertyRef("username")},
)

TEAM_SCHEMA = NodeSchema(
    # Reference models/github/teams.py: GitHubTeam with one rel family per
    # permission tier, each matching GitHubRepository by id through a
    # permission-named property (null unless that tier applies) — the
    # compile inner-join drops null matches, exactly the reference's
    # conditional MatchLinks.
    label="GitHubTeam",
    id=PropertyRef("team_id"),
    properties={"name": PropertyRef("name")},
    sub_resource_rel=RelSchema(
        target_label="GitHubOrganization",
        rel_label="RESOURCE",
        direction=LinkDirection.INWARD,
        matcher=TargetNodeMatcher({"id": PropertyRef("org_url")}),
    ),
    other_rels=(
        RelSchema(
            target_label="GitHubRepository",
            rel_label="ADMIN",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("admin_repo")}),
        ),
        RelSchema(
            target_label="GitHubRepository",
            rel_label="WRITE",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("write_repo")}),
        ),
        RelSchema(
            target_label="GitHubRepository",
            rel_label="READ",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("read_repo")}),
        ),
    ),
)


def sync_github_teams(
    store: GraphStore, orgs: DataFrame, teams: DataFrame, update_tag: int
) -> None:
    """Org node first, then teams (multi-row per team — one per repo grant;
    the node dedupe window collapses them) with ADMIN/WRITE/READ edges
    (reference intel/github/teams.py sync)."""
    load(store, "github:orgs", update_tag, (orgs, ORG_SCHEMA))
    load(store, "github:teams", update_tag, (teams, TEAM_SCHEMA))
