"""Okta module: orgs, groups, users, memberships, and the Okta->AWS SAML
bridge.

Parity:
  * group/user load + MEMBER_OF_OKTA_GROUP — reference okta/groups.py:168-249
  * SAML mapping: regex-extract role + account from the group name, build
    the role ARN, join to AWSRole, MERGE ALLOWED_BY, then the multi-hop
    CAN_ASSUME_ROLE for humans — reference okta/awssaml.py:23-124.
    The reference's Python regex loop becomes a native ``regexp_extract``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.loader import compile_edges, edge_rows, load
from cartography_spark.core.model import (
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.core.store import GraphStore

ORG_SCHEMA = NodeSchema(label="OktaOrganization", id=PropertyRef("id"))

ORG_REL = RelSchema(
    target_label="OktaOrganization",
    rel_label="RESOURCE",
    direction=LinkDirection.INWARD,
    matcher=TargetNodeMatcher({"id": PropertyRef("org_id")}),
)

GROUP_SCHEMA = NodeSchema(
    label="OktaGroup",
    id=PropertyRef("id"),
    properties={"name": PropertyRef("name")},
    sub_resource_rel=ORG_REL,
)

USER_SCHEMA = NodeSchema(
    label="OktaUser",
    id=PropertyRef("id"),
    properties={
        "login": PropertyRef("login", extra_index=True),
        "first_name": PropertyRef("first_name"),
        "last_name": PropertyRef("last_name"),
        # round-5 profile tranche (reference intel/okta/users.py:135-155)
        "email": PropertyRef("email"),
        "created": PropertyRef("created"),
        "last_login": PropertyRef("last_login"),
        "password_changed": PropertyRef("password_changed"),
    },
    sub_resource_rel=ORG_REL,
)

MEMBER_SCHEMA = NodeSchema(
    label="OktaUser",
    id=PropertyRef("user_id"),
    other_rels=(
        RelSchema(
            target_label="OktaGroup",
            rel_label="MEMBER_OF_OKTA_GROUP",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("group_id")}),
        ),
    ),
)

# Group-name grammar "aws#{role}#{accountid}" (the reference's default regex
# okta/awssaml.py:23-37 parses "aws#{{accountid}}#{{role}}"-family names).
SAML_RE = r"^aws#([^#]+)#(\d{12})$"


def sync_okta(
    store: GraphStore,
    orgs: DataFrame,
    groups: DataFrame,
    users: DataFrame,
    members: DataFrame,
    update_tag: int,
) -> None:
    load(store, "okta:orgs", update_tag, (orgs, ORG_SCHEMA))
    load(store, "okta:groups", update_tag, (groups, GROUP_SCHEMA))
    load(store, "okta:users", update_tag, (users, USER_SCHEMA))
    if not store.stage_done("okta:members", update_tag):
        store.upsert(
            None,
            compile_edges(members, MEMBER_SCHEMA, store.nodes, update_tag),
            "okta:members",
            update_tag,
        )


def sync_saml(store: GraphStore, update_tag: int) -> None:
    """(AWSRole)<-[:ALLOWED_BY]-(OktaGroup) from group-name regex, then the
    transitive (OktaUser)-[:CAN_ASSUME_ROLE]->(AWSRole) hop."""
    stage = "okta:saml"
    if store.stage_done(stage, update_tag):
        return
    nodes = store.nodes(labels=["OktaGroup", "AWSRole"])
    groups = nodes.where(F.col("label") == "OktaGroup").select(
        F.col("id").alias("group_id"), F.element_at("props", "name").alias("gname")
    )
    mapped = groups.select(
        "group_id",
        F.concat(
            F.lit("arn:aws:iam::"),
            F.regexp_extract("gname", SAML_RE, 2),
            F.lit(":role/"),
            F.regexp_extract("gname", SAML_RE, 1),
        ).alias("role_arn"),
    ).where(F.regexp_extract("gname", SAML_RE, 2) != "")

    roles = nodes.where(F.col("label") == "AWSRole").select(F.col("id").alias("role_arn"))
    allowed = mapped.join(F.broadcast(roles), "role_arn", "inner")

    allowed_edges = edge_rows(
        allowed, "role_arn", "AWSRole", "ALLOWED_BY", "group_id", "OktaGroup", update_tag
    )

    # Multi-hop: user -MEMBER_OF_OKTA_GROUP-> group -ALLOWED_BY- role
    memb = store.edges(rel_labels=["MEMBER_OF_OKTA_GROUP"]).select(
        F.col("src_id").alias("user_id"), F.col("dst_id").alias("group_id")
    )
    can_assume = edge_rows(
        memb.join(F.broadcast(allowed), "group_id"),
        "user_id", "OktaUser", "CAN_ASSUME_ROLE", "role_arn", "AWSRole", update_tag,
    )
    store.upsert(None, allowed_edges.unionByName(can_assume), stage, update_tag)


# --- round-3 breadth: applications, factors, admin roles, trusted origins ---

APPLICATION_SCHEMA = NodeSchema(
    label="OktaApplication",
    id=PropertyRef("id"),
    properties={"name": PropertyRef("name"), "app_label": PropertyRef("label")},
    sub_resource_rel=ORG_REL,
    other_rels=(
        # (group)-[:APPLICATION]->(app) — reference applications.py:336-342
        RelSchema(
            target_label="OktaGroup",
            rel_label="APPLICATION",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("group_id")}),
        ),
    ),
)

REPLY_URI_SCHEMA = NodeSchema(
    # (uri:ReplyUri)<-[:REPLYURI]-(app) — reference applications.py:370-379
    label="ReplyUri",
    id=PropertyRef("reply_uri"),
    other_rels=(
        RelSchema(
            target_label="OktaApplication",
            rel_label="REPLYURI",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("id")}),
        ),
    ),
)

APP_USER_SCHEMA = NodeSchema(
    # (user)-[:APPLICATION]->(app) — reference applications.py:304-311
    label="OktaUser",
    id=PropertyRef("user_id"),
    other_rels=(
        RelSchema(
            target_label="OktaApplication",
            rel_label="APPLICATION",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("app_id")}),
        ),
    ),
)

FACTOR_SCHEMA = NodeSchema(
    # OktaUserFactor{id}, (user)-[:FACTOR]->(factor) — factors.py:107-121
    label="OktaUserFactor",
    id=PropertyRef("factor_id"),
    properties={
        "factor_type": PropertyRef("factor_type"),
        "provider": PropertyRef("provider"),
    },
    other_rels=(
        RelSchema(
            target_label="OktaUser",
            rel_label="FACTOR",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("user_id")}),
        ),
    ),
)

ADMIN_ROLE_SCHEMA = NodeSchema(
    # OktaAdministrationRole{id: role type} is SHARED across grantees
    # (roles.py:99-141 MERGEs by type) — the compiler's dedupe-by-key window
    # collapses the per-grant rows into one node per type.
    label="OktaAdministrationRole",
    id=PropertyRef("role_type"),
    properties={"label": PropertyRef("role_label")},
    sub_resource_rel=ORG_REL,
    other_rels=(
        RelSchema(
            target_label="OktaUser",
            rel_label="MEMBER_OF_OKTA_ROLE",
            direction=LinkDirection.INWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("user_id")}),
        ),
    ),
)

TRUSTED_ORIGIN_SCHEMA = NodeSchema(
    # OktaTrustedOrigin{id} — origins.py:77-93
    label="OktaTrustedOrigin",
    id=PropertyRef("origin_id"),
    properties={"name": PropertyRef("name"), "origin": PropertyRef("origin_url")},
    sub_resource_rel=ORG_REL,
)


def sync_okta_breadth(
    store: GraphStore,
    applications: DataFrame,
    app_users: DataFrame,
    factors: DataFrame,
    admin_roles: DataFrame,
    origins: DataFrame,
    update_tag: int,
) -> None:
    """Applications (+reply URIs, +group/user assignments), MFA factors,
    admin roles, trusted origins — the reference's remaining okta/ modules
    (applications.py, factors.py, roles.py, origins.py)."""
    load(
        store,
        "okta:applications",
        update_tag,
        (applications, APPLICATION_SCHEMA),
        (applications, REPLY_URI_SCHEMA),
    )
    if not store.stage_done("okta:app_links", update_tag):
        # APP_USER_SCHEMA's label is OktaUser: a load would write user rows,
        # so the user->app edges stay a hand-written upsert
        store.upsert(
            None,
            compile_edges(app_users, APP_USER_SCHEMA, store.nodes, update_tag),
            "okta:app_links",
            update_tag,
        )
    load(store, "okta:factors", update_tag, (factors, FACTOR_SCHEMA))
    load(store, "okta:roles", update_tag, (admin_roles, ADMIN_ROLE_SCHEMA))
    load(store, "okta:origins", update_tag, (origins, TRUSTED_ORIGIN_SCHEMA))
