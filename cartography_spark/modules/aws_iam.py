"""IAM module: users, groups, roles, trust edges, memberships, policies.

Parity map (reference cartography/intel/aws/iam.py):
  * users/groups/roles load           — iam.py:244-315
  * trust-principal explode + TRUSTS_AWS_PRINCIPAL + synthesized
    AWSAccount/AWSPrincipal stubs     — iam.py:318-400, arn account
    extraction iam.py:832-845 (here a native regexp_extract, no Python)
  * group membership + transitive
    group-policy passthrough          — iam.py:403-426
  * policies + statements             — iam.py:537-660
  * STS_ASSUMEROLE_ALLOW derivation   — iam.py:448-493
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.loader import compile_edges, compile_nodes, edge_rows, load
from cartography_spark.core.model import (
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.core.store import GraphStore
from cartography_spark.modules.aws_base import account_resource_rel

# Every label that can carry the AWSPrincipal identity (the three principal
# schemas bind it as an extra label; bare stubs use it as the primary label).
# Reads that resolve "any principal" prune to these slices.
PRINCIPAL_LABELS = ["AWSPrincipal", "AWSUser", "AWSGroup", "AWSRole"]

USER_SCHEMA = NodeSchema(
    label="AWSUser",
    id=PropertyRef("arn"),
    extra_labels=("AWSPrincipal",),
    properties={
        "name": PropertyRef("name"),
        "email": PropertyRef("email", extra_index=True),
        "userid": PropertyRef("userid"),
        "path": PropertyRef("path"),
        "account_id": PropertyRef("account_id"),
    },
    sub_resource_rel=account_resource_rel(),
)

GROUP_SCHEMA = NodeSchema(
    label="AWSGroup",
    id=PropertyRef("arn"),
    extra_labels=("AWSPrincipal",),
    properties={"name": PropertyRef("name"), "account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
)

ROLE_SCHEMA = NodeSchema(
    label="AWSRole",
    id=PropertyRef("arn"),
    extra_labels=("AWSPrincipal",),
    properties={
        "name": PropertyRef("name"),
        "account_id": PropertyRef("account_id"),
        # reference AWSRole schema high-traffic properties
        "path": PropertyRef("path"),
        "createdate": PropertyRef("createdate"),
    },
    sub_resource_rel=account_resource_rel(),
)

MEMBERSHIP_SCHEMA = NodeSchema(
    # Declared on the user side: (AWSUser)-[:MEMBER_AWS_GROUP]->(AWSGroup).
    label="AWSUser",
    id=PropertyRef("user_arn"),
    other_rels=(
        RelSchema(
            target_label="AWSGroup",
            rel_label="MEMBER_AWS_GROUP",
            direction=LinkDirection.OUTWARD,
            matcher=TargetNodeMatcher({"id": PropertyRef("group_arn")}),
        ),
    ),
)

POLICY_SCHEMA = NodeSchema(
    label="AWSPolicy",
    id=PropertyRef("policy_id"),
    properties={"name": PropertyRef("name"), "principal_arn": PropertyRef("principal_arn")},
)

STATEMENT_SCHEMA = NodeSchema(
    label="AWSPolicyStatement",
    id=PropertyRef("statement_id"),
    properties={
        "effect": PropertyRef("effect"),
        "action": PropertyRef("action"),
        "resource": PropertyRef("resource"),
    },
)

# Bare stubs the trust explode synthesizes (reference iam.py:318-400): trusted
# principal ARNs no module loads, and the accounts those ARNs name.  Bound to
# the exploded trust frame's ``principal``/``ptype``/``acct`` columns.
PRINCIPAL_STUB_SCHEMA = NodeSchema(
    label="AWSPrincipal",
    id=PropertyRef("principal"),
    properties={"type": PropertyRef("ptype")},
)

ACCOUNT_STUB_SCHEMA = NodeSchema(label="AWSAccount", id=PropertyRef("acct"))

ARN_ACCOUNT_RE = r"^arn:aws:[^:]*::?(\d{12}):"


def arn_account(col) -> F.Column:
    """Account id embedded in an ARN (native regexp — reference does this in
    per-row Python at iam.py:832-845)."""
    return F.regexp_extract(col, ARN_ACCOUNT_RE, 1)


def sync_principals(
    store: GraphStore,
    users: DataFrame,
    groups: DataFrame,
    roles: DataFrame,
    update_tag: int,
) -> None:
    """Load user/group/role nodes + RESOURCE edges in one commit each."""
    load(store, "aws:iam:users", update_tag, (users, USER_SCHEMA))
    load(store, "aws:iam:groups", update_tag, (groups, GROUP_SCHEMA))
    load(store, "aws:iam:roles", update_tag, (roles.drop("trust_principals"), ROLE_SCHEMA))


def sync_role_trusts(store: GraphStore, roles: DataFrame, update_tag: int) -> None:
    """Explode trust principals; upsert AWSPrincipal stubs + synthesized
    cross-account AWSAccount stubs; emit TRUSTS_AWS_PRINCIPAL edges.

    Parity: iam.py:318-400 (ingest_policy_statement / ingest_spnmap_statement).
    The synthesized account is derived from the principal ARN and attached
    via RESOURCE, exactly as the reference backfills foreign accounts.
    """
    stage = "aws:iam:trusts"
    if store.stage_done(stage, update_tag):
        return
    t = roles.select(
        F.col("arn").alias("role_arn"), F.explode("trust_principals").alias("p")
    ).select(
        "role_arn",
        F.col("p.type").alias("ptype"),
        F.col("p.value").alias("principal"),
    )

    # Reference parity: MERGE (:AWSPrincipal{arn}) MATCHES an existing
    # AWSUser/AWSRole through the shared extra label (iam.py:318-400) — a
    # role trusting a real principal must bind to that node, not a stub.
    # Resolve each trusted ARN against live principal nodes first; stubs are
    # created only for genuinely unknown ARNs (:root, service principals).
    existing_principals = (
        store.nodes(labels=PRINCIPAL_LABELS)
        .where(
            (F.col("label") == "AWSPrincipal")
            | F.array_contains(F.coalesce("extra_labels", F.array()), "AWSPrincipal")
        )
        .select(F.col("id").alias("principal"), F.col("label").alias("p_label"))
    )
    t = t.join(F.broadcast(existing_principals), ["principal"], "left").withColumn(
        "dst_label", F.coalesce(F.col("p_label"), F.lit("AWSPrincipal"))
    )

    # Stub rows are (re-)emitted for unknown ARNs AND for previously-created
    # stubs: the reference's MERGE stamps lastupdated on match every run
    # (iam.py:358-367), which is what keeps live stubs clear of cleanup.
    # Matched real principals (AWSUser/AWSRole/...) are stamped by their own
    # module's sync and are NOT re-emitted here.
    stubs = t.where(F.col("p_label").isNull() | (F.col("p_label") == "AWSPrincipal"))
    spn_nodes = compile_nodes(stubs, PRINCIPAL_STUB_SCHEMA, update_tag)

    # Foreign-account backfill applies to stub principals only: a matched
    # real principal already carries its own RESOURCE edge from its module
    # (re-emitting here with dst_label='AWSPrincipal' would clobber it,
    # since EDGE_KEY does not include labels).
    foreign = stubs.withColumn("acct", arn_account(F.col("principal"))).where(
        F.col("acct") != ""
    )
    acct_nodes = compile_nodes(foreign, ACCOUNT_STUB_SCHEMA, update_tag)

    # Synthesized accounts re-MERGE every run (the reference only sets
    # lastupdated on them, iam.py:358-367): upsert's per-key props merge
    # keeps a real account's props intact (the stub row's NULL props add no
    # keys), so no anti-join is needed — and the fresh lastupdated is what
    # keeps still-referenced foreign accounts clear of scoped cleanup.

    trust_edges = edge_rows(
        t, "role_arn", "AWSRole", "TRUSTS_AWS_PRINCIPAL", "principal", None, update_tag
    )
    resource_edges = edge_rows(
        foreign, "acct", "AWSAccount", "RESOURCE", "principal", "AWSPrincipal", update_tag
    )
    store.upsert(
        spn_nodes.unionByName(acct_nodes),
        trust_edges.unionByName(resource_edges),
        stage,
        update_tag,
    )


def sync_memberships(store: GraphStore, memberships: DataFrame, update_tag: int) -> None:
    """MEMBER_AWS_GROUP edges + transitive group-policy passthrough.

    Parity: iam.py:403-426 — the reference also copies (group)-[:POLICY]->(p)
    onto each member user at load time; the transitive copy is one join of
    memberships x group POLICY edges.
    """
    stage = "aws:iam:memberships"
    if store.stage_done(stage, update_tag):
        return
    edges = compile_edges(memberships, MEMBERSHIP_SCHEMA, store.nodes, update_tag)

    group_policy = store.edges(rel_labels=["POLICY"]).where(
        F.col("src_label") == "AWSGroup"
    )
    passthrough = edge_rows(
        memberships.join(group_policy, memberships["group_arn"] == group_policy["src_id"]),
        "user_arn", "AWSUser", "POLICY", "dst_id", None, update_tag,
    )
    store.upsert(None, edges.unionByName(passthrough), stage, update_tag)


def sync_policies(
    store: GraphStore, policies: DataFrame, statements: DataFrame, update_tag: int
) -> None:
    """Policy + statement nodes; (principal)-[:POLICY]->(policy) and
    (policy)-[:STATEMENT]->(statement) edges.  Parity: iam.py:537-660."""
    stage = "aws:iam:policies"
    if store.stage_done(stage, update_tag):
        return
    pol_nodes = compile_nodes(policies, POLICY_SCHEMA, update_tag)
    stmt_nodes = compile_nodes(statements, STATEMENT_SCHEMA, update_tag)

    principals = store.nodes(labels=PRINCIPAL_LABELS).where(
        F.array_contains(F.coalesce("extra_labels", F.array()), "AWSPrincipal")
        | (F.col("label") == "AWSPrincipal")
    ).select(F.col("id").alias("p_id"), F.col("label").alias("src_label"))

    pol_edges = edge_rows(
        policies.join(F.broadcast(principals), policies["principal_arn"] == F.col("p_id")),
        "p_id", None, "POLICY", "policy_id", "AWSPolicy", update_tag,
    )
    stmt_edges = edge_rows(
        statements, "policy_id", "AWSPolicy", "STATEMENT", "statement_id",
        "AWSPolicyStatement", update_tag,
    )
    store.upsert(
        pol_nodes.unionByName(stmt_nodes),
        pol_edges.unionByName(stmt_edges),
        stage,
        update_tag,
    )
