"""Bulk graph build: the whole sync's nodes+edges as two DataFrames, one
snapshot commit.

``pipeline.run_sync`` mirrors the reference's stage-by-stage commits (each
stage checkpointed, resumable).  At 10^12-doc scale the per-stage pattern is
what Iceberg MERGE INTO makes cheap (only changed files rewritten); on the
sandbox's plain-parquet store each commit rewrites the tables, so the bulk
path exists for (a) benchmarks measuring compute rather than commit count
and (b) cold-start initial loads, where one commit is the right shape
anyway.  Scope: the bulk builder covers the core AWS IAM/EMR/S3 + Okta +
documents family set (the benchmark slice); the staged ``run_sync`` is the
full provider surface.  The shared families use the same schemas and row
templates (``compile_nodes``/``compile_edges``/``edge_rows``), and POLICY
edges resolve their principal the way ``sync_policies`` does, but the two
paths are not the same program: bulk ``S3Bucket`` rows carry 2 of
``sync_s3``'s 5 props (``S3_SCHEMA``), and bulk trust edges skip the staged
path's principal resolution (every trusted ARN becomes an ``AWSPrincipal``
stub).  They give the same triples on the fixtures only because every
fixture trust principal is a ``:root`` or service ARN, which the staged path
leaves as a stub too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.core.loader import EDGE_KEY, compile_edges, compile_nodes, edge_rows
from cartography_spark.core.model import NodeSchema, PropertyRef
from cartography_spark.modules.aws_base import ACCOUNT_SCHEMA, account_resource_rel
from cartography_spark.modules.aws_emr import EMR_CLUSTER_SCHEMA
from cartography_spark.modules.aws_iam import (
    ACCOUNT_STUB_SCHEMA,
    GROUP_SCHEMA,
    MEMBERSHIP_SCHEMA,
    POLICY_SCHEMA,
    PRINCIPAL_STUB_SCHEMA,
    ROLE_SCHEMA,
    STATEMENT_SCHEMA,
    USER_SCHEMA,
    arn_account,
)
from cartography_spark.modules.okta import (
    GROUP_SCHEMA as OKTA_GROUP_SCHEMA,
    MEMBER_SCHEMA as OKTA_MEMBER_SCHEMA,
    ORG_SCHEMA as OKTA_ORG_SCHEMA,
    SAML_RE,
    USER_SCHEMA as OKTA_USER_SCHEMA,
)
from cartography_spark.modules.aws_tags import TAG_SCHEMA
from cartography_spark.sources import fixtures as fx

S3_SCHEMA = NodeSchema(
    label="S3Bucket",
    id=PropertyRef("arn"),
    properties={"name": PropertyRef("name"), "account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
)


def build_graph(
    spark: SparkSession, sf_dir: str, update_tag: int, with_documents: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) for the full sync, computed without a store."""
    accounts = fx.aws_accounts(spark, sf_dir)
    users = fx.iam_users(spark, sf_dir)
    groups = fx.iam_groups(spark, sf_dir)
    roles = fx.iam_roles(spark, sf_dir)
    memberships = fx.iam_group_memberships(spark, sf_dir)
    clusters = fx.emr_clusters(spark, sf_dir)
    buckets = fx.s3_buckets(spark, sf_dir)
    policies = fx.iam_policies(spark, sf_dir)
    statements = fx.iam_policy_statements(spark, sf_dir)
    tags = fx.resource_tags(spark, sf_dir)
    o_orgs, o_groups = fx.okta_orgs(spark, sf_dir), fx.okta_groups(spark, sf_dir)
    o_users, o_members = fx.okta_users(spark, sf_dir), fx.okta_group_members(spark, sf_dir)

    tag = update_tag
    # compiled once, reused by both the node union and the edge-phase target
    # lookups below — each compile_nodes costs ~20 ms of driver py4j latency.
    # dedupe=False wherever a family id is an injective formula over a
    # distinct source key (custkey/suppkey/nationkey/regionkey PKs, or an
    # explicit .distinct() for groups/buckets/foreign accounts), so the
    # MERGE-collapse window is a no-op — skipping it removes one exchange+sort
    # per family from the node-union materialization (same contract as
    # fixture_nodes in kg/materialize.py; uniqueness asserted per family by
    # tests/test_bulk.py::test_bulk_family_ids_unique).  Principal and tag
    # stubs repeat once per trusting role / tagged resource and keep it.
    acct_node_df = compile_nodes(accounts, ACCOUNT_SCHEMA, tag, {"inscope": "true"}, dedupe=False)
    group_node_df = compile_nodes(groups, GROUP_SCHEMA, tag, dedupe=False)
    okta_org_node_df = compile_nodes(o_orgs, OKTA_ORG_SCHEMA, tag, dedupe=False)
    okta_group_node_df = compile_nodes(o_groups, OKTA_GROUP_SCHEMA, tag, dedupe=False)
    node_parts = [
        acct_node_df,
        compile_nodes(users, USER_SCHEMA, tag, dedupe=False),
        group_node_df,
        compile_nodes(roles.drop("trust_principals"), ROLE_SCHEMA, tag, dedupe=False),
        compile_nodes(clusters, EMR_CLUSTER_SCHEMA, tag, dedupe=False),
        compile_nodes(buckets, S3_SCHEMA, tag, dedupe=False),
        compile_nodes(policies, POLICY_SCHEMA, tag, dedupe=False),
        compile_nodes(statements, STATEMENT_SCHEMA, tag, dedupe=False),
        okta_org_node_df,
        okta_group_node_df,
        compile_nodes(o_users, OKTA_USER_SCHEMA, tag, dedupe=False),
    ]

    # trust principals + synthesized foreign accounts
    trusts = roles.select(
        F.col("arn").alias("role_arn"), F.explode("trust_principals").alias("p")
    ).select("role_arn", F.col("p.type").alias("ptype"), F.col("p.value").alias("principal"))
    spn_nodes = compile_nodes(trusts, PRINCIPAL_STUB_SCHEMA, tag)
    foreign = trusts.withColumn("acct", arn_account(F.col("principal"))).where(F.col("acct") != "")
    known = accounts.select(F.col("id").alias("acct"))
    acct_nodes = compile_nodes(
        foreign.select("acct").distinct().join(known, ["acct"], "left_anti"),
        ACCOUNT_STUB_SCHEMA,
        tag,
        dedupe=False,
    )
    # tag nodes
    tag_ex = tags.select("ResourceARN", F.explode("Tags").alias("t")).select(
        "ResourceARN",
        F.concat(F.col("t.Key"), F.lit(":"), F.col("t.Value")).alias("tag_id"),
        F.col("t.Key").alias("key"),
        F.col("t.Value").alias("value"),
    )
    tag_nodes = compile_nodes(tag_ex, TAG_SCHEMA, tag)

    nodes = node_parts[0]
    for p in node_parts[1:] + [spn_nodes, acct_nodes, tag_nodes]:
        nodes = nodes.unionByName(p)
    # No consolidating repartition (r6): with dedupe=False the family
    # branches are scan-split-sized narrow projections (1-2 partitions each,
    # not a 32-partition window exchange per family), so the narrow union
    # stays at a few dozen partitions — the full-node-set shuffle that used
    # to consolidate it cost more than the task-count it saved (measured at
    # sf0.1: graph_commit 7.6 -> 5.5 s).  The three synthesized branches
    # (spn/acct/tag) end in AQE-coalesced exchanges, and every consumer of
    # the checkpoint re-keys for itself (the store write repartitions on
    # (label, id); dictionary/canonicalization aggregate on their own keys).

    # ---- edges --------------------------------------------------------------
    edge_parts = [
        compile_edges(users, USER_SCHEMA, acct_node_df, tag),
        compile_edges(groups, GROUP_SCHEMA, acct_node_df, tag),
        compile_edges(roles.drop("trust_principals"), ROLE_SCHEMA, acct_node_df, tag),
        compile_edges(clusters, EMR_CLUSTER_SCHEMA, acct_node_df, tag),
        compile_edges(buckets, S3_SCHEMA, acct_node_df, tag),
        compile_edges(memberships, MEMBERSHIP_SCHEMA, group_node_df, tag),
        compile_edges(o_groups, OKTA_GROUP_SCHEMA, okta_org_node_df, tag),
        compile_edges(o_users, OKTA_USER_SCHEMA, okta_org_node_df, tag),
        compile_edges(o_members, OKTA_MEMBER_SCHEMA, okta_group_node_df, tag),
        edge_rows(
            trusts, "role_arn", "AWSRole", "TRUSTS_AWS_PRINCIPAL", "principal", "AWSPrincipal",
            tag, dedupe=False,
        ),
        edge_rows(
            foreign, "acct", "AWSAccount", "RESOURCE", "principal", "AWSPrincipal", tag,
            dedupe=False,
        ),
        # POLICY edges resolve src_label from the matched principal (parity
        # with sync_policies' principal join) — a policy attached to a user
        # or group binds to that node, and unmatched principal_arns prune out.
        edge_rows(
            policies.join(
                F.broadcast(
                    users.select(F.col("arn").alias("p_id"), F.lit("AWSUser").alias("src_label"))
                    .unionByName(
                        groups.select(
                            F.col("arn").alias("p_id"), F.lit("AWSGroup").alias("src_label")
                        )
                    )
                    .unionByName(
                        roles.select(F.col("arn").alias("p_id"), F.lit("AWSRole").alias("src_label"))
                    )
                ),
                policies["principal_arn"] == F.col("p_id"),
            ),
            "p_id", None, "POLICY", "policy_id", "AWSPolicy", tag, dedupe=False,
        ),
        edge_rows(
            statements, "policy_id", "AWSPolicy", "STATEMENT", "statement_id",
            "AWSPolicyStatement", tag, dedupe=False,
        ),
    ]

    # TAGGED (resources are clusters by construction)
    edge_parts.append(
        edge_rows(
            tag_ex.join(clusters.select(F.col("ClusterArn").alias("ResourceARN")), "ResourceARN"),
            "ResourceARN", "EMRCluster", "TAGGED", "tag_id", "AWSTag", tag, dedupe=False,
        )
    )

    # SAML ALLOWED_BY + CAN_ASSUME_ROLE
    mapped = o_groups.select(
        F.col("id").alias("group_id"),
        F.concat(
            F.lit("arn:aws:iam::"), F.regexp_extract("name", SAML_RE, 2),
            F.lit(":role/"), F.regexp_extract("name", SAML_RE, 1),
        ).alias("role_arn"),
    ).where(F.regexp_extract("name", SAML_RE, 2) != "")
    role_ids = roles.select(F.col("arn").alias("role_arn"))
    allowed = mapped.join(F.broadcast(role_ids), "role_arn", "inner")
    edge_parts.append(
        edge_rows(
            allowed, "role_arn", "AWSRole", "ALLOWED_BY", "group_id", "OktaGroup", tag,
            dedupe=False,
        )
    )
    edge_parts.append(
        edge_rows(
            o_members.join(F.broadcast(allowed), "group_id"),
            "user_id", "OktaUser", "CAN_ASSUME_ROLE", "role_arn", "AWSRole", tag, dedupe=False,
        )
    )

    # permission theta-joins
    from cartography_spark.modules.permissions import evaluate_permissions, sts_assumerole_pairs

    can_read = evaluate_permissions(policies, statements, buckets, "s3:GetObject")
    edge_parts.append(
        edge_rows(
            can_read, "principal_arn", "AWSPrincipal", "CAN_READ", "resource_arn", "S3Bucket",
            tag, dedupe=False,
        )
    )
    sts = sts_assumerole_pairs(
        trusts.select("role_arn", F.col("principal").alias("trusted")),
        roles.select(F.col("arn").alias("principal_arn"), F.col("account_id").alias("acct")),
        policies,
        statements,
    )
    edge_parts.append(
        edge_rows(
            sts, "principal_arn", "AWSPrincipal", "STS_ASSUMEROLE_ALLOW", "role_arn", "AWSRole",
            tag, dedupe=False,
        )
    )

    edges = edge_parts[0]
    for p in edge_parts[1:]:
        edges = edges.unionByName(p)
    # no consolidating repartition here (r6): the terminal
    # dropDuplicates(src, rel, dst) below performs its own exchange on its
    # key — an earlier repartition on (rel_label, src_id) was a second full
    # shuffle of the edge set that the dedup exchange immediately re-keyed

    if with_documents:
        from cartography_spark.kg.materialize import document_nodes, mention_edges
        from cartography_spark.sources.docs_synth import interleaved_documents

        docs = interleaved_documents(spark, sf_dir)
        # mention_edges walks the node frame many times (dictionary,
        # canonicalization, label join) — materialize the union once.
        # localCheckpoint instead of cache(): same reuse, but the blocks are
        # freed by the ContextCleaner when the frame is GC'd (the r5 audit
        # flagged the unpersist-less cache as a long-lived-driver leak), and
        # every consumer re-analyzes a leaf RDD scan instead of the 13-branch
        # union plan (driver plan latency)
        nodes = nodes.unionByName(document_nodes(docs, tag)).localCheckpoint()
        edges = edges.unionByName(mention_edges(docs, nodes, tag))

    return nodes, edges.dropDuplicates(EDGE_KEY)
