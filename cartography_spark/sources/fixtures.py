"""Deterministic KG fixture tables derived from the driver's parquet data.

The reference's integration tests feed canned API dicts (e.g.
tests/data/aws/emr.py DESCRIBE_CLUSTERS) into each module's loader.  Our
equivalents are *pure derivations* of the sandbox's TPC-H-ish parquet tables
(`/root/testdata/sf*/`): every formula below is simple modular arithmetic +
string concat, so the DuckDB oracle in ``__spark_entry__.py`` can recompute
the exact same rows in ANSI SQL.  No randomness, no external data (seed-free
determinism by construction).

Naming formulas (shared contract with the oracle SQL — keep in sync):
  ACCT(k)       = lpad(k, 12, '0')                       AWS account id
  user arn      = arn:aws:iam::ACCT(c_nationkey):user/user-{c_custkey}
  user email    = user-{c_custkey}@corp-{c_nationkey}.example.com
  group arn     = arn:aws:iam::ACCT(n):group/group-{n}-{c_custkey % 5}
  role arn      = arn:aws:iam::ACCT(s_nationkey):role/role-{s_suppkey}
  trust spn     = arn:aws:iam::ACCT((s_suppkey*7) % 25):root
  emr arn       = arn:aws:elasticmapreduce:us-east-1:ACCT(s_nationkey):cluster/j-{s_suppkey}
  bucket arn    = arn:aws:s3:::bucket-{p_partkey % 20}
  okta org      = okta-org-{r_regionkey}
  saml group    = aws#role-{s_suppkey}#ACCT(s_nationkey)   (s_suppkey % 4 == 1)

Two-run scenario (FIXTURES.md §9): variant "t1" is the full population;
variant "t2" drops rows where key % 10 == 7 and mutates ``path`` where
key % 10 == 3 — exercising stale-cleanup + firstseen preservation.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

T1_TAG = 111111111
T2_TAG = 222222222


def _acct(col):
    return F.lpad(col.cast("string"), 12, "0")


def plan_memo(fn):
    """Memoize a pure plan-constructor ``fn(spark, sf_dir, *scalars)``.

    Fixture derivations are deterministic functions of (session, sf_dir,
    variant): the returned DataFrame is an immutable logical-plan handle, so
    reusing it is always safe.  A sync plans the same fixtures dozens of
    times and each construction costs 50-300 ms of driver py4j round-trips;
    memoization makes every repeat free and lets Spark reuse the analyzed
    plan + FileIndex.  Keyed on ``id(spark)`` — sessions here are few and
    process-long-lived (a stopped session's stale entries would fail loudly
    on first use, never silently).
    """
    cache: dict = {}

    @functools.wraps(fn)
    def wrapper(spark, sf_dir, *args, **kwargs):
        key = (id(spark), sf_dir, args, tuple(sorted(kwargs.items())))
        if key not in cache:
            cache[key] = fn(spark, sf_dir, *args, **kwargs)
        return cache[key]

    return wrapper


@plan_memo
def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan handle, memoized per (session, path) — re-running
    ``spark.read.parquet`` re-infers the footer schema on the driver each
    time (~70 ms of py4j latency per call)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _variant_filter(df: DataFrame, key_col: str, variant: str) -> DataFrame:
    if variant == "t2":
        return df.where((F.col(key_col) % 10) != 7)
    return df


@plan_memo
def aws_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One AWSAccount per nation.  Columns: id, name."""
    n = read_table(spark, sf_dir, "nation")
    return n.select(
        _acct(F.col("n_nationkey")).alias("id"), F.col("n_name").alias("name")
    )


@plan_memo
def iam_users(spark: SparkSession, sf_dir: str, variant: str = "t1") -> DataFrame:
    """IAM users from customer.  Columns: arn,name,email,userid,path,account_id.

    Shapes mirror the reference fixture tests/data/aws/iam (ListUsers).
    """
    c = _variant_filter(read_table(spark, sf_dir, "customer"), "c_custkey", variant)
    path = (
        F.when((F.col("c_custkey") % 10) == 3, F.lit("/renamed/")).otherwise(F.lit("/"))
        if variant == "t2"
        else F.lit("/")
    )
    return c.select(
        F.concat(
            F.lit("arn:aws:iam::"), _acct(F.col("c_nationkey")), F.lit(":user/user-"),
            F.col("c_custkey").cast("string"),
        ).alias("arn"),
        F.concat(F.lit("user-"), F.col("c_custkey").cast("string")).alias("name"),
        F.concat(
            F.lit("user-"), F.col("c_custkey").cast("string"), F.lit("@corp-"),
            F.col("c_nationkey").cast("string"), F.lit(".example.com"),
        ).alias("email"),
        F.concat(F.lit("AIDA"), F.col("c_custkey").cast("string")).alias("userid"),
        path.alias("path"),
        _acct(F.col("c_nationkey")).alias("account_id"),
    )


@plan_memo
def iam_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five IAM groups per nation.  Columns: arn, name, account_id."""
    c = read_table(spark, sf_dir, "customer")
    return (
        c.select(
            F.col("c_nationkey").alias("n"), (F.col("c_custkey") % 5).alias("g")
        )
        .distinct()
        .select(
            F.concat(
                F.lit("arn:aws:iam::"), _acct(F.col("n")), F.lit(":group/group-"),
                F.col("n").cast("string"), F.lit("-"), F.col("g").cast("string"),
            ).alias("arn"),
            F.concat(
                F.lit("group-"), F.col("n").cast("string"), F.lit("-"),
                F.col("g").cast("string"),
            ).alias("name"),
            _acct(F.col("n")).alias("account_id"),
        )
    )


@plan_memo
def iam_group_memberships(spark: SparkSession, sf_dir: str, variant: str = "t1") -> DataFrame:
    """user arn -> group arn (each user belongs to its nation's custkey%5 group)."""
    c = _variant_filter(read_table(spark, sf_dir, "customer"), "c_custkey", variant)
    return c.select(
        F.concat(
            F.lit("arn:aws:iam::"), _acct(F.col("c_nationkey")), F.lit(":user/user-"),
            F.col("c_custkey").cast("string"),
        ).alias("user_arn"),
        F.concat(
            F.lit("arn:aws:iam::"), _acct(F.col("c_nationkey")), F.lit(":group/group-"),
            F.col("c_nationkey").cast("string"), F.lit("-"),
            (F.col("c_custkey") % 5).cast("string"),
        ).alias("group_arn"),
    )


@plan_memo
def iam_roles(spark: SparkSession, sf_dir: str, variant: str = "t1") -> DataFrame:
    """IAM roles from supplier.  Columns: arn, name, account_id,
    trust_principals array<struct<type string, value string>>.

    Every role trusts one cross-account root principal; every third also
    trusts the EC2 service principal (mirrors the flattened
    AssumeRolePolicyDocument of reference iam.py:303-315); every tenth
    (key % 10 == 9) additionally trusts a root principal in an account
    OUTSIDE the 25-account sync scope (accounts 25-27) — the positives for
    the aws_foreign_accounts analysis.
    """
    s = _variant_filter(read_table(spark, sf_dir, "supplier"), "s_suppkey", variant)
    spn = F.concat(
        F.lit("arn:aws:iam::"), _acct((F.col("s_suppkey") * 7) % 25), F.lit(":root")
    )
    aws_p = F.struct(F.lit("AWS").alias("type"), spn.alias("value"))
    svc_p = F.struct(F.lit("Service").alias("type"), F.lit("ec2.amazonaws.com").alias("value"))
    foreign_spn = F.concat(
        F.lit("arn:aws:iam::"), _acct(F.lit(25) + (F.col("s_suppkey") % 3)), F.lit(":root")
    )
    foreign_p = F.struct(F.lit("AWS").alias("type"), foreign_spn.alias("value"))
    base = F.when((F.col("s_suppkey") % 3) == 0, F.array(aws_p, svc_p)).otherwise(
        F.array(aws_p)
    )
    return s.select(
        F.concat(
            F.lit("arn:aws:iam::"), _acct(F.col("s_nationkey")), F.lit(":role/role-"),
            F.col("s_suppkey").cast("string"),
        ).alias("arn"),
        F.concat(F.lit("role-"), F.col("s_suppkey").cast("string")).alias("name"),
        _acct(F.col("s_nationkey")).alias("account_id"),
        F.when((F.col("s_suppkey") % 10) == 9, F.concat(base, F.array(foreign_p)))
        .otherwise(base)
        .alias("trust_principals"),
        # reference AWSRole high-traffic properties (models/aws/iam role
        # schema: path, createdate) — every 6th is a service role
        F.when((F.col("s_suppkey") % 6) == 0, F.lit("/service-role/"))
        .otherwise(F.lit("/"))
        .alias("path"),
        (F.lit(1500000000) + F.col("s_suppkey") * 1000).cast("long").alias("createdate"),
    )


@plan_memo
def emr_clusters(spark: SparkSession, sf_dir: str, variant: str = "t1") -> DataFrame:
    """EMR clusters from supplier (cf. reference tests/data/aws/emr.py:4-60)."""
    s = _variant_filter(read_table(spark, sf_dir, "supplier"), "s_suppkey", variant)
    return s.select(
        F.concat(F.lit("j-"), F.col("s_suppkey").cast("string")).alias("Id"),
        F.concat(
            F.lit("arn:aws:elasticmapreduce:us-east-1:"), _acct(F.col("s_nationkey")),
            F.lit(":cluster/j-"), F.col("s_suppkey").cast("string"),
        ).alias("ClusterArn"),
        F.concat(F.lit("cluster-"), F.col("s_name")).alias("Name"),
        F.lit("EMR_DefaultRole").alias("ServiceRole"),
        ((F.col("s_suppkey") % 2) == 0).alias("TerminationProtected"),
        F.lit("emr-6.10.0").alias("ReleaseLabel"),
        _acct(F.col("s_nationkey")).alias("account_id"),
        F.lit("us-east-1").alias("region"),
    )


@plan_memo
def s3_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20 S3 buckets (p_partkey % 20).  Columns: arn, name, account_id."""
    p = read_table(spark, sf_dir, "part")
    return (
        p.select((F.col("p_partkey") % 20).alias("b"))
        .distinct()
        .select(
            F.concat(F.lit("arn:aws:s3:::bucket-"), F.col("b").cast("string")).alias("arn"),
            F.concat(F.lit("bucket-"), F.col("b").cast("string")).alias("name"),
            _acct(F.col("b") % 5).alias("account_id"),
            # encryption/versioning flags (reference intel/aws/s3.py
            # _load_s3_encryption / versioning: default_encryption,
            # encryption_algorithm, versioning_status)
            ((F.col("b") % 3) != 0).cast("string").alias("default_encryption"),
            F.when((F.col("b") % 3) != 0, F.lit("aws:kms")).alias("encryption_algorithm"),
            F.when((F.col("b") % 2) == 0, F.lit("Enabled"))
            .otherwise(F.lit("Suspended"))
            .alias("versioning_status"),
        )
    )


@plan_memo
def iam_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One inline policy per role.  Columns: policy_id, principal_arn, name."""
    r = iam_roles(spark, sf_dir)
    return r.select(
        F.concat(F.col("arn"), F.lit("/inline_policy/default")).alias("policy_id"),
        F.col("arn").alias("principal_arn"),
        F.lit("default").alias("name"),
    )


@plan_memo
def iam_policy_statements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy statements with wildcard actions/resources.

    Even suppliers get s3 read; odd get sts:AssumeRole on *; every 5th gets
    resource '*'; every 7th also gets a Deny on bucket-3* (drives the
    allow/deny precedence of the policy-eval theta-join, reference
    permission_relationships.py:21-130).
    Columns: policy_id, statement_id, effect, action array, resource array.
    """
    s = read_table(spark, sf_dir, "supplier")
    role_arn = F.concat(
        F.lit("arn:aws:iam::"), _acct(F.col("s_nationkey")), F.lit(":role/role-"),
        F.col("s_suppkey").cast("string"),
    )
    pid = F.concat(role_arn, F.lit("/inline_policy/default"))
    allow = s.select(
        pid.alias("policy_id"),
        F.concat(pid, F.lit("/statement/1")).alias("statement_id"),
        F.lit("Allow").alias("effect"),
        F.when(
            (F.col("s_suppkey") % 2) == 0,
            F.array(F.lit("s3:GetObject"), F.lit("s3:ListBucket")),
        )
        .otherwise(F.array(F.lit("sts:AssumeRole")))
        .alias("action"),
        F.when((F.col("s_suppkey") % 5) == 0, F.array(F.lit("*")))
        .otherwise(
            F.array(
                F.concat(
                    F.lit("arn:aws:s3:::bucket-"),
                    (F.col("s_suppkey") % 20).cast("string"), F.lit("*"),
                )
            )
        )
        .alias("resource"),
    )
    deny = (
        s.where((F.col("s_suppkey") % 7) == 0)
        .select(
            pid.alias("policy_id"),
            F.concat(pid, F.lit("/statement/2")).alias("statement_id"),
            F.lit("Deny").alias("effect"),
            F.array(F.lit("s3:*")).alias("action"),
            F.array(F.lit("arn:aws:s3:::bucket-3*")).alias("resource"),
        )
    )
    # Every 3rd supplier may publish to its OWN account's SQS queues — the
    # grant behind the config-only CAN_SEND mapping (permission mapping
    # registry parity: reference permission_relationships.yaml rows add
    # permission->rel families with no code change).  Account-scoped
    # wildcard resource exercises the IAM `*` grammar on a non-s3 service.
    sqs = s.where((F.col("s_suppkey") % 3) == 0).select(
        pid.alias("policy_id"),
        F.concat(pid, F.lit("/statement/3")).alias("statement_id"),
        F.lit("Allow").alias("effect"),
        F.array(F.lit("sqs:SendMessage")).alias("action"),
        F.array(
            F.concat(
                F.lit("arn:aws:sqs:us-east-1:"), _acct(F.col("s_nationkey")), F.lit(":*")
            )
        ).alias("resource"),
    )
    return allow.unionByName(deny).unionByName(sqs)


@plan_memo
def resource_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag mappings on even EMR clusters.

    Columns: ResourceARN, resource_type, Tags array<struct<Key,Value>> —
    the nested shape the reference double-UNWINDs
    (resourcegroupstaggingapi.py:151-168).
    """
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 2) == 0)
    env = (
        F.when((F.col("s_suppkey") % 3) == 0, F.lit("prod"))
        .when((F.col("s_suppkey") % 3) == 1, F.lit("stage"))
        .otherwise(F.lit("dev"))
    )
    return s.select(
        F.concat(
            F.lit("arn:aws:elasticmapreduce:us-east-1:"), _acct(F.col("s_nationkey")),
            F.lit(":cluster/j-"), F.col("s_suppkey").cast("string"),
        ).alias("ResourceARN"),
        F.lit("emr").alias("resource_type"),
        F.array(
            F.struct(F.lit("env").alias("Key"), env.alias("Value")),
            F.struct(
                F.lit("team").alias("Key"),
                F.concat(F.lit("team-"), (F.col("s_suppkey") % 7).cast("string")).alias("Value"),
            ),
        ).alias("Tags"),
    )


@plan_memo
def okta_orgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = read_table(spark, sf_dir, "region")
    return r.select(
        F.concat(F.lit("okta-org-"), F.col("r_regionkey").cast("string")).alias("id")
    )


@plan_memo
def okta_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation team groups + SAML-mapped AWS role groups.

    SAML names follow ``aws#{role}#{accountid}`` so the awssaml regex path
    (reference okta/awssaml.py:23-46) has real positives.
    Columns: id, name, org_id.
    """
    n = read_table(spark, sf_dir, "nation")
    team = n.select(
        F.concat(F.lit("og-n-"), F.col("n_nationkey").cast("string")).alias("id"),
        F.concat(F.lit("team-"), F.col("n_name")).alias("name"),
        F.concat(F.lit("okta-org-"), F.col("n_regionkey").cast("string")).alias("org_id"),
    )
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 4) == 1)
    saml = s.select(
        F.concat(F.lit("og-s-"), F.col("s_suppkey").cast("string")).alias("id"),
        F.concat(
            F.lit("aws#role-"), F.col("s_suppkey").cast("string"), F.lit("#"),
            _acct(F.col("s_nationkey")),
        ).alias("name"),
        F.concat(F.lit("okta-org-"), (F.col("s_nationkey") % 5).cast("string")).alias("org_id"),
    )
    return team.unionByName(saml)


@plan_memo
def okta_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Even customers are also Okta users; login == the IAM user's email —
    the cross-system identity that canonicalization must merge.
    Columns: id, login, first_name, last_name, org_id.
    """
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 2) == 0)
    ck = F.col("c_custkey")
    login = F.concat(
        F.lit("user-"), ck.cast("string"), F.lit("@corp-"),
        F.col("c_nationkey").cast("string"), F.lit(".example.com"),
    )
    return c.select(
        F.concat(F.lit("okta-"), ck.cast("string")).alias("id"),
        login.alias("login"),
        F.concat(F.lit("First"), ck.cast("string")).alias("first_name"),
        F.concat(F.lit("Last"), ck.cast("string")).alias("last_name"),
        # round-5 profile tranche (reference intel/okta/users.py:135-155):
        # email mirrors login (the reference sets both), lifecycle epochs
        login.alias("email"),
        (ck * 100 + 1400000000).cast("string").alias("created"),
        ((ck % 50) * 86400 + 1500000000).cast("string").alias("last_login"),
        (ck * 50 + 1450000000).cast("string").alias("password_changed"),
        F.concat(F.lit("okta-org-"), (F.col("c_nationkey") % 5).cast("string")).alias("org_id"),
    )


@plan_memo
def okta_group_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each okta user joins its nation team group, plus the nation's first
    SAML group when one exists.  Columns: group_id, user_id."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 2) == 0)
    team = c.select(
        F.concat(F.lit("og-n-"), F.col("c_nationkey").cast("string")).alias("group_id"),
        F.concat(F.lit("okta-"), F.col("c_custkey").cast("string")).alias("user_id"),
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .where((F.col("s_suppkey") % 4) == 1)
        .groupBy("s_nationkey")
        .agg(F.min("s_suppkey").alias("min_supp"))
    )
    saml = c.join(s, c["c_nationkey"] == s["s_nationkey"], "inner").select(
        F.concat(F.lit("og-s-"), F.col("min_supp").cast("string")).alias("group_id"),
        F.concat(F.lit("okta-"), F.col("c_custkey").cast("string")).alias("user_id"),
    )
    return team.unionByName(saml)


@plan_memo
def github_repos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 50th part is a repo.  Columns: id(url), name, fullname."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 50) == 0)
    pk = F.col("p_partkey")
    return p.select(
        F.concat(F.lit("https://github.com/corp/repo-"), pk.cast("string")).alias("id"),
        F.concat(F.lit("repo-"), pk.cast("string")).alias("name"),
        F.concat(F.lit("corp/repo-"), pk.cast("string")).alias("fullname"),
        # round-5 flag tranche (reference intel/github/repos.py:386-400)
        ((pk % 100) == 0).cast("string").alias("private"),
        ((pk % 150) == 0).cast("string").alias("archived"),
        F.lit("false").alias("disabled"),
        F.when((pk % 3) == 0, F.lit("Python"))
        .when((pk % 3) == 1, F.lit("Go"))
        .otherwise(F.lit("TypeScript"))
        .alias("primarylanguage"),
        F.lit("main").alias("defaultbranch"),
        (pk * 10 + 1420000000).cast("string").alias("createdat"),
        (pk * 5 + 1600000000).cast("string").alias("updatedat"),
    )


@plan_memo
def github_requirements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """requirements.txt lines per repo (reference github/repos.py:296-348
    parses these from text; we derive the already-parsed canonical rows and
    exercise the parser separately in ops tests).
    Columns: repo_url, lib_id, lib_name, version (nullable)."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 50) == 0)
    pinned = p.select(
        F.concat(F.lit("https://github.com/corp/repo-"), F.col("p_partkey").cast("string")).alias("repo_url"),
        F.concat(
            F.lit("lib-"), (F.col("p_partkey") % 13).cast("string"), F.lit("|1."),
            (F.col("p_partkey") % 3).cast("string"),
        ).alias("lib_id"),
        F.concat(F.lit("lib-"), (F.col("p_partkey") % 13).cast("string")).alias("lib_name"),
        F.concat(F.lit("1."), (F.col("p_partkey") % 3).cast("string")).alias("version"),
    )
    unpinned = p.select(
        F.concat(F.lit("https://github.com/corp/repo-"), F.col("p_partkey").cast("string")).alias("repo_url"),
        F.concat(F.lit("lib-"), (F.col("p_partkey") % 17).cast("string")).alias("lib_id"),
        F.concat(F.lit("lib-"), (F.col("p_partkey") % 17).cast("string")).alias("lib_name"),
        F.lit(None).cast("string").alias("version"),
    )
    return pinned.unionByName(unpinned)


@plan_memo
def github_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 25th customer has a GitHub handle in UPPERCASE — exercises the
    ignore_case matcher (reference models/core/common.py:25-35).
    Columns: id(url), username."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 25) == 0)
    return c.select(
        F.concat(F.lit("https://github.com/USER-"), F.col("c_custkey").cast("string")).alias("id"),
        F.concat(F.lit("USER-"), F.col("c_custkey").cast("string")).alias("username"),
    )


# ---------------------------------------------------------------------------
# round-2 breadth: EC2, S3 ACLs, GCP, Humans (formulas mirrored in oracle SQL)
#
#   sg id            = sg-{p_partkey}                       (p_partkey % 10 == 0)
#   sg account       = ACCT((p_partkey / 10) % 25)
#   sg rule id       = {sg_id}/inbound/tcp/{fromport}
#   instance profile = arn:aws:iam::ACCT(s_nationkey):instance-profile/role-{s_suppkey}
#                                                           (s_suppkey % 2 == 0)
#   s3 global acl    = buckets with b % 3 == 0; uri AllUsers (b%2==0) else
#                      AuthenticatedUsers; permission by b % 4
#   human            = customers with c_custkey % 3 == 0 (email key)
#   gcp project      = projects/proj-{n_nationkey}
#   gcp instance     = inst-{p_partkey} in proj-{(p_partkey/40) % 25}
#                                                           (p_partkey % 40 == 0)
#   foreign trust    = roles with s_suppkey % 10 == 9 also trust
#                      arn:aws:iam::ACCT(25 + s_suppkey % 3):root (accounts
#                      25-27 are outside the 25-account sync scope ->
#                      aws_foreign_accounts analysis positives)
# ---------------------------------------------------------------------------


@plan_memo
def ec2_security_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EC2 security groups (same population as the exposure analysis rules).
    Columns: sg_id, name, account_id."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 10) == 0)
    return p.select(
        F.concat(F.lit("sg-"), F.col("p_partkey").cast("string")).alias("sg_id"),
        F.concat(F.lit("secgroup-"), F.col("p_partkey").cast("string")).alias("name"),
        _acct((F.col("p_partkey") / 10).cast("long") % 25).alias("account_id"),
    )


@plan_memo
def ec2_sg_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound rules, one per security group (reference IpPermissionInbound,
    intel/aws/ec2/security_groups.py).  Columns: rule_id, sg_id, protocol,
    fromport, toport, cidr."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 10) == 0)
    fromport = ((F.col("p_size") % 10) * 100).cast("long")
    return p.select(
        F.concat(
            F.lit("sg-"), F.col("p_partkey").cast("string"),
            F.lit("/inbound/tcp/"), fromport.cast("string"),
        ).alias("rule_id"),
        F.concat(F.lit("sg-"), F.col("p_partkey").cast("string")).alias("sg_id"),
        F.lit("tcp").alias("protocol"),
        fromport.alias("fromport"),
        (fromport + 399).alias("toport"),
        F.when((F.col("p_partkey") % 4) == 0, F.lit("0.0.0.0/0"))
        .otherwise(F.lit("10.0.0.0/8"))
        .alias("cidr"),
    )


@plan_memo
def ec2_instances(spark: SparkSession, sf_dir: str, variant: str = "t1") -> DataFrame:
    """EC2 instances from supplier; sg membership maps onto the part-derived
    sg key space; even instances carry an IAM instance profile (drives the
    aws_ec2_iaminstanceprofile analysis).  Columns: instance_id, sg_id,
    listener_port, account_id, iaminstanceprofile."""
    s = _variant_filter(read_table(spark, sf_dir, "supplier"), "s_suppkey", variant)
    n_parts = read_table(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("n_part"))
    s = s.crossJoin(F.broadcast(n_parts))
    sg_key = (F.col("s_suppkey") * 10) % F.col("n_part")
    return s.select(
        F.concat(F.lit("i-"), F.col("s_suppkey").cast("string")).alias("instance_id"),
        F.concat(F.lit("sg-"), (sg_key - (sg_key % 10)).cast("string")).alias("sg_id"),
        ((F.col("s_suppkey") % 10) * 100 + 50).cast("long").alias("listener_port"),
        _acct(F.col("s_nationkey")).alias("account_id"),
        F.when(
            (F.col("s_suppkey") % 2) == 0,
            F.concat(
                F.lit("arn:aws:iam::"), _acct(F.col("s_nationkey")),
                F.lit(":instance-profile/role-"), F.col("s_suppkey").cast("string"),
            ),
        ).alias("iaminstanceprofile"),
        # high-traffic reference properties (models/aws/ec2/instances.py:
        # state, launchtime, instancetype, publicipaddress)
        F.when((F.col("s_suppkey") % 4) == 0, F.lit("stopped"))
        .otherwise(F.lit("running"))
        .alias("state"),
        (F.lit(1600000000) + F.col("s_suppkey") * 86400).cast("long").alias("launchtime"),
        F.element_at(
            F.array(F.lit("m5.large"), F.lit("c5.xlarge"), F.lit("t3.micro")),
            (F.col("s_suppkey") % 3).cast("int") + 1,
        ).alias("instancetype"),
        F.when(
            (F.col("s_suppkey") % 5) == 0,
            F.concat(F.lit("54.0.0."), (F.col("s_suppkey") % 250).cast("string")),
        ).alias("publicipaddress"),
    )


@plan_memo
def s3_acls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket ACL grants (reference intel/aws/s3.py parse_acl).  Every bucket
    has an owner FULL_CONTROL grant; every third bucket also has one global
    grant (AllUsers/AuthenticatedUsers) whose permission cycles by b % 4 —
    at most ONE global grant per bucket keeps the anonymous_actions list
    deterministic.  Columns: acl_id, bucket_arn, uri, permission."""
    p = read_table(spark, sf_dir, "part")
    b = p.select((F.col("p_partkey") % 20).alias("b")).distinct()
    arn = F.concat(F.lit("arn:aws:s3:::bucket-"), F.col("b").cast("string"))
    owner = b.select(
        F.concat(arn, F.lit("/acl/owner")).alias("acl_id"),
        arn.alias("bucket_arn"),
        F.lit(None).cast("string").alias("uri"),
        F.lit("FULL_CONTROL").alias("permission"),
    )
    glob = b.where((F.col("b") % 3) == 0).select(
        F.concat(arn, F.lit("/acl/global")).alias("acl_id"),
        arn.alias("bucket_arn"),
        F.when(
            (F.col("b") % 2) == 0,
            F.lit("http://acs.amazonaws.com/groups/global/AllUsers"),
        )
        .otherwise(F.lit("http://acs.amazonaws.com/groups/global/AuthenticatedUsers"))
        .alias("uri"),
        F.element_at(
            F.array(F.lit("READ"), F.lit("WRITE"), F.lit("FULL_CONTROL"), F.lit("READ_ACP")),
            (F.col("b") % 4).cast("int") + 1,
        ).alias("permission"),
    )
    return owner.unionByName(glob)


@plan_memo
def humans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HR-feed employees (the reference's Human nodes, linked to identity
    providers by gsuite_human_link.json).  Columns: email, name."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 3) == 0)
    return c.select(
        F.concat(
            F.lit("user-"), F.col("c_custkey").cast("string"), F.lit("@corp-"),
            F.col("c_nationkey").cast("string"), F.lit(".example.com"),
        ).alias("email"),
        F.concat(F.lit("Human "), F.col("c_custkey").cast("string")).alias("name"),
    )


@plan_memo
def gcp_projects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GCP projects, one per nation.  Columns: project_id, display_name."""
    n = read_table(spark, sf_dir, "nation")
    return n.select(
        F.concat(F.lit("projects/proj-"), F.col("n_nationkey").cast("string")).alias("project_id"),
        F.concat(F.lit("proj-"), F.col("n_name")).alias("display_name"),
    )


@plan_memo
def gcp_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GCE instances (reference intel/gcp/compute.py:183-221 transform shape:
    partial_uri self-link ids).  Columns: instance_id, name, project_id, zone."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 40) == 0)
    proj = F.concat(
        F.lit("projects/proj-"), ((F.col("p_partkey") / 40).cast("long") % 25).cast("string")
    )
    return p.select(
        F.concat(
            proj, F.lit("/zones/us-east1-b/instances/inst-"), F.col("p_partkey").cast("string")
        ).alias("instance_id"),
        F.concat(F.lit("inst-"), F.col("p_partkey").cast("string")).alias("name"),
        proj.alias("project_id"),
        F.lit("us-east1-b").alias("zone"),
    )


@plan_memo
def azure_subscriptions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Azure subscriptions, one per region.  Columns: subscription_id, name."""
    r = read_table(spark, sf_dir, "region")
    return r.select(
        F.concat(F.lit("sub-"), F.col("r_regionkey").cast("string")).alias("subscription_id"),
        F.concat(F.lit("subscription-"), F.col("r_name")).alias("name"),
    )


@plan_memo
def azure_vms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Azure VMs from part (p_partkey % 35 == 0), resource-URI ids.
    Columns: vm_id, name, location, subscription_id."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 35) == 0)
    sub = F.concat(F.lit("sub-"), ((F.col("p_partkey") / 35).cast("long") % 5).cast("string"))
    return p.select(
        F.concat(
            F.lit("/subscriptions/"), sub,
            F.lit("/resourceGroups/rg-0/providers/Microsoft.Compute/virtualMachines/vm-"),
            F.col("p_partkey").cast("string"),
        ).alias("vm_id"),
        F.concat(F.lit("vm-"), F.col("p_partkey").cast("string")).alias("name"),
        F.lit("eastus").alias("location"),
        sub.alias("subscription_id"),
    )


# ---------------------------------------------------------------------------
# round-2 breadth: keypairs, lambda/ECR, EKS, GKE, GCP network stack
# (fixture analogs of reference tests/data/aws/{ec2,eks,lambda}, gcp/compute;
#  formulas stay pure modular arithmetic + concat + md5 + rpad so the DuckDB
#  oracle recomputes them exactly)
# ---------------------------------------------------------------------------


@plan_memo
def ec2_keypairs(spark: SparkSession, sf_dir: str, variant: str = "t1") -> DataFrame:
    """EC2 key pairs from supplier (reference intel/aws/ec2/key_pairs.py).

    Fingerprint shapes drive aws_ec2_keypair_analysis.json: 47-char MD5-form
    fingerprints (s_suppkey % 5 == 0) are the user-uploaded class; 59-char
    ones are AWS-generated.  Bodies collide pairwise (key floored to the
    nearest 10 / nearest even) so MATCHING_FINGERPRINT has deterministic
    positives at every sf.  Columns: keypair_arn, name, keyfingerprint,
    account_id.
    """
    s = _variant_filter(read_table(spark, sf_dir, "supplier"), "s_suppkey", variant)
    body47 = F.rpad(
        F.concat(F.lit("fpu-"), (F.col("s_suppkey") - F.col("s_suppkey") % 10).cast("string")),
        47, "x",
    )
    body59 = F.rpad(
        F.concat(F.lit("fp-"), (F.col("s_suppkey") - F.col("s_suppkey") % 2).cast("string")),
        59, "x",
    )
    return s.select(
        F.concat(
            F.lit("arn:aws:ec2:us-east-1:"), _acct(F.col("s_nationkey")),
            F.lit(":key-pair/kp-"), F.col("s_suppkey").cast("string"),
        ).alias("keypair_arn"),
        F.concat(F.lit("kp-"), F.col("s_suppkey").cast("string")).alias("name"),
        F.when((F.col("s_suppkey") % 5) == 0, body47).otherwise(body59).alias("keyfingerprint"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


@plan_memo
def lambda_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AWS Lambda functions from orders (o_orderkey % 10 == 0; reference
    intel/aws/lambda_function.py).  ``codesha256`` keys a 40-way shared pool
    so several functions reference one container image (aws_lambda_ecr.json
    joins on it).  Columns: arn, name, codesha256, account_id."""
    o = read_table(spark, sf_dir, "orders").where((F.col("o_orderkey") % 10) == 0)
    k = ((F.col("o_orderkey") / 10).cast("long") % 40).cast("string")
    return o.select(
        F.concat(
            F.lit("arn:aws:lambda:us-east-1:"), _acct(F.col("o_custkey") % 25),
            F.lit(":function:fn-"), F.col("o_orderkey").cast("string"),
        ).alias("arn"),
        F.concat(F.lit("fn-"), F.col("o_orderkey").cast("string")).alias("name"),
        F.md5(F.concat(F.lit("code-"), k)).alias("codesha256"),
        _acct(F.col("o_custkey") % 25).alias("account_id"),
    )


@plan_memo
def ecr_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECR images (reference intel/aws/ecr.py): one per code-pool key k in
    0..39 except k % 3 == 2 — those lambdas deploy zip archives, not images,
    so the HAS join has deterministic misses.  Columns: digest, uri,
    account_id."""
    p = read_table(spark, sf_dir, "part")
    ks = p.select((F.col("p_partkey") % 40).alias("k")).distinct().where(
        (F.col("k") % 3) != 2
    )
    kstr = F.col("k").cast("string")
    return ks.select(
        F.concat(F.lit("sha256:"), F.md5(F.concat(F.lit("code-"), kstr))).alias("digest"),
        F.concat(
            _acct(F.col("k") % 25), F.lit(".dkr.ecr.us-east-1.amazonaws.com/repo-"), kstr
        ).alias("uri"),
        _acct(F.col("k") % 25).alias("account_id"),
    )


@plan_memo
def eks_clusters(spark: SparkSession, sf_dir: str, variant: str = "t1") -> DataFrame:
    """EKS clusters from supplier (s_suppkey % 3 == 0; reference
    intel/aws/eks.py).  Even keys expose a public endpoint — the
    aws_eks_asset_exposure.json positive class.  Columns: arn, name,
    endpoint_public_access, account_id."""
    s = _variant_filter(read_table(spark, sf_dir, "supplier"), "s_suppkey", variant)
    s = s.where((F.col("s_suppkey") % 3) == 0)
    return s.select(
        F.concat(
            F.lit("arn:aws:eks:us-east-1:"), _acct(F.col("s_nationkey")),
            F.lit(":cluster/eks-"), F.col("s_suppkey").cast("string"),
        ).alias("arn"),
        F.concat(F.lit("eks-"), F.col("s_suppkey").cast("string")).alias("name"),
        ((F.col("s_suppkey") % 2) == 0).cast("string").alias("endpoint_public_access"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


@plan_memo
def gke_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GKE clusters from part (p_partkey % 45 == 0; reference
    intel/gcp/gke.py).  Flag mix drives gcp_gke_asset_exposure (private
    nodes/endpoint/authorized networks) and gcp_gke_basic_auth (masterauth
    username+password both set).  Columns: self_link, name, project_id,
    private_nodes, private_endpoint_enabled, master_authorized_networks,
    masterauth_username, masterauth_password."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 45) == 0)
    j = (F.col("p_partkey") / 45).cast("long")
    proj = F.concat(F.lit("projects/proj-"), (j % 25).cast("string"))
    return p.select(
        F.concat(
            proj, F.lit("/locations/us-east1/clusters/gke-"), F.col("p_partkey").cast("string")
        ).alias("self_link"),
        F.concat(F.lit("gke-"), F.col("p_partkey").cast("string")).alias("name"),
        proj.alias("project_id"),
        ((F.col("p_partkey") % 2) == 0).cast("string").alias("private_nodes"),
        ((j % 3) != 1).cast("string").alias("private_endpoint_enabled"),
        ((j % 2) == 0).cast("string").alias("master_authorized_networks"),
        F.when((j % 4) == 0, F.lit("admin")).otherwise(F.lit("")).alias("masterauth_username"),
        F.when((j % 3) == 0, F.lit("hunter2")).otherwise(F.lit("")).alias("masterauth_password"),
    )


@plan_memo
def gcp_vpcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One VPC per project (reference intel/gcp/compute.py transform_gcp_vpcs).
    Columns: vpc_id, name, project_id."""
    n = read_table(spark, sf_dir, "nation")
    proj = F.concat(F.lit("projects/proj-"), F.col("n_nationkey").cast("string"))
    return n.select(
        F.concat(proj, F.lit("/global/networks/vpc-"), F.col("n_nationkey").cast("string")).alias("vpc_id"),
        F.concat(F.lit("vpc-"), F.col("n_nationkey").cast("string")).alias("name"),
        proj.alias("project_id"),
    )


@plan_memo
def gcp_instance_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network attachment for GCP instances (same population as
    gcp_instances): VPC membership, one network tag, and a public IP on
    every second instance (the gcp_compute_asset_inet_exposure access-config
    precondition).  Columns: instance_id, project_id, vpc_id, tag,
    public_ip."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 40) == 0)
    j = (F.col("p_partkey") / 40).cast("long")
    nk = (j % 25).cast("string")
    proj = F.concat(F.lit("projects/proj-"), nk)
    return p.select(
        F.concat(
            proj, F.lit("/zones/us-east1-b/instances/inst-"), F.col("p_partkey").cast("string")
        ).alias("instance_id"),
        proj.alias("project_id"),
        F.concat(proj, F.lit("/global/networks/vpc-"), nk).alias("vpc_id"),
        F.concat(F.lit("tag-"), nk, F.lit("-"), (j % 3).cast("string")).alias("tag"),
        F.when(
            (F.col("p_partkey") % 80) == 0,
            F.concat(F.lit("34."), nk, F.lit(".0."), ((F.col("p_partkey") / 80).cast("long") % 250).cast("string")),
        ).alias("public_ip"),
    )


@plan_memo
def gcp_firewalls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three INGRESS firewalls per project (reference
    intel/gcp/compute.py transform_gcp_firewalls):
      * fw-{n}-tagged — priority 1000, applies via TARGET_TAG tag-{n}-0
      * fw-{n}-open   — priority 900, no target tags (applies VPC-wide)
      * fw-{n}-deny   — carries the deny rule; priority 800 when n % 4 == 0
        (outranks every allow -> blocks) else 1100 (outranked -> passes)
    Columns: fw_id, name, project_id, vpc_id, priority, direction,
    has_target_service_accounts, target_tag (nullable)."""
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    proj = F.concat(F.lit("projects/proj-"), nk)
    vpc = F.concat(proj, F.lit("/global/networks/vpc-"), nk)
    fw = F.explode(
        F.array(
            F.struct(F.lit("tagged").alias("kind"), F.lit(1000).cast("long").alias("priority")),
            F.struct(F.lit("open").alias("kind"), F.lit(900).cast("long").alias("priority")),
            F.struct(
                F.lit("deny").alias("kind"),
                F.when((F.col("n_nationkey") % 4) == 0, F.lit(800)).otherwise(F.lit(1100)).cast("long").alias("priority"),
            ),
        )
    ).alias("fw")
    base = n.select("n_nationkey", fw)
    nk2 = F.col("n_nationkey").cast("string")
    proj2 = F.concat(F.lit("projects/proj-"), nk2)
    return base.select(
        F.concat(
            proj2, F.lit("/global/firewalls/fw-"), nk2, F.lit("-"), F.col("fw.kind")
        ).alias("fw_id"),
        F.concat(F.lit("fw-"), nk2, F.lit("-"), F.col("fw.kind")).alias("name"),
        proj2.alias("project_id"),
        F.concat(proj2, F.lit("/global/networks/vpc-"), nk2).alias("vpc_id"),
        F.col("fw.priority").alias("priority"),
        F.lit("INGRESS").alias("direction"),
        F.lit("false").alias("has_target_service_accounts"),
        F.when(
            F.col("fw.kind") == "tagged", F.concat(F.lit("tag-"), nk2, F.lit("-0"))
        ).alias("target_tag"),
    )


@plan_memo
def gcp_fw_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GCPIpRule rows per firewall (reference models allowed/denied IpRules
    with IpRange membership):
      * tagged fw: ALLOW tcp 443-443 from 0.0.0.0/0 when n % 2 == 0, else
        from 10.0.0.0/8 (internal-only -> not exposed)
      * open fw:   ALLOW tcp 22-22  from 0.0.0.0/0 when n % 3 == 0, else
        from 10.0.0.0/8
      * deny fw:   DENY  tcp 0-65535 from 0.0.0.0/0 always
    Columns: rule_id, fw_id, action, protocol, fromport, toport, cidr."""
    fws = gcp_firewalls(spark, sf_dir)
    n = F.regexp_extract("fw_id", r"proj-(\d+)/", 1).cast("long")
    kind = F.regexp_extract("fw_id", r"-(tagged|open|deny)$", 1)
    action = F.when(kind == "deny", F.lit("deny")).otherwise(F.lit("allow"))
    fromport = (
        F.when(kind == "tagged", F.lit(443)).when(kind == "open", F.lit(22)).otherwise(F.lit(0))
    ).cast("long")
    toport = (
        F.when(kind == "tagged", F.lit(443)).when(kind == "open", F.lit(22)).otherwise(F.lit(65535))
    ).cast("long")
    cidr = (
        F.when(kind == "deny", F.lit("0.0.0.0/0"))
        .when((kind == "tagged") & ((n % 2) == 0), F.lit("0.0.0.0/0"))
        .when((kind == "open") & ((n % 3) == 0), F.lit("0.0.0.0/0"))
        .otherwise(F.lit("10.0.0.0/8"))
    )
    return fws.select(
        F.concat(F.col("fw_id"), F.lit("/rule/0")).alias("rule_id"),
        F.col("fw_id"),
        action.alias("action"),
        F.lit("tcp").alias("protocol"),
        fromport.alias("fromport"),
        toport.alias("toport"),
        cidr.alias("cidr"),
    )


# ---------------------------------------------------------------------------
# round-2 breadth (third batch): Route53 DNS, Kubernetes, RDS
# (fixture analogs of reference intel/aws/route53.py, intel/kubernetes/*,
#  intel/aws/rds.py; formulas stay pure modular arithmetic + concat + md5 so
#  the DuckDB oracle recomputes them exactly)
#
#   parent zone    = Z{n_nationkey}, name zone-{n}.example.com          (25)
#   subzone        = ZSUB{n}, name dev.zone-{n}.example.com   (n % 2 == 0)
#   nameserver     = ns.{zoneid}.example.net                  (one per zone)
#   A record       = host-{c}.zone-{c % 25}.example.com in Z{c % 25},
#                    value 10.{(c/7) % 250}.{c % 250}.1       (c % 7 == 0)
#   CNAME record   = alias-{c}.zone-{c % 25}.example.com in Z{c % 25},
#                    value host-{t}.zone-{t % 25}.example.com,
#                    t = 7 * floor(c / 7)                     (c % 11 == 0)
#   NS record      = one per zone (name = zone name, server = own ns) plus a
#                    delegation in each subzone's parent (name = subzone
#                    name, server = subzone ns) -> SUBZONE derivation
#   k8s cluster    = k8s-{r_regionkey}                                  (5)
#   k8s namespace  = ns-{n_nationkey} named namespace-{n} in
#                    cluster k8s-{n % 5}                                (25)
#   k8s pod        = pod-{o_orderkey} in namespace-{(o/13) % 25}
#                                                             (o % 13 == 0)
#   k8s container  = pod-{o}-c{i}, i in 0..(o % 2); image app-{o % 40},
#                    image_sha sha256:md5('code-' || (o % 40)) (ties to the
#                    ECRImage digest family for k % 3 <> 2)
#   k8s service    = svc-{s_suppkey} in namespace-{s_nationkey}
#                    (s % 9 == 0); LoadBalancer when s % 18 == 0; serves
#                    pods in its namespace with o % 5 == s % 5
#   k8s secret     = secret-{n} in namespace-{n}              (n % 2 == 1)
#   rds instance   = db-{c_custkey} in ACCT(c_nationkey)     (c % 17 == 0);
#                    storage_encrypted c % 2 == 0, publicly_accessible
#                    c % 3 == 0
# ---------------------------------------------------------------------------


@plan_memo
def dns_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route53 hosted zones: 25 parents + a dev. subzone per even nation
    (reference intel/aws/route53.py:133-147 load_zone).  Columns: zoneid,
    name, comment, privatezone, account_id."""
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    parents = n.select(
        F.concat(F.lit("Z"), nk).alias("zoneid"),
        F.concat(F.lit("zone-"), nk, F.lit(".example.com")).alias("name"),
        F.concat(F.lit("zone for nation "), nk).alias("comment"),
        ((F.col("n_nationkey") % 4) == 0).cast("string").alias("privatezone"),
        _acct(F.col("n_nationkey")).alias("account_id"),
    )
    subs = n.where((F.col("n_nationkey") % 2) == 0).select(
        F.concat(F.lit("ZSUB"), nk).alias("zoneid"),
        F.concat(F.lit("dev.zone-"), nk, F.lit(".example.com")).alias("name"),
        F.concat(F.lit("dev subzone for nation "), nk).alias("comment"),
        F.lit("false").alias("privatezone"),
        _acct(F.col("n_nationkey")).alias("account_id"),
    )
    return parents.unionByName(subs)


@plan_memo
def dns_nameservers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One authoritative NameServer per zone; official_zoneid is the zone it
    serves (reference route53.py:188-204 map_ns_records).  Columns: ns_id,
    name, official_zoneid."""
    z = dns_zones(spark, sf_dir)
    ns = F.concat(F.lit("ns."), F.col("zoneid"), F.lit(".example.net"))
    return z.select(
        ns.alias("ns_id"), ns.alias("name"), F.col("zoneid").alias("official_zoneid")
    )


@plan_memo
def dns_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route53 record sets: A, CNAME and NS families (reference
    route53.py:242-321 transform_record_set / transform_ns_records; record
    id = zoneid/name/type).  ``server`` is non-null only on NS rows.
    Columns: record_id, zoneid, name, type, value, server."""
    c = read_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    zk = (ck % 25).cast("string")
    a_name = F.concat(F.lit("host-"), ck.cast("string"), F.lit(".zone-"), zk, F.lit(".example.com"))
    a_recs = c.where((ck % 7) == 0).select(
        F.concat(F.lit("Z"), zk, F.lit("/"), a_name, F.lit("/A")).alias("record_id"),
        F.concat(F.lit("Z"), zk).alias("zoneid"),
        a_name.alias("name"),
        F.lit("A").alias("type"),
        F.concat(
            F.lit("10."), ((ck / 7).cast("long") % 250).cast("string"),
            F.lit("."), (ck % 250).cast("string"), F.lit(".1"),
        ).alias("value"),
        F.lit(None).cast("string").alias("server"),
    )
    t = (ck / 7).cast("long") * 7
    tz = (t % 25).cast("string")
    cname_name = F.concat(F.lit("alias-"), ck.cast("string"), F.lit(".zone-"), zk, F.lit(".example.com"))
    cname_recs = c.where((ck % 11) == 0).select(
        F.concat(F.lit("Z"), zk, F.lit("/"), cname_name, F.lit("/CNAME")).alias("record_id"),
        F.concat(F.lit("Z"), zk).alias("zoneid"),
        cname_name.alias("name"),
        F.lit("CNAME").alias("type"),
        F.concat(
            F.lit("host-"), t.cast("string"), F.lit(".zone-"), tz, F.lit(".example.com")
        ).alias("value"),
        F.lit(None).cast("string").alias("server"),
    )
    z = dns_zones(spark, sf_dir)
    own_ns = z.select(
        F.concat(F.col("zoneid"), F.lit("/"), F.col("name"), F.lit("/NS")).alias("record_id"),
        F.col("zoneid"),
        F.col("name"),
        F.lit("NS").alias("type"),
        F.col("name").alias("value"),
        F.concat(F.lit("ns."), F.col("zoneid"), F.lit(".example.net")).alias("server"),
    )
    # parent-side delegation NS records for each subzone (the SUBZONE
    # precondition: parent holds an NS record named like the subzone whose
    # server is the subzone's authoritative nameserver)
    n = read_table(spark, sf_dir, "nation").where((F.col("n_nationkey") % 2) == 0)
    nk = F.col("n_nationkey").cast("string")
    sub_name = F.concat(F.lit("dev.zone-"), nk, F.lit(".example.com"))
    delegation = n.select(
        F.concat(F.lit("Z"), nk, F.lit("/"), sub_name, F.lit("/NS")).alias("record_id"),
        F.concat(F.lit("Z"), nk).alias("zoneid"),
        sub_name.alias("name"),
        F.lit("NS").alias("type"),
        sub_name.alias("value"),
        F.concat(F.lit("ns.ZSUB"), nk, F.lit(".example.net")).alias("server"),
    )
    return a_recs.unionByName(cname_recs).unionByName(own_ns).unionByName(delegation)


@plan_memo
def k8s_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One KubernetesCluster per region (reference intel/kubernetes/
    namespaces.py get_namespaces derives the cluster from kube-system).
    Columns: uid, name."""
    r = read_table(spark, sf_dir, "region")
    rk = F.col("r_regionkey").cast("string")
    return r.select(
        F.concat(F.lit("k8s-"), rk).alias("uid"),
        F.concat(F.lit("cluster-"), rk).alias("name"),
    )


@plan_memo
def k8s_namespaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One namespace per nation, spread across the 5 clusters.  Columns:
    uid, name, cluster_uid."""
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey")
    return n.select(
        F.concat(F.lit("ns-"), nk.cast("string")).alias("uid"),
        F.concat(F.lit("namespace-"), nk.cast("string")).alias("name"),
        F.concat(F.lit("k8s-"), (nk % 5).cast("string")).alias("cluster_uid"),
    )


@plan_memo
def k8s_pods(spark: SparkSession, sf_dir: str, variant: str = "t1") -> DataFrame:
    """Pods from orders (o_orderkey % 13 == 0; reference pods.py get_pods).
    Columns: uid, name, status_phase, namespace, cluster_uid."""
    o = _variant_filter(read_table(spark, sf_dir, "orders"), "o_orderkey", variant)
    ok = F.col("o_orderkey")
    o = o.where((ok % 13) == 0)
    nk = ((ok / 13).cast("long") % 25).cast("string")
    return o.select(
        F.concat(F.lit("pod-"), ok.cast("string")).alias("uid"),
        F.concat(F.lit("pod-"), ok.cast("string")).alias("name"),
        F.when((ok % 2) == 0, F.lit("Running")).otherwise(F.lit("Pending")).alias("status_phase"),
        F.concat(F.lit("namespace-"), nk).alias("namespace"),
        F.concat(F.lit("k8s-"), (((ok / 13).cast("long") % 25) % 5).cast("string")).alias("cluster_uid"),
    )


@plan_memo
def k8s_containers(spark: SparkSession, sf_dir: str, variant: str = "t1") -> DataFrame:
    """1-2 containers per pod (reference pods.py containers dict; uid =
    '{pod_uid}-{container_name}').  image_sha reuses the ECRImage digest
    formula so k8s -> ECR joins are live.  Columns: uid, name, pod_uid,
    image, image_sha."""
    o = _variant_filter(read_table(spark, sf_dir, "orders"), "o_orderkey", variant)
    ok = F.col("o_orderkey")
    o = o.where((ok % 13) == 0)
    k = (ok % 40).cast("string")
    ex = o.select(
        ok.alias("ok"),
        F.explode(
            F.when((ok % 2) == 1, F.array(F.lit(0), F.lit(1))).otherwise(F.array(F.lit(0)))
        ).alias("i"),
    )
    okc = F.col("ok").cast("string")
    kk = (F.col("ok") % 40).cast("string")
    return ex.select(
        F.concat(F.lit("pod-"), okc, F.lit("-c"), F.col("i").cast("string")).alias("uid"),
        F.concat(F.lit("c"), F.col("i").cast("string")).alias("name"),
        F.concat(F.lit("pod-"), okc).alias("pod_uid"),
        F.concat(
            F.lit("registry.example.com/app-"), kk, F.lit(":v"), (F.col("ok") % 7).cast("string")
        ).alias("image"),
        F.concat(F.lit("sha256:"), F.md5(F.concat(F.lit("code-"), kk))).alias("image_sha"),
    )


@plan_memo
def k8s_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Services from supplier (s_suppkey % 9 == 0; reference services.py).
    LoadBalancer type (internet-facing) when s % 18 == 0.  Columns: uid,
    name, type, ingress_host, namespace, cluster_uid, selector_mod (the
    label-selector analog: serves pods with o % 5 == selector_mod)."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 9) == 0)
    sk = F.col("s_suppkey")
    lb = (sk % 18) == 0
    return s.select(
        F.concat(F.lit("svc-"), sk.cast("string")).alias("uid"),
        F.concat(F.lit("svc-"), sk.cast("string")).alias("name"),
        F.when(lb, F.lit("LoadBalancer")).otherwise(F.lit("ClusterIP")).alias("type"),
        F.when(
            lb, F.concat(F.lit("svc-"), sk.cast("string"), F.lit(".elb.example.com"))
        ).alias("ingress_host"),
        F.concat(F.lit("namespace-"), F.col("s_nationkey").cast("string")).alias("namespace"),
        F.concat(F.lit("k8s-"), (F.col("s_nationkey") % 5).cast("string")).alias("cluster_uid"),
        (sk % 5).alias("selector_mod"),
    )


@plan_memo
def k8s_secrets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One secret per odd namespace (reference secrets.py).  Columns: uid,
    name, type, namespace."""
    n = read_table(spark, sf_dir, "nation").where((F.col("n_nationkey") % 2) == 1)
    nk = F.col("n_nationkey").cast("string")
    return n.select(
        F.concat(F.lit("secret-"), nk).alias("uid"),
        F.concat(F.lit("secret-"), nk).alias("name"),
        F.lit("Opaque").alias("type"),
        F.concat(F.lit("namespace-"), nk).alias("namespace"),
    )


@plan_memo
def rds_instances(spark: SparkSession, sf_dir: str, variant: str = "t1") -> DataFrame:
    """RDS instances from customer (c_custkey % 17 == 0; reference
    intel/aws/rds.py load_rds_instances keys on DBInstanceArn).  Columns:
    arn, db_instance_identifier, endpoint_address, storage_encrypted,
    publicly_accessible, account_id."""
    c = _variant_filter(read_table(spark, sf_dir, "customer"), "c_custkey", variant)
    ck = F.col("c_custkey")
    c = c.where((ck % 17) == 0)
    name = F.concat(F.lit("db-"), ck.cast("string"))
    engine = (
        F.when((ck % 7) < 3, F.lit("postgres"))
        .when((ck % 7) < 5, F.lit("mysql"))
        .otherwise(F.lit("aurora"))
    )
    return c.select(
        F.concat(
            F.lit("arn:aws:rds:us-east-1:"), _acct(F.col("c_nationkey")), F.lit(":db:"), name
        ).alias("arn"),
        name.alias("db_instance_identifier"),
        F.concat(name, F.lit(".cluster.us-east-1.rds.example.com")).alias("endpoint_address"),
        ((ck % 2) == 0).cast("string").alias("storage_encrypted"),
        ((ck % 3) == 0).cast("string").alias("publicly_accessible"),
        # round-5 property tranche (reference intel/aws/rds.py:140-171):
        # engine/version, port, HA + protection flags, create time
        engine.alias("engine"),
        F.concat((ck % 4 + 11).cast("string"), F.lit("."), (ck % 10).cast("string")).alias(
            "engine_version"
        ),
        F.when(engine == "postgres", F.lit(5432)).otherwise(F.lit(3306))
        .cast("string")
        .alias("endpoint_port"),
        ((ck % 5) == 0).cast("string").alias("multi_az"),
        ((ck % 4) == 0).cast("string").alias("deletion_protection"),
        ((ck % 6) == 0).cast("string").alias("iam_database_authentication_enabled"),
        (ck * 500 + 1500000000).cast("string").alias("instance_create_time"),
        _acct(F.col("c_nationkey")).alias("account_id"),
    )


# ---------------------------------------------------------------------------
# round-2 breadth (fourth batch): GSuite, DigitalOcean, Elasticsearch
#
#   gsuite user    = gsuite-{c_custkey}, email user-{c}@corp-{nk}.example.com
#                    (c % 8 == 0; same email grammar as humans/okta so the
#                    identity-resolution path can pick them up)
#   gsuite group   = ggroup-{n_nationkey}; nested under ggroup-{n % 5} for
#                    n >= 5 (roots are 0..4) -> 2-level nesting
#   do account     = do-acct-{r_regionkey}                              (5)
#   do project     = do-proj-{n_nationkey} owned by do-acct-{n % 5}    (25)
#   do droplet     = do-droplet-{p_partkey} in do-proj-{(p/37) % 25}
#                                                             (p % 37 == 0)
#   es domain      = es-{s_suppkey} in ACCT(s_nationkey) with endpoint
#                    search-es-{s}.us-east-1.es.example.com   (s % 7 == 0)
# ---------------------------------------------------------------------------


@plan_memo
def gsuite_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GSuite users (reference intel/gsuite/api.py:152-186 load_gsuite_users).
    Columns: id, email, name, nationkey."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 8) == 0)
    ck = F.col("c_custkey").cast("string")
    return c.select(
        F.concat(F.lit("gsuite-"), ck).alias("id"),
        F.concat(
            F.lit("user-"), ck, F.lit("@corp-"), F.col("c_nationkey").cast("string"),
            F.lit(".example.com"),
        ).alias("email"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
    )


@plan_memo
def gsuite_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GSuite groups with 2-level nesting (reference api.py:130-150
    load_gsuite_groups; api.py:206-214 group-in-group members).  Columns:
    id, email, parent_id (null for the 5 roots)."""
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    return n.select(
        F.concat(F.lit("ggroup-"), nk).alias("id"),
        F.concat(F.lit("group-"), nk, F.lit("@corp.example.com")).alias("email"),
        F.when(
            F.col("n_nationkey") >= 5,
            F.concat(F.lit("ggroup-"), (F.col("n_nationkey") % 5).cast("string")),
        ).alias("parent_id"),
    )


@plan_memo
def do_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DigitalOcean accounts (reference intel/digitalocean/platform.py:50).
    Columns: id."""
    r = read_table(spark, sf_dir, "region")
    return r.select(F.concat(F.lit("do-acct-"), F.col("r_regionkey").cast("string")).alias("id"))


@plan_memo
def do_projects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DO projects owned by accounts (reference management.py:78-96).
    Columns: id, name, account_id."""
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    return n.select(
        F.concat(F.lit("do-proj-"), nk).alias("id"),
        F.concat(F.lit("project-"), nk).alias("name"),
        F.concat(F.lit("do-acct-"), (F.col("n_nationkey") % 5).cast("string")).alias("account_id"),
    )


@plan_memo
def do_droplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DO droplets in projects (reference compute.py:85-112).  Columns: id,
    name, region, project_id."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 37) == 0)
    pk = F.col("p_partkey")
    return p.select(
        F.concat(F.lit("do-droplet-"), pk.cast("string")).alias("id"),
        F.concat(F.lit("droplet-"), pk.cast("string")).alias("name"),
        F.lit("nyc3").alias("region"),
        F.concat(
            F.lit("do-proj-"), ((pk / 37).cast("long") % 25).cast("string")
        ).alias("project_id"),
    )


@plan_memo
def es_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch domains (reference intel/aws/elasticsearch.py:40-95).
    Columns: domain_id, arn, endpoint, account_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 7) == 0)
    sk = F.col("s_suppkey").cast("string")
    return s.select(
        F.concat(F.lit("es-"), sk).alias("domain_id"),
        F.concat(
            F.lit("arn:aws:es:us-east-1:"), _acct(F.col("s_nationkey")),
            F.lit(":domain/es-"), sk,
        ).alias("arn"),
        F.concat(F.lit("search-es-"), sk, F.lit(".us-east-1.es.example.com")).alias("endpoint"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


# ---------------------------------------------------------------------------
# round-2 breadth (fifth batch): SQS, KMS, DynamoDB, API Gateway, ECS
#
#   sqs queue      = arn:aws:sqs:us-east-1:ACCT((o/19) % 25):queue-{o}
#                    (o % 19 == 0); queues with o % 38 == 0 redrive to
#                    queue-{o-19} (the previous queue key -> DLQ self-join)
#   kms key        = kms-{s_suppkey} in ACCT(s_nationkey) (s % 11 == 0);
#                    rotation_enabled = s % 2 == 0; one alias each
#   dynamodb table = table-{c_custkey} (c % 13 == 0), gsi_count c % 4
#   apigw rest api = api-{n_nationkey} (25); stages dev+prod per api;
#                    resources res-{p_partkey} on api-{(p/23) % 25}
#                    (p % 23 == 0)
#   ecs cluster    = ecs-cluster-{r_regionkey} (5)
#   ecs service    = ecs-svc-{s_suppkey} in ecs-cluster-{s_nationkey % 5}
#                    (s % 6 == 0) with task def td-{s}:1
#   ecs task       = ecs-task-{o_orderkey} (o % 17 == 0) in
#                    ecs-cluster-{(o/17) % 5}, referencing td-{6*((o/17)%50)}:1
#                    (dropped by the join when that supplier key is absent);
#                    one container each with the ECRImage digest family
# ---------------------------------------------------------------------------


@plan_memo
def sqs_queues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQS queues + redrive targets (reference intel/aws/sqs.py:60-135).
    Columns: arn, name, account_id, redrive_target (null unless o%38==0)."""
    o = read_table(spark, sf_dir, "orders").where((F.col("o_orderkey") % 19) == 0)
    ok = F.col("o_orderkey")
    j = (ok / 19).cast("long")
    arn_of = lambda key, jj: F.concat(  # noqa: E731
        F.lit("arn:aws:sqs:us-east-1:"), _acct(jj % 25), F.lit(":queue-"), key.cast("string")
    )
    return o.select(
        arn_of(ok, j).alias("arn"),
        F.concat(F.lit("queue-"), ok.cast("string")).alias("name"),
        _acct(j % 25).alias("account_id"),
        F.when((ok % 38) == 0, arn_of(ok - 19, j - 1)).alias("redrive_target"),
    )


@plan_memo
def kms_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMS keys (reference kms.py:295-320).  Columns: key_id,
    rotation_enabled, account_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 11) == 0)
    sk = F.col("s_suppkey")
    return s.select(
        F.concat(F.lit("kms-"), sk.cast("string")).alias("key_id"),
        ((sk % 2) == 0).cast("string").alias("rotation_enabled"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


@plan_memo
def kms_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One alias per key (reference kms.py:115-130 KNOWN_AS).  Columns:
    alias_arn, target_key_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 11) == 0)
    sk = F.col("s_suppkey").cast("string")
    return s.select(
        F.concat(
            F.lit("arn:aws:kms:us-east-1:"), _acct(F.col("s_nationkey")),
            F.lit(":alias/alias-"), sk,
        ).alias("alias_arn"),
        F.concat(F.lit("kms-"), sk).alias("target_key_id"),
    )


@plan_memo
def dynamodb_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DynamoDB tables (reference dynamodb.py load_dynamodb_tables).
    Columns: arn, name, gsi_count, account_id."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 13) == 0)
    ck = F.col("c_custkey")
    return c.select(
        F.concat(
            F.lit("arn:aws:dynamodb:us-east-1:"), _acct(F.col("c_nationkey")),
            F.lit(":table/table-"), ck.cast("string"),
        ).alias("arn"),
        F.concat(F.lit("table-"), ck.cast("string")).alias("name"),
        (ck % 4).cast("string").alias("gsi_count"),
        _acct(F.col("c_nationkey")).alias("account_id"),
    )


@plan_memo
def apigw_rest_apis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REST API per nation (reference apigateway.py:115-131).  Columns:
    api_id, name, account_id."""
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    return n.select(
        F.concat(F.lit("api-"), nk).alias("api_id"),
        F.concat(F.lit("restapi-"), nk).alias("name"),
        _acct(F.col("n_nationkey")).alias("account_id"),
    )


@plan_memo
def apigw_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dev + prod stage per API (reference apigateway.py:185-210).  Columns:
    stage_arn, stage_name, api_id."""
    apis = apigw_rest_apis(spark, sf_dir)
    ex = apis.select("api_id", F.explode(F.array(F.lit("dev"), F.lit("prod"))).alias("stage_name"))
    return ex.select(
        F.concat(F.col("api_id"), F.lit("/stages/"), F.col("stage_name")).alias("stage_arn"),
        F.col("stage_name"),
        F.col("api_id"),
    )


@plan_memo
def apigw_resources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API resources (reference apigateway.py:258-275).  Columns:
    resource_id, path, api_id."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 23) == 0)
    pk = F.col("p_partkey")
    return p.select(
        F.concat(F.lit("res-"), pk.cast("string")).alias("resource_id"),
        F.concat(F.lit("/v"), (pk % 3).cast("string"), F.lit("/items")).alias("path"),
        F.concat(F.lit("api-"), ((pk / 23).cast("long") % 25).cast("string")).alias("api_id"),
    )


@plan_memo
def ecs_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECS clusters (reference ecs.py:130-160).  Columns: arn, name."""
    r = read_table(spark, sf_dir, "region")
    rk = F.col("r_regionkey").cast("string")
    return r.select(
        F.concat(F.lit("ecs-cluster-"), rk).alias("arn"),
        F.concat(F.lit("cluster-"), rk).alias("name"),
    )


@plan_memo
def ecs_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECS services with task definitions (reference ecs.py:225-270).
    Columns: arn, name, cluster_arn, task_def_arn."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 6) == 0)
    sk = F.col("s_suppkey").cast("string")
    return s.select(
        F.concat(F.lit("ecs-svc-"), sk).alias("arn"),
        F.concat(F.lit("svc-"), sk).alias("name"),
        F.concat(F.lit("ecs-cluster-"), (F.col("s_nationkey") % 5).cast("string")).alias("cluster_arn"),
        F.concat(F.lit("td-"), sk, F.lit(":1")).alias("task_def_arn"),
    )


@plan_memo
def ecs_task_defs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Task definitions, one per service (reference ecs.py:285-330).
    Columns: arn, family, account_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 6) == 0)
    sk = F.col("s_suppkey").cast("string")
    return s.select(
        F.concat(F.lit("td-"), sk, F.lit(":1")).alias("arn"),
        F.concat(F.lit("family-"), sk).alias("family"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


@plan_memo
def ecs_tasks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running tasks with one container each (reference ecs.py:360-420 +
    container load).  task_def_ref points into the service task-def space
    and is validated by the join (absent keys drop).  Columns: arn,
    cluster_arn, task_def_ref, container_id, image_digest."""
    o = read_table(spark, sf_dir, "orders").where((F.col("o_orderkey") % 17) == 0)
    ok = F.col("o_orderkey")
    j = (ok / 17).cast("long")
    return o.select(
        F.concat(F.lit("ecs-task-"), ok.cast("string")).alias("arn"),
        F.concat(F.lit("ecs-cluster-"), (j % 5).cast("string")).alias("cluster_arn"),
        F.concat(F.lit("td-"), (6 * (j % 50)).cast("string"), F.lit(":1")).alias("task_def_ref"),
        F.concat(F.lit("ecs-container-"), ok.cast("string")).alias("container_id"),
        F.concat(F.lit("sha256:"), F.md5(F.concat(F.lit("code-"), (ok % 40).cast("string")))).alias("image_digest"),
    )


# ---------------------------------------------------------------------------
# round-2 breadth (sixth batch): Azure storage + SQL
#
#   storage account = sa{c_custkey} in sub-{c % 5}            (c % 19 == 0);
#                     one blob service each; containers docs+logs, with
#                     public access on 'docs' when c % 3 == 0
#   sql server      = sqlsrv-{s_suppkey} in sub-{s_nationkey % 5}
#                     (s % 13 == 0); databases db0 (+db1 when s % 26 == 0)
# ---------------------------------------------------------------------------


@plan_memo
def azure_storage_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage accounts (reference intel/azure/storage.py:60-90).  Columns:
    account_id, name, subscription_id."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 19) == 0)
    ck = F.col("c_custkey")
    sub = F.concat(F.lit("sub-"), (ck % 5).cast("string"))
    return c.select(
        F.concat(
            F.lit("/subscriptions/"), sub,
            F.lit("/resourceGroups/rg-0/providers/Microsoft.Storage/storageAccounts/sa"),
            ck.cast("string"),
        ).alias("account_id"),
        F.concat(F.lit("sa"), ck.cast("string")).alias("name"),
        sub.alias("subscription_id"),
    )


@plan_memo
def azure_blob_containers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob service + containers per account (reference storage.py:360-380
    USES, :540-560 CONTAINS).  Columns: container_id, blob_service_id,
    account_id, name, public_access."""
    sa = azure_storage_accounts(spark, sf_dir)
    bs = sa.select(
        "account_id",
        F.concat(F.col("account_id"), F.lit("/blobServices/default")).alias("blob_service_id"),
    )
    ex = bs.select(
        "account_id", "blob_service_id",
        F.explode(F.array(F.lit("docs"), F.lit("logs"))).alias("name"),
    )
    ck = F.regexp_extract("account_id", r"storageAccounts/sa(\d+)", 1).cast("long")
    return ex.select(
        F.concat(F.col("blob_service_id"), F.lit("/containers/"), F.col("name")).alias("container_id"),
        "blob_service_id",
        "account_id",
        "name",
        (((ck % 3) == 0) & (F.col("name") == "docs")).cast("string").alias("public_access"),
    )


@plan_memo
def azure_sql_servers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL servers (reference intel/azure/sql.py:60-85).  Columns:
    server_id, name, subscription_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 13) == 0)
    sk = F.col("s_suppkey")
    sub = F.concat(F.lit("sub-"), (F.col("s_nationkey") % 5).cast("string"))
    return s.select(
        F.concat(
            F.lit("/subscriptions/"), sub,
            F.lit("/resourceGroups/rg-0/providers/Microsoft.Sql/servers/sqlsrv-"),
            sk.cast("string"),
        ).alias("server_id"),
        F.concat(F.lit("sqlsrv-"), sk.cast("string")).alias("name"),
        sub.alias("subscription_id"),
    )


@plan_memo
def azure_sql_databases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Databases per server (reference sql.py:570-600).  Columns: db_id,
    server_id, name."""
    srv = azure_sql_servers(spark, sf_dir)
    sk = F.regexp_extract("server_id", r"servers/sqlsrv-(\d+)", 1).cast("long")
    ex = srv.select(
        "server_id",
        F.explode(
            F.when((sk % 26) == 0, F.array(F.lit("db0"), F.lit("db1"))).otherwise(F.array(F.lit("db0")))
        ).alias("name"),
    )
    return ex.select(
        F.concat(F.col("server_id"), F.lit("/databases/"), F.col("name")).alias("db_id"),
        "server_id",
        "name",
    )


# ---------------------------------------------------------------------------
# round-2 breadth (seventh batch): device + SaaS identity tier
# (Crowdstrike, Duo, Kandji, Jamf, Lastpass, Semgrep, SnipeIT, Bigfix)
#
#   crowdstrike host = cs-host-{c_custkey} (c % 21 == 0); 1 + (c % 3)
#                      Spotlight vulns each, cve CVE-2024-{(c + 7i) % 900}
#   duo user         = duo-{c_custkey} (c % 4 == 0), email grammar shared
#                      with Human (c % 3 == 0) -> identity joins filter
#   duo phone        = duo-phone-{c} for duo users with c % 8 == 0
#   kandji device    = kandji-{p_partkey} (p % 43 == 0), single tenant
#   jamf group       = jamf-group-{n_nationkey}
#   lastpass user    = lp-{c_custkey} (c % 10 == 0), email grammar ->
#                      IDENTITY_LASTPASS joins Humans at c % 30 == 0
#   semgrep finding  = sca-{p_partkey} (p % 29 == 0) on github repo
#                      repo-{50 * ((p/29) % 40)} (absent repos drop via the
#                      join), cve CVE-2023-{p % 500}
#   snipeit asset    = snipe-asset-{p_partkey} (p % 41 == 0) checked out to
#                      snipe-user-{14 * ((p/41) % 150)} (existence-gated)
#   snipeit user     = snipe-user-{c_custkey} (c % 14 == 0)
#   bigfix computer  = bigfix-{s_suppkey} (s % 5 == 0)
# ---------------------------------------------------------------------------


@plan_memo
def crowdstrike_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crowdstrike hosts (reference intel/crowdstrike/endpoints.py:35).
    Columns: device_id, hostname, platform."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 21) == 0)
    ck = F.col("c_custkey")
    return c.select(
        F.concat(F.lit("cs-host-"), ck.cast("string")).alias("device_id"),
        F.concat(F.lit("host"), ck.cast("string")).alias("hostname"),
        F.element_at(
            F.array(F.lit("Windows"), F.lit("Mac"), F.lit("Linux")), (ck % 3 + 1).cast("int")
        ).alias("platform"),
    )


@plan_memo
def spotlight_vulns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spotlight vulnerabilities, 1 + (c % 3) per host, each carrying a CVE
    (reference intel/crowdstrike/spotlight.py:35-103).  Columns: vuln_id,
    device_id, cve_id."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 21) == 0)
    ck = F.col("c_custkey")
    ex = c.select(
        ck.alias("ck"),
        F.explode(F.sequence(F.lit(0), (ck % 3).cast("int"))).alias("i"),
    )
    cve = F.concat(
        F.lit("CVE-2024-"), ((F.col("ck") + 7 * F.col("i")) % 900).cast("string")
    )
    return ex.select(
        F.concat(
            F.lit("cs-host-"), F.col("ck").cast("string"), F.lit("/"), cve
        ).alias("vuln_id"),
        F.concat(F.lit("cs-host-"), F.col("ck").cast("string")).alias("device_id"),
        cve.alias("cve_id"),
    )


@plan_memo
def duo_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duo users under one api host (reference intel/duo/users.py;
    models/duo/user.py).  Columns: user_id, email, api_host."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 4) == 0)
    ck = F.col("c_custkey").cast("string")
    return c.select(
        F.concat(F.lit("duo-"), ck).alias("user_id"),
        F.concat(
            F.lit("user-"), ck, F.lit("@corp-"), F.col("c_nationkey").cast("string"),
            F.lit(".example.com"),
        ).alias("email"),
        F.lit("api-host.duosecurity.com").alias("api_host"),
    )


@plan_memo
def duo_phones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One phone per duo user with c % 8 == 0 (reference intel/duo/phones.py).
    Columns: phone_id, user_id, platform."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 8) == 0)
    ck = F.col("c_custkey").cast("string")
    return c.select(
        F.concat(F.lit("duo-phone-"), ck).alias("phone_id"),
        F.concat(F.lit("duo-"), ck).alias("user_id"),
        F.when((F.col("c_custkey") % 16) == 0, F.lit("ios")).otherwise(F.lit("android")).alias("platform"),
    )


@plan_memo
def kandji_devices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kandji devices under one tenant (reference models/kandji/device.py).
    Columns: device_id, name, tenant_id."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 43) == 0)
    pk = F.col("p_partkey").cast("string")
    return p.select(
        F.concat(F.lit("kandji-"), pk).alias("device_id"),
        F.concat(F.lit("mac-"), pk).alias("name"),
        F.lit("kandji-tenant").alias("tenant_id"),
    )


@plan_memo
def jamf_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jamf computer groups (reference intel/jamf/computers.py:24).
    Columns: group_id, name."""
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    return n.select(
        F.concat(F.lit("jamf-group-"), nk).alias("group_id"),
        F.concat(F.lit("jamf-"), nk).alias("name"),
    )


@plan_memo
def lastpass_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lastpass users (reference models/lastpass/user.py: IDENTITY_LASTPASS
    joins Human by email).  Columns: user_id, email, tenant_id."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 10) == 0)
    ck = F.col("c_custkey").cast("string")
    return c.select(
        F.concat(F.lit("lp-"), ck).alias("user_id"),
        F.concat(
            F.lit("user-"), ck, F.lit("@corp-"), F.col("c_nationkey").cast("string"),
            F.lit(".example.com"),
        ).alias("email"),
        F.lit("lastpass-tenant").alias("tenant_id"),
    )


@plan_memo
def semgrep_findings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semgrep SCA findings on GitHub repos (reference
    models/semgrep/findings.py: FOUND_IN -> GitHubRepository, LINKED_TO ->
    CVE).  Repo refs that do not exist drop via the join.  Columns:
    finding_id, repo_url, cve_id, severity, deployment_id."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 29) == 0)
    pk = F.col("p_partkey")
    repo_key = (50 * ((pk / 29).cast("long") % 40)).cast("string")
    return p.select(
        F.concat(F.lit("sca-"), pk.cast("string")).alias("finding_id"),
        F.concat(F.lit("https://github.com/corp/repo-"), repo_key).alias("repo_url"),
        F.concat(F.lit("CVE-2023-"), (pk % 500).cast("string")).alias("cve_id"),
        F.element_at(
            F.array(F.lit("LOW"), F.lit("MEDIUM"), F.lit("HIGH")), (pk % 3 + 1).cast("int")
        ).alias("severity"),
        F.lit("sg-deploy").alias("deployment_id"),
    )


@plan_memo
def snipeit_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SnipeIT users (reference models/snipeit/user.py).  Columns: user_id,
    name, tenant_id."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 14) == 0)
    ck = F.col("c_custkey").cast("string")
    return c.select(
        F.concat(F.lit("snipe-user-"), ck).alias("user_id"),
        F.col("c_name").alias("name"),
        F.lit("snipeit-tenant").alias("tenant_id"),
    )


@plan_memo
def snipeit_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SnipeIT assets checked out to users (reference
    models/snipeit/asset.py: HAS_CHECKED_OUT; absent users drop via the
    join).  Columns: asset_id, name, tenant_id, checked_out_to."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 41) == 0)
    pk = F.col("p_partkey")
    user_key = (14 * ((pk / 41).cast("long") % 150)).cast("string")
    return p.select(
        F.concat(F.lit("snipe-asset-"), pk.cast("string")).alias("asset_id"),
        F.concat(F.lit("laptop-"), pk.cast("string")).alias("name"),
        F.lit("snipeit-tenant").alias("tenant_id"),
        F.concat(F.lit("snipe-user-"), user_key).alias("checked_out_to"),
    )


@plan_memo
def bigfix_computers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigfix computers (reference models/bigfix/bigfix_computer.py).
    Columns: computer_id, name, root_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 5) == 0)
    sk = F.col("s_suppkey").cast("string")
    return s.select(
        F.concat(F.lit("bigfix-"), sk).alias("computer_id"),
        F.concat(F.lit("bf-host-"), sk).alias("name"),
        F.lit("bigfix-root").alias("root_id"),
    )


# ---------------------------------------------------------------------------
# round-2 breadth (eighth batch): PagerDuty + OCI (completes the provider
# sweep vs the reference's intel/ directory)
#
#   pd team     = pd-team-{n_nationkey}; pd ep = pd-ep-{n}; pd schedule =
#                 pd-sched-{n}                                         (25)
#   pd user     = pd-user-{c_custkey} (c % 15 == 0), member of the team and
#                 (when c % 30 == 0) the schedule of c_nationkey
#   pd service  = pd-svc-{s_suppkey} (s % 8 == 0) on team/ep of s_nationkey
#   oci tenancy = oci-tenancy-0 (single); compartment oci-comp-{n} per
#                 nation; user oci-user-{c} (c % 16 == 0) member of
#                 oci-group-{c_nationkey}
# ---------------------------------------------------------------------------


@plan_memo
def pd_teams(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    return n.select(
        F.concat(F.lit("pd-team-"), nk).alias("team_id"),
        F.concat(F.lit("team-"), nk).alias("name"),
    )


@plan_memo
def pd_escalation_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    return n.select(
        F.concat(F.lit("pd-ep-"), nk).alias("ep_id"),
        F.concat(F.lit("ep-"), nk).alias("name"),
    )


@plan_memo
def pd_schedules(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    return n.select(
        F.concat(F.lit("pd-sched-"), nk).alias("schedule_id"),
        F.concat(F.lit("oncall-"), nk).alias("name"),
    )


@plan_memo
def pd_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columns: user_id, name, team_id, schedule_id (null unless c%30==0)."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 15) == 0)
    ck = F.col("c_custkey")
    nk = F.col("c_nationkey").cast("string")
    return c.select(
        F.concat(F.lit("pd-user-"), ck.cast("string")).alias("user_id"),
        F.col("c_name").alias("name"),
        F.concat(F.lit("pd-team-"), nk).alias("team_id"),
        F.when((ck % 30) == 0, F.concat(F.lit("pd-sched-"), nk)).alias("schedule_id"),
    )


@plan_memo
def pd_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columns: service_id, name, team_id, ep_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 8) == 0)
    sk = F.col("s_suppkey").cast("string")
    nk = F.col("s_nationkey").cast("string")
    return s.select(
        F.concat(F.lit("pd-svc-"), sk).alias("service_id"),
        F.concat(F.lit("svc-"), sk).alias("name"),
        F.concat(F.lit("pd-team-"), nk).alias("team_id"),
        F.concat(F.lit("pd-ep-"), nk).alias("ep_id"),
    )


@plan_memo
def oci_compartments(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    return n.select(
        F.concat(F.lit("oci-comp-"), nk).alias("ocid"),
        F.concat(F.lit("compartment-"), nk).alias("name"),
        F.lit("oci-tenancy-0").alias("tenancy_ocid"),
    )


@plan_memo
def oci_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    return n.select(
        F.concat(F.lit("oci-group-"), nk).alias("ocid"),
        F.concat(F.lit("group-"), nk).alias("name"),
        F.lit("oci-tenancy-0").alias("tenancy_ocid"),
    )


@plan_memo
def oci_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columns: ocid, name, tenancy_ocid, group_ocid."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 16) == 0)
    ck = F.col("c_custkey").cast("string")
    return c.select(
        F.concat(F.lit("oci-user-"), ck).alias("ocid"),
        F.col("c_name").alias("name"),
        F.lit("oci-tenancy-0").alias("tenancy_ocid"),
        F.concat(F.lit("oci-group-"), F.col("c_nationkey").cast("string")).alias("group_ocid"),
    )


# ---------------------------------------------------------------------------
# round-2 breadth (ninth batch): Redshift, ElastiCache, Secrets Manager
#
#   redshift cluster = redshift-{s_suppkey} (s % 21 == 0) in
#                      ACCT(s_nationkey); publicly_accessible s % 2 == 0,
#                      encrypted s % 3 == 0; member of EC2 security group
#                      sg-{10 * ((s/21) % 200)} (existence-gated join into
#                      the EC2 SG population)
#   elasticache      = ec-{o_orderkey} (o % 29 == 0); an SNS topic
#                      topic-ec-{o} when o % 58 == 0 (CACHE_CLUSTER edge)
#   secret           = sec-{c_custkey} (c % 23 == 0); rotation_enabled
#                      c % 2 == 0
# ---------------------------------------------------------------------------


@plan_memo
def redshift_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redshift clusters (reference intel/aws/redshift.py:40-100).
    Columns: arn, publicly_accessible, encrypted, account_id, sg_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 21) == 0)
    sk = F.col("s_suppkey")
    return s.select(
        F.concat(
            F.lit("arn:aws:redshift:us-east-1:"), _acct(F.col("s_nationkey")),
            F.lit(":cluster:redshift-"), sk.cast("string"),
        ).alias("arn"),
        ((sk % 2) == 0).cast("string").alias("publicly_accessible"),
        ((sk % 3) == 0).cast("string").alias("encrypted"),
        _acct(F.col("s_nationkey")).alias("account_id"),
        F.concat(F.lit("sg-"), (10 * ((sk / 21).cast("long") % 200)).cast("string")).alias("sg_id"),
    )


@plan_memo
def elasticache_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ElastiCache clusters + optional notification topics (reference
    intel/aws/elasticache.py:50-90).  Columns: arn, name, account_id,
    topic_arn (null unless o % 58 == 0)."""
    o = read_table(spark, sf_dir, "orders").where((F.col("o_orderkey") % 29) == 0)
    ok = F.col("o_orderkey")
    j = (ok / 29).cast("long")
    return o.select(
        F.concat(
            F.lit("arn:aws:elasticache:us-east-1:"), _acct(j % 25),
            F.lit(":cluster:ec-"), ok.cast("string"),
        ).alias("arn"),
        F.concat(F.lit("ec-"), ok.cast("string")).alias("name"),
        _acct(j % 25).alias("account_id"),
        F.when(
            (ok % 58) == 0,
            F.concat(
                F.lit("arn:aws:sns:us-east-1:"), _acct(j % 25),
                F.lit(":topic-ec-"), ok.cast("string"),
            ),
        ).alias("topic_arn"),
    )


@plan_memo
def secretsmanager_secrets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secrets (reference intel/aws/secretsmanager.py:30-55).  Columns:
    arn, name, rotation_enabled, account_id."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 23) == 0)
    ck = F.col("c_custkey")
    return c.select(
        F.concat(
            F.lit("arn:aws:secretsmanager:us-east-1:"), _acct(F.col("c_nationkey")),
            F.lit(":secret:sec-"), ck.cast("string"),
        ).alias("arn"),
        F.concat(F.lit("sec-"), ck.cast("string")).alias("name"),
        ((ck % 2) == 0).cast("string").alias("rotation_enabled"),
        _acct(F.col("c_nationkey")).alias("account_id"),
    )


# ---------------------------------------------------------------------------
# round-2 breadth (tenth batch): SSM + Inspector
#
#   ssm info       = i-{s_suppkey}/info (s % 4 == 0)
#   ssm patch      = i-{s_suppkey}/patch/KB{s % 50} (s % 3 == 0);
#                    state Installed unless s % 6 == 3 (Missing)
#   inspector      = finding-{o_orderkey} (o % 31 == 0), AFFECTS instance
#                    i-{(o/31) % 300} (existence-gated — supplier keys are
#                    contiguous so refs beyond the table or i-0 drop);
#                    severity by o % 4, cve CVE-2024-{o % 900} (shared CVE
#                    grammar with the Crowdstrike feed)
# ---------------------------------------------------------------------------


@plan_memo
def ssm_instance_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSM instance information (reference models/aws/ssm/
    instance_information.py).  Columns: info_id, instance_id,
    platform_type, agent_version, account_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 4) == 0)
    sk = F.col("s_suppkey")
    inst = F.concat(F.lit("i-"), sk.cast("string"))
    return s.select(
        F.concat(inst, F.lit("/info")).alias("info_id"),
        inst.alias("instance_id"),
        F.when((sk % 8) == 0, F.lit("Windows")).otherwise(F.lit("Linux")).alias("platform_type"),
        F.concat(F.lit("3."), (sk % 5).cast("string"), F.lit(".0")).alias("agent_version"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


@plan_memo
def ssm_instance_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSM patch state per instance (reference models/aws/ssm/
    instance_patch.py).  Columns: patch_id, instance_id, title, state,
    account_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 3) == 0)
    sk = F.col("s_suppkey")
    inst = F.concat(F.lit("i-"), sk.cast("string"))
    return s.select(
        F.concat(inst, F.lit("/patch/KB"), (sk % 50).cast("string")).alias("patch_id"),
        inst.alias("instance_id"),
        F.concat(F.lit("KB"), (sk % 50).cast("string")).alias("title"),
        F.when((sk % 6) == 3, F.lit("Missing")).otherwise(F.lit("Installed")).alias("state"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


@plan_memo
def inspector_findings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inspector findings (reference models/aws/inspector/findings.py).
    Columns: finding_id, instance_ref, severity, ftype, cve_id,
    account_id."""
    o = read_table(spark, sf_dir, "orders").where((F.col("o_orderkey") % 31) == 0)
    ok = F.col("o_orderkey")
    j = (ok / 31).cast("long")
    return o.select(
        F.concat(F.lit("finding-"), ok.cast("string")).alias("finding_id"),
        F.concat(F.lit("i-"), (j % 300).cast("string")).alias("instance_ref"),
        F.element_at(
            F.array(F.lit("LOW"), F.lit("MEDIUM"), F.lit("HIGH"), F.lit("CRITICAL")),
            (ok % 4 + 1).cast("int"),
        ).alias("severity"),
        F.lit("PACKAGE_VULNERABILITY").alias("ftype"),
        F.concat(F.lit("CVE-2024-"), (ok % 900).cast("string")).alias("cve_id"),
        _acct(j % 25).alias("account_id"),
    )


# --- EC2 network family + load balancers (round 3) ---------------------------


@plan_memo
def ec2_vpcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AWSVpc per nation (reference intel/aws/ec2/vpc.py:100-130 MERGEs
    AWSVpc{id: vpcid} under the account RESOURCE edge).
    Columns: vpc_id, primary_cidr, account_id."""
    n = read_table(spark, sf_dir, "nation")
    return n.select(
        F.concat(F.lit("vpc-"), F.col("n_nationkey").cast("string")).alias("vpc_id"),
        F.concat(
            F.lit("10."), F.col("n_nationkey").cast("string"), F.lit(".0.0/16")
        ).alias("primary_cidr"),
        _acct(F.col("n_nationkey")).alias("account_id"),
    )


@plan_memo
def ec2_subnets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EC2Subnet per security-group key (same part-derived population, so
    subnet ids line up with the sg/instance key space).  Reference
    intel/aws/ec2/subnets.py:30-60 (EC2Subnet{subnetid} -[:MEMBER_OF_AWS_VPC]->
    AWSVpc).  Columns: subnet_id, vpc_id, account_id."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 10) == 0)
    acct_key = (F.col("p_partkey") / 10).cast("long") % 25
    return p.select(
        F.concat(F.lit("subnet-"), F.col("p_partkey").cast("string")).alias("subnet_id"),
        F.concat(F.lit("vpc-"), acct_key.cast("string")).alias("vpc_id"),
        _acct(acct_key).alias("account_id"),
    )


@plan_memo
def ec2_network_interfaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetworkInterface for odd instances — a *secondary* ENI whose security
    group differs from the instance's direct membership, so the ENI-hop leg
    of the exposure walk (MEMBER_OF_EC2_SECURITY_GROUP|NETWORK_INTERFACE*..2)
    adds real reach.  Reference models/aws/ec2/networkinterface_instance.py
    (instance -[:NETWORK_INTERFACE]-> eni -[:MEMBER_OF_EC2_SECURITY_GROUP]->
    sg, eni -[:PART_OF_SUBNET]-> subnet).
    Columns: eni_id, instance_id, sg_id, subnet_id, private_ip, account_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 2) == 1)
    n_parts = read_table(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("n_part"))
    s = s.crossJoin(F.broadcast(n_parts))
    sk = F.col("s_suppkey")
    sg2 = (sk * 20) % F.col("n_part")
    sub = (sk * 10) % F.col("n_part")
    return s.select(
        F.concat(F.lit("eni-"), sk.cast("string")).alias("eni_id"),
        F.concat(F.lit("i-"), sk.cast("string")).alias("instance_id"),
        F.concat(F.lit("sg-"), (sg2 - (sg2 % 10)).cast("string")).alias("sg_id"),
        F.concat(F.lit("subnet-"), (sub - (sub % 10)).cast("string")).alias("subnet_id"),
        F.concat(
            F.lit("10.0."), (sk % 250).cast("string"), F.lit("."), (sk % 200).cast("string")
        ).alias("private_ip"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


@plan_memo
def elb_load_balancers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic ELBs (reference intel/aws/ec2/load_balancers.py:80-160):
    LoadBalancer{id: dnsname} with a SOURCE_SECURITY_GROUP edge matched by
    the security group's *name* (the reference matches name, not groupid),
    one listener, and two EXPOSE target instances.
    Columns: elb_id, name, scheme, sg_name, subnet_id, listener_port,
    listener_protocol, target_instance_1, target_instance_2, account_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 3) == 0)
    n_parts = read_table(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("n_part"))
    n_supp = read_table(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("n_supp"))
    s = s.crossJoin(F.broadcast(n_parts)).crossJoin(F.broadcast(n_supp))
    sk = F.col("s_suppkey")
    sgk = (sk * 10) % F.col("n_part")
    return s.select(
        F.concat(F.lit("elb-"), sk.cast("string"), F.lit(".elb.example.com")).alias("elb_id"),
        F.concat(F.lit("elb-"), sk.cast("string")).alias("name"),
        F.when((sk % 2) == 0, F.lit("internet-facing")).otherwise(F.lit("internal")).alias("scheme"),
        F.concat(F.lit("secgroup-"), (sgk - (sgk % 10)).cast("string")).alias("sg_name"),
        F.concat(F.lit("subnet-"), (sgk - (sgk % 10)).cast("string")).alias("subnet_id"),
        ((sk % 10) * 100 + 25).cast("long").alias("listener_port"),
        F.lit("HTTP").alias("listener_protocol"),
        F.concat(F.lit("i-"), sk.cast("string")).alias("target_instance_1"),
        F.concat(F.lit("i-"), ((sk + 1) % F.col("n_supp")).cast("string")).alias("target_instance_2"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


@plan_memo
def elbv2_load_balancers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ELBv2 (reference intel/aws/ec2/load_balancer_v2s.py:62-170):
    LoadBalancerV2{id: dnsname} with type application|network; NLBs carry no
    security group (the reference checks 'SecurityGroups' in lb first);
    MEMBER_OF_EC2_SECURITY_GROUP matched by groupid; one listener; two EXPOSE
    targets via target groups.
    Columns: elbv2_id, name, scheme, lb_type, sg_id (null for NLB),
    subnet_id, listener_port, listener_protocol, target_instance_1,
    target_instance_2, account_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 3) == 1)
    n_parts = read_table(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("n_part"))
    n_supp = read_table(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("n_supp"))
    s = s.crossJoin(F.broadcast(n_parts)).crossJoin(F.broadcast(n_supp))
    sk = F.col("s_suppkey")
    sgk = (sk * 10) % F.col("n_part")
    is_nlb = (sk % 7) == 0
    return s.select(
        F.concat(F.lit("elbv2-"), sk.cast("string"), F.lit(".elb.example.com")).alias("elbv2_id"),
        F.concat(F.lit("elbv2-"), sk.cast("string")).alias("name"),
        F.when((sk % 2) == 0, F.lit("internet-facing")).otherwise(F.lit("internal")).alias("scheme"),
        F.when(is_nlb, F.lit("network")).otherwise(F.lit("application")).alias("lb_type"),
        F.when(~is_nlb, F.concat(F.lit("sg-"), (sgk - (sgk % 10)).cast("string"))).alias("sg_id"),
        F.concat(F.lit("subnet-"), (sgk - (sgk % 10)).cast("string")).alias("subnet_id"),
        ((sk % 10) * 100 + 75).cast("long").alias("listener_port"),
        F.lit("HTTPS").alias("listener_protocol"),
        F.concat(F.lit("i-"), sk.cast("string")).alias("target_instance_1"),
        F.concat(F.lit("i-"), ((sk + 1) % F.col("n_supp")).cast("string")).alias("target_instance_2"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


# --- round-3 breadth: Okta apps/factors/roles, GitHub teams, GCP storage+DNS


@plan_memo
def okta_applications(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OktaApplication per supplier s%8==2 (reference
    intel/okta/applications.py:262-293: OktaApplication{id} under the org
    RESOURCE edge; assigned groups get (group)-[:APPLICATION]->(app); reply
    URIs get (uri:ReplyUri)<-[:REPLYURI]-(app)).  Each app is assigned to
    its nation's team group.
    Columns: id, name, label, org_id, group_id, reply_uri."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 8) == 2)
    sk = F.col("s_suppkey")
    return s.select(
        F.concat(F.lit("0oa-"), sk.cast("string")).alias("id"),
        F.concat(F.lit("app-"), sk.cast("string")).alias("name"),
        F.concat(F.lit("App "), sk.cast("string")).alias("label"),
        F.concat(F.lit("okta-org-"), (F.col("s_nationkey") % 5).cast("string")).alias("org_id"),
        F.concat(F.lit("og-n-"), F.col("s_nationkey").cast("string")).alias("group_id"),
        F.concat(F.lit("https://app-"), sk.cast("string"), F.lit(".example.com/callback")).alias("reply_uri"),
    )


@plan_memo
def okta_app_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct user->application assignments (reference applications.py:304-311
    (user)-[:APPLICATION]->(app)): app s is assigned to okta users
    (2s % n_cust) and ((2s+40) % n_cust) — even by construction (customer
    keys 0..n-1, n even), so both are real Okta users at every sf.
    Columns: user_id, app_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 8) == 2)
    n_cust = read_table(spark, sf_dir, "customer").agg(F.count(F.lit(1)).alias("n_cust"))
    s = s.crossJoin(F.broadcast(n_cust))
    sk = F.col("s_suppkey")
    app = F.concat(F.lit("0oa-"), sk.cast("string"))
    return s.select(
        F.concat(F.lit("okta-"), ((sk * 2) % F.col("n_cust")).cast("string")).alias("user_id"),
        app.alias("app_id"),
    ).unionByName(
        s.select(
            F.concat(F.lit("okta-"), ((sk * 2 + 40) % F.col("n_cust")).cast("string")).alias("user_id"),
            app.alias("app_id"),
        )
    )


@plan_memo
def okta_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MFA factors (reference intel/okta/factors.py:107-121:
    OktaUserFactor{id}, (user)-[:FACTOR]->(factor)).  Okta users (c%2==0):
    a push factor when c%4==0, plus an sms factor when c%6==0.
    Columns: factor_id, user_id, factor_type, provider."""
    c = read_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    uid = F.concat(F.lit("okta-"), ck.cast("string"))
    push = c.where((ck % 4) == 0).select(
        F.concat(F.lit("opf-"), ck.cast("string"), F.lit("-push")).alias("factor_id"),
        uid.alias("user_id"),
        F.lit("push").alias("factor_type"),
        F.lit("OKTA").alias("provider"),
    )
    sms = c.where((ck % 6) == 0).select(
        F.concat(F.lit("opf-"), ck.cast("string"), F.lit("-sms")).alias("factor_id"),
        uid.alias("user_id"),
        F.lit("sms").alias("factor_type"),
        F.lit("OKTA").alias("provider"),
    )
    return push.unionByName(sms)


@plan_memo
def okta_admin_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admin-role grants (reference intel/okta/roles.py:99-141:
    OktaAdministrationRole{id: role type} shared across grantees, with
    (user)-[:MEMBER_OF_OKTA_ROLE]->(role) and the org RESOURCE edge).
    SUPER_ADMIN for c%100==0, HELP_DESK_ADMIN for the other c%50==0.
    Columns: user_id, role_type, role_label, org_id."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 50) == 0)
    ck = F.col("c_custkey")
    rtype = F.when((ck % 100) == 0, F.lit("SUPER_ADMIN")).otherwise(F.lit("HELP_DESK_ADMIN"))
    return c.select(
        F.concat(F.lit("okta-"), ck.cast("string")).alias("user_id"),
        rtype.alias("role_type"),
        F.initcap(F.regexp_replace(rtype, "_", " ")).alias("role_label"),
        F.concat(F.lit("okta-org-"), (F.col("c_nationkey") % 5).cast("string")).alias("org_id"),
    )


@plan_memo
def okta_trusted_origins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trusted origins (reference intel/okta/origins.py:77-93:
    OktaTrustedOrigin{id} under the org RESOURCE edge).
    Columns: origin_id, name, origin_url, org_id."""
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    return n.select(
        F.concat(F.lit("tos-"), nk).alias("origin_id"),
        F.concat(F.lit("corp-"), nk).alias("name"),
        F.concat(F.lit("https://corp-"), nk, F.lit(".example.com")).alias("origin_url"),
        F.concat(F.lit("okta-org-"), F.col("n_regionkey").cast("string")).alias("org_id"),
    )


@plan_memo
def github_teams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GitHubTeam per nation with per-permission repo grants (reference
    intel/github/teams.py + models/github/teams.py: one rel family per
    permission — ADMIN/WRITE/READ — each matching GitHubRepository by id
    through a permission-named property).  One row per (team, repo) grant:
    repo p (p%50==0) belongs to team (p/50)%25 with permission cycling by
    (p/50)%3.  The per-permission column holds the repo url ONLY for that
    permission (null otherwise) — the reference's exact load shape.
    Columns: team_id, name, org_url, admin_repo, write_repo, read_repo."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 50) == 0)
    t = (F.col("p_partkey") / 50).cast("long")
    perm = t % 3
    repo = F.concat(F.lit("https://github.com/corp/repo-"), F.col("p_partkey").cast("string"))
    return p.select(
        F.concat(F.lit("https://github.com/orgs/corp/teams/team-"), (t % 25).cast("string")).alias("team_id"),
        F.concat(F.lit("team-"), (t % 25).cast("string")).alias("name"),
        F.lit("https://github.com/corp").alias("org_url"),
        F.when(perm == 0, repo).alias("admin_repo"),
        F.when(perm == 1, repo).alias("write_repo"),
        F.when(perm == 2, repo).alias("read_repo"),
    )


@plan_memo
def github_orgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single GitHubOrganization (reference intel/github/users.py loads
    the org node teams attach to).  Columns: id, username."""
    r = read_table(spark, sf_dir, "region").where(F.col("r_regionkey") == 0)
    return r.select(
        F.lit("https://github.com/corp").alias("id"),
        F.lit("corp").alias("username"),
    )


@plan_memo
def gcp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GCS buckets (reference intel/gcp/storage.py:117-143:
    GCPBucket{id} under the project RESOURCE edge; versioning/public-access
    flags drive policy queries).  Bucket per part p%30==0 in project
    (p/30)%25.  Columns: bucket_id, project_id, storage_class,
    versioning_enabled."""
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 30) == 0)
    pk = F.col("p_partkey")
    return p.select(
        F.concat(F.lit("gcs-bucket-"), pk.cast("string")).alias("bucket_id"),
        F.concat(F.lit("projects/proj-"), ((pk / 30).cast("long") % 25).cast("string")).alias("project_id"),
        F.when((pk % 90) == 0, F.lit("COLDLINE")).otherwise(F.lit("STANDARD")).alias("storage_class"),
        ((pk % 60) == 0).cast("string").alias("versioning_enabled"),
    )


@plan_memo
def gcp_dns_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cloud DNS managed zones (reference intel/gcp/dns.py:117-131:
    GCPDNSZone{id} under the project RESOURCE edge).  One public zone per
    odd nation.  Columns: zone_id, dns_name, project_id, visibility."""
    n = read_table(spark, sf_dir, "nation").where((F.col("n_nationkey") % 2) == 1)
    nk = F.col("n_nationkey").cast("string")
    return n.select(
        F.concat(F.lit("gcp-zone-"), nk).alias("zone_id"),
        F.concat(F.lit("gzone-"), nk, F.lit(".example.org.")).alias("dns_name"),
        F.concat(F.lit("projects/proj-"), nk).alias("project_id"),
        F.lit("public").alias("visibility"),
    )


@plan_memo
def gcp_dns_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cloud DNS record sets (reference intel/gcp/dns.py:167-179:
    GCPRecordSet{id: name} with (zone)-[:HAS_RECORD]->(rrs)).  A records per
    odd-zone customer slice, plus CNAMEs whose value lands in the AWS
    Route53 record space ("host-{7k}.zone-{7k%25}.example.com") — the
    cross-provider link the record-join analysis resolves.
    Columns: record_id, zone_id, name, rtype, value."""
    c = read_table(spark, sf_dir, "customer").where((F.col("c_custkey") % 9) == 0)
    ck = F.col("c_custkey")
    zk = ((ck % 12) + (((ck % 12) + 1) % 2)).cast("string")  # odd zone key 1..12
    a_name = F.concat(F.lit("svc-"), ck.cast("string"), F.lit(".gzone-"), zk, F.lit(".example.org."))
    a_recs = c.select(
        a_name.alias("record_id"),
        F.concat(F.lit("gcp-zone-"), zk).alias("zone_id"),
        a_name.alias("name"),
        F.lit("A").alias("rtype"),
        F.concat(F.lit("34.0."), ((ck / 9).cast("long") % 250).cast("string"), F.lit(".7")).alias("value"),
    )
    t = (ck % 10) * 7  # lands on the AWS A-record key space (multiples of 7)
    cname_name = F.concat(F.lit("aws-alias-"), ck.cast("string"), F.lit(".gzone-"), zk, F.lit(".example.org."))
    cnames = c.where((ck % 3) == 0).select(
        cname_name.alias("record_id"),
        F.concat(F.lit("gcp-zone-"), zk).alias("zone_id"),
        cname_name.alias("name"),
        F.lit("CNAME").alias("rtype"),
        F.concat(
            F.lit("host-"), t.cast("string"), F.lit(".zone-"), (t % 25).cast("string"),
            F.lit(".example.com"),
        ).alias("value"),
    )
    return a_recs.unionByName(cnames)


@plan_memo
def ec2_asgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AutoScalingGroups (reference intel/aws/ec2/auto_scaling_groups.py:
    85-131: AutoScalingGroup{arn} under the account RESOURCE edge,
    (instance)-[:MEMBER_AUTO_SCALE_GROUP]->(asg), (asg)-[:VPC_IDENTIFIER]->
    (subnet), LaunchConfiguration{id: arn}).  ASG per supplier s%6==3 with
    two member instances.
    Columns: asg_arn, name, account_id, launch_config_arn, subnet_id,
    member_instance_1, member_instance_2."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 6) == 3)
    n_parts = read_table(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("n_part"))
    n_supp = read_table(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("n_supp"))
    s = s.crossJoin(F.broadcast(n_parts)).crossJoin(F.broadcast(n_supp))
    sk = F.col("s_suppkey")
    sub = (sk * 10) % F.col("n_part")
    acct = _acct(F.col("s_nationkey"))
    return s.select(
        F.concat(
            F.lit("arn:aws:autoscaling:us-east-1:"), acct,
            F.lit(":autoScalingGroup:asg-"), sk.cast("string"),
        ).alias("asg_arn"),
        F.concat(F.lit("asg-"), sk.cast("string")).alias("name"),
        acct.alias("account_id"),
        F.concat(
            F.lit("arn:aws:autoscaling:us-east-1:"), acct,
            F.lit(":launchConfiguration:lc-"), sk.cast("string"),
        ).alias("launch_config_arn"),
        F.concat(F.lit("subnet-"), (sub - (sub % 10)).cast("string")).alias("subnet_id"),
        F.concat(F.lit("i-"), sk.cast("string")).alias("member_instance_1"),
        F.concat(F.lit("i-"), ((sk + 3) % F.col("n_supp")).cast("string")).alias("member_instance_2"),
    )


@plan_memo
def exposure_topology(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The asset-exposure operators' inputs (analysis/exposure.py) straight
    from the fixtures at variant t1 — what the gated exposure queries feed
    them; a sync feeds the same operators projections of the stored graph.

    Keys and columns: instances (instance_id, sg_id, listener_port); rules
    (sg_id, fromport, toport, cidr); enis (eni_id, instance_id, sg_id);
    elbs / elbv2s (lb_id, scheme, sg_id, listener_port; a classic ELB's
    source group resolves by name); elb_targets / elbv2_targets (lb_id,
    instance_id); asg_members (asg_arn, instance_id)."""
    elbs = elb_load_balancers(spark, sf_dir)
    elbv2s = elbv2_load_balancers(spark, sf_dir)
    # name -> sg_id through the SG dimension (broadcast: dimension-sized)
    sgs = ec2_security_groups(spark, sf_dir).select(F.col("name").alias("sg_name"), "sg_id")

    def targets(lbs: DataFrame, id_col: str) -> DataFrame:
        return lbs.select(
            F.col(id_col).alias("lb_id"),
            F.explode(F.array("target_instance_1", "target_instance_2")).alias("instance_id"),
        )

    return {
        "instances": ec2_instances(spark, sf_dir).select("instance_id", "sg_id", "listener_port"),
        "rules": ec2_sg_rules(spark, sf_dir).select("sg_id", "fromport", "toport", "cidr"),
        "enis": ec2_network_interfaces(spark, sf_dir).select("eni_id", "instance_id", "sg_id"),
        "elbs": elbs.select(F.col("elb_id").alias("lb_id"), "scheme", "sg_name", "listener_port")
        .join(F.broadcast(sgs), ["sg_name"], "inner")
        .drop("sg_name"),
        "elbv2s": elbv2s.select(
            F.col("elbv2_id").alias("lb_id"), "scheme", "sg_id", "listener_port"
        ),
        "elb_targets": targets(elbs, "elb_id"),
        "elbv2_targets": targets(elbv2s, "elbv2_id"),
        "asg_members": ec2_asgs(spark, sf_dir).select(
            "asg_arn",
            F.explode(F.array("member_instance_1", "member_instance_2")).alias("instance_id"),
        ),
    }


@plan_memo
def ebs_volumes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EBS volumes, one per supplier instance (reference
    models/aws/ec2/volumes.py: EBSVolume{id} with account RESOURCE and
    ATTACHED_TO the instance).  Columns: volume_id, instance_id, size_gb,
    encrypted, account_id."""
    s = read_table(spark, sf_dir, "supplier")
    sk = F.col("s_suppkey")
    return s.select(
        F.concat(F.lit("vol-"), sk.cast("string")).alias("volume_id"),
        F.concat(F.lit("i-"), sk.cast("string")).alias("instance_id"),
        (((sk % 16) + 1) * 50).cast("long").alias("size_gb"),
        ((sk % 3) == 0).cast("string").alias("encrypted"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


@plan_memo
def ebs_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EBS snapshots for every 4th volume (reference
    intel/aws/ec2/snapshots.py:61-113: EBSSnapshot{id} with
    (snapshot)-[:CREATED_FROM]->(volume)).  Columns: snapshot_id,
    volume_id, account_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 4) == 0)
    sk = F.col("s_suppkey")
    return s.select(
        F.concat(F.lit("snap-"), sk.cast("string")).alias("snapshot_id"),
        F.concat(F.lit("vol-"), sk.cast("string")).alias("volume_id"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


@plan_memo
def elastic_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elastic IPs for every 5th instance (reference
    intel/aws/ec2/elastic_ip_addresses.py:43-68: ElasticIPAddress{id:
    PublicIp} with (instance)-[:ELASTIC_IP_ADDRESS]->(eip) and
    (eni)-[:ELASTIC_IP_ADDRESS]->(eip); the ENI edge exists only for odd
    suppliers, the ENI population).  Columns: public_ip, instance_id,
    eni_id (nullable), account_id."""
    s = read_table(spark, sf_dir, "supplier").where((F.col("s_suppkey") % 5) == 0)
    sk = F.col("s_suppkey")
    return s.select(
        F.concat(
            F.lit("54.0."), (sk % 250).cast("string"), F.lit("."), ((sk * 3) % 250).cast("string")
        ).alias("public_ip"),
        F.concat(F.lit("i-"), sk.cast("string")).alias("instance_id"),
        F.when((sk % 2) == 1, F.concat(F.lit("eni-"), sk.cast("string"))).alias("eni_id"),
        _acct(F.col("s_nationkey")).alias("account_id"),
    )


@plan_memo
def securityhub_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SecurityHub hub per account where n%3==0 (reference
    intel/aws/securityhub.py:43-49: SecurityHub{id: HubArn} under the
    account RESOURCE edge).  Columns: hub_arn, subscribed_at,
    auto_enable_controls, account_id."""
    n = read_table(spark, sf_dir, "nation").where((F.col("n_nationkey") % 3) == 0)
    nk = F.col("n_nationkey")
    return n.select(
        F.concat(
            F.lit("arn:aws:securityhub:us-east-1:"), _acct(nk), F.lit(":hub/default")
        ).alias("hub_arn"),
        F.concat(F.lit("2024-01-"), F.lpad(((nk % 28) + 1).cast("string"), 2, "0")).alias("subscribed_at"),
        ((nk % 6) == 0).cast("string").alias("auto_enable_controls"),
        _acct(nk).alias("account_id"),
    )


@plan_memo
def config_recorders_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AWS Config recorders + rules (reference intel/aws/config.py:58-154:
    AWSConfigurationRecorder{id} and AWSConfigRule{id: ConfigRuleArn}, both
    under account RESOURCE).  One recorder per account; rules per part
    p%25==0 in account (p/25)%25.  Columns: kind ('recorder'|'rule'),
    config_id, name, account_id."""
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey")
    recorders = n.select(
        F.lit("recorder").alias("kind"),
        F.concat(F.lit("default:us-east-1:"), _acct(nk)).alias("config_id"),
        F.lit("default").alias("name"),
        _acct(nk).alias("account_id"),
    )
    p = read_table(spark, sf_dir, "part").where((F.col("p_partkey") % 25) == 0)
    pk = F.col("p_partkey")
    pacct = _acct((pk / 25).cast("long") % 25)
    rules = p.select(
        F.lit("rule").alias("kind"),
        F.concat(
            F.lit("arn:aws:config:us-east-1:"), pacct,
            F.lit(":config-rule/config-rule-"), pk.cast("string"),
        ).alias("config_id"),
        F.concat(F.lit("config-rule-"), pk.cast("string")).alias("name"),
        pacct.alias("account_id"),
    )
    return recorders.unionByName(rules)


@plan_memo
def cosmosdb_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CosmosDB accounts from nation n%2==0 (reference
    intel/azure/cosmosdb.py:85-112: AzureCosmosDBAccount{id} under the
    subscription RESOURCE edge).  The write/read/associated location ids
    follow the reference's "{account_id}-{location}" grammar
    (cosmosdb.py:119-143 _generate_location_id).
    Columns: account_id, name, kind, subscription_id, write_loc, read_loc."""
    n = read_table(spark, sf_dir, "nation").where((F.col("n_nationkey") % 2) == 0)
    nk = F.col("n_nationkey")
    aid = F.concat(
        F.lit("/subscriptions/sub-"), (nk % 5).cast("string"),
        F.lit("/resourceGroups/rg-"), nk.cast("string"),
        F.lit("/providers/Microsoft.DocumentDB/databaseAccounts/cosmos-"), nk.cast("string"),
    )
    region_w = F.concat(F.lit("region-"), (nk % 3).cast("string"))
    region_r = F.concat(F.lit("region-"), ((nk + 1) % 3).cast("string"))
    return n.select(
        aid.alias("account_id"),
        F.concat(F.lit("cosmos-"), nk.cast("string")).alias("name"),
        F.when((nk % 4) == 0, F.lit("MongoDB")).otherwise(F.lit("GlobalDocumentDB")).alias("kind"),
        F.concat(F.lit("sub-"), (nk % 5).cast("string")).alias("subscription_id"),
        F.concat(aid, F.lit("-"), region_w).alias("write_loc"),
        F.concat(aid, F.lit("-"), region_r).alias("read_loc"),
    )


@plan_memo
def cosmosdb_databases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL databases + containers per GlobalDocumentDB account; Mongo
    databases + collections per MongoDB account (reference
    cosmosdb.py:624-633, 805-820, 680-689, 1012-1023 — all CONTAINS
    chains).  Two databases per account, two containers per database.
    Columns: db_id, db_kind ('sql'|'mongo'), account_id, container_id."""
    acct = cosmosdb_accounts(spark, sf_dir)
    d = acct.select(
        "account_id",
        F.when(F.col("kind") == "MongoDB", F.lit("mongo")).otherwise(F.lit("sql")).alias("db_kind"),
        F.explode(F.array(F.lit("db0"), F.lit("db1"))).alias("db_suffix"),
    ).select(
        F.concat(F.col("account_id"), F.lit("/dbs/"), F.col("db_suffix")).alias("db_id"),
        "db_kind",
        "account_id",
        "db_suffix",
    )
    return d.select(
        "db_id",
        "db_kind",
        "account_id",
        F.explode(
            F.array(
                F.concat(F.col("db_id"), F.lit("/colls/c0")),
                F.concat(F.col("db_id"), F.lit("/colls/c1")),
            )
        ).alias("container_id"),
    )


@plan_memo
def ec2_tail_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EC2 long-tail families in one derivation (reference
    intel/aws/ec2/{images,internet_gateways,reserved_instances,tgw,
    vpc_peerings,launch_templates}.py).  One row per node; edge targets ride
    along as nullable columns.
    Columns: kind, node_id, name, account_id, vpc_id (igw/tgwa),
    tgw_id (tgwa), requester_vpc, accepter_vpc (pcx),
    template_id (ltv)."""
    n = read_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey")
    nulls = [
        F.lit(None).cast("string").alias(c)
        for c in ["vpc_id", "tgw_id", "requester_vpc", "accepter_vpc", "template_id"]
    ]

    igws = n.select(
        F.lit("igw").alias("kind"),
        F.concat(F.lit("igw-"), nk.cast("string")).alias("node_id"),
        F.concat(F.lit("igw-"), nk.cast("string")).alias("name"),
        _acct(nk).alias("account_id"),
        F.concat(F.lit("vpc-"), nk.cast("string")).alias("vpc_id"),
        *nulls[1:],
    )
    tgws = n.where((nk % 5) == 0).select(
        F.lit("tgw").alias("kind"),
        F.concat(
            F.lit("arn:aws:ec2:us-east-1:"), _acct(nk), F.lit(":transit-gateway/tgw-"), nk.cast("string")
        ).alias("node_id"),
        F.concat(F.lit("tgw-"), nk.cast("string")).alias("name"),
        _acct(nk).alias("account_id"),
        *nulls,
    )
    region_tgw = (nk - (nk % 5))
    tgwas = n.select(
        F.lit("tgwa").alias("kind"),
        F.concat(F.lit("tgw-attach-"), nk.cast("string")).alias("node_id"),
        F.concat(F.lit("tgw-attach-"), nk.cast("string")).alias("name"),
        _acct(nk).alias("account_id"),
        F.concat(F.lit("vpc-"), nk.cast("string")).alias("vpc_id"),
        F.concat(
            F.lit("arn:aws:ec2:us-east-1:"), _acct(region_tgw),
            F.lit(":transit-gateway/tgw-"), region_tgw.cast("string"),
        ).alias("tgw_id"),
        *nulls[2:],
    )
    pcxs = n.select(
        F.lit("pcx").alias("kind"),
        F.concat(F.lit("pcx-"), nk.cast("string")).alias("node_id"),
        F.concat(F.lit("pcx-"), nk.cast("string")).alias("name"),
        _acct(nk).alias("account_id"),
        *nulls[:2],
        F.concat(F.lit("vpc-"), nk.cast("string")).alias("requester_vpc"),
        F.concat(F.lit("vpc-"), ((nk + 1) % 25).cast("string")).alias("accepter_vpc"),
        nulls[4],
    )

    s = read_table(spark, sf_dir, "supplier")
    sk = F.col("s_suppkey")
    sacct = _acct(F.col("s_nationkey"))
    images = s.where((sk % 2) == 0).select(
        F.lit("image").alias("kind"),
        F.concat(F.lit("ami-"), sk.cast("string")).alias("node_id"),
        F.concat(F.lit("ami-"), sk.cast("string")).alias("name"),
        sacct.alias("account_id"),
        *nulls,
    )
    reserved = s.where((sk % 7) == 2).select(
        F.lit("reserved").alias("kind"),
        F.concat(F.lit("ri-"), sk.cast("string")).alias("node_id"),
        F.concat(F.lit("ri-"), sk.cast("string")).alias("name"),
        sacct.alias("account_id"),
        *nulls,
    )
    lts = s.where((sk % 6) == 3).select(
        F.lit("lt").alias("kind"),
        F.concat(F.lit("lt-"), sk.cast("string")).alias("node_id"),
        F.concat(F.lit("lt-"), sk.cast("string")).alias("name"),
        sacct.alias("account_id"),
        *nulls,
    )
    ltvs = (
        s.where((sk % 6) == 3)
        .select(
            F.col("s_suppkey"),
            sacct.alias("account_id"),
            F.explode(F.array(F.lit("1"), F.lit("2"))).alias("v"),
        )
        .select(
            F.lit("ltv").alias("kind"),
            F.concat(F.lit("lt-"), F.col("s_suppkey").cast("string"), F.lit("-v"), F.col("v")).alias("node_id"),
            F.concat(F.lit("lt-"), F.col("s_suppkey").cast("string"), F.lit(" v"), F.col("v")).alias("name"),
            F.col("account_id"),
            *nulls[:4],
            F.concat(F.lit("lt-"), F.col("s_suppkey").cast("string")).alias("template_id"),
        )
    )
    return (
        igws.unionByName(tgws).unionByName(tgwas).unionByName(pcxs)
        .unionByName(images).unionByName(reserved).unionByName(lts).unionByName(ltvs)
    )
