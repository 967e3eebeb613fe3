"""Analysis jobs beyond asset exposure — the registry's job library.

Each function is the set-wise DataFrame restatement of one reference
analysis JSON (data/jobs/analysis/); all run store->store at sync end, and
every prop-setting job rewrites ONLY the label slice it touches
(commit_partial) with idempotent clearing of stale marks, mirroring the
reference jobs' clearing statements.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.cleanup import delete_stale
from cartography_spark.core.loader import edge_rows
from cartography_spark.core.store import GraphStore

GLOBAL_ACL_URIS = (
    "http://acs.amazonaws.com/groups/global/AllUsers",
    "http://acs.amazonaws.com/groups/global/AuthenticatedUsers",
)

# permission -> granted anonymous actions (reference aws_s3acl_analysis.json
# comments map ACL grants to the S3 actions they imply)
ACL_ACTIONS = {
    "READ": ["s3:ListBucket", "s3:ListBucketVersions", "s3:ListBucketMultipartUploads"],
    "WRITE": ["s3:PutObject"],
    "READ_ACP": ["s3:GetBucketAcl"],
    "WRITE_ACP": ["s3:PutBucketAcl"],
    "FULL_CONTROL": [
        "s3:ListBucket", "s3:ListBucketVersions", "s3:ListBucketMultipartUploads",
        "s3:PutObject", "s3:DeleteObject", "s3:DeleteObjectVersion", "s3:PutBucketAcl",
    ],
}


# Mark sets up to this many label-slice rows broadcast into the mark join;
# a mark set is data-dependent (a permissive estate can expose a large
# fraction of all instances), so above the ceiling the hint is dropped and
# AQE picks the strategy — same gate as GraphStore.BROADCAST_DELETE_MAX_IDS.
BROADCAST_MARKS_MAX_IDS = 10_000_000


def _mark(
    store: GraphStore,
    stage: str,
    update_tag: int,
    keys: list[str],
    marks: dict[str, DataFrame],
) -> None:
    """The clear-then-set pass of every mark-setting job (the reference
    jobs' REMOVE-then-SET statement pairs).  ``marks`` maps a label to an
    ``(id, marks map<string,string>)`` frame with one row per marked node;
    every node of the label loses ``keys`` and gains its marks.  One left
    join per label — the marks broadcast unless the slice's manifest row
    count, which bounds them, is over BROADCAST_MARKS_MAX_IDS — and one
    commit_partial of just those slices.  A node left with no props stores
    NULL, never an empty map; a stage already done under ``update_tag``
    returns first."""
    if store.stage_done(stage, update_tag):
        return
    empty = F.create_map().cast("map<string,string>")
    props = F.map_concat(
        # strip first: map_concat raises on duplicate keys under ANSI policy
        F.map_filter(F.coalesce("props", empty), lambda k, _: ~k.isin(*keys)),
        F.coalesce("marks", empty),
    )
    out = []
    for label, m in marks.items():
        n = store.label_rowcount(label)
        if n is None or n <= BROADCAST_MARKS_MAX_IDS:
            m = F.broadcast(m)
        out.append(
            store.nodes(labels=[label])
            .join(m, ["id"], "left")
            .withColumn("props", F.when(F.size(props) > 0, props))
            .drop("marks")
        )
    store.commit_partial(
        reduce(DataFrame.unionByName, out), None, list(marks), [], stage, update_tag
    )


def _mark_label(
    store: GraphStore,
    stage: str,
    update_tag: int,
    label: str,
    positive,
    key: str = "exposed_internet",
) -> None:
    """The flag-job shape (foreign accounts, eks/gke/k8s/rds exposure, gke
    basic-auth):
    ``key=true`` on the label's nodes where ``positive`` (a Column over the
    node row) holds, cleared everywhere else."""
    marks = (
        store.nodes(labels=[label])
        .where(positive)
        .select("id", F.create_map(F.lit(key), F.lit("true")).alias("marks"))
    )
    _mark(store, stage, update_tag, [key], {label: marks})


def mark_foreign_accounts(store: GraphStore, update_tag: int) -> None:
    """aws_foreign_accounts.json: accounts without ``inscope`` get
    ``foreign=true``; inscope accounts lose any stale ``foreign`` mark
    (both reference statements in one pass)."""
    _mark_label(
        store,
        "analysis:aws_foreign_accounts",
        update_tag,
        "AWSAccount",
        F.element_at("props", "inscope").isNull(),
        key="foreign",
    )


def mark_s3_anonymous(store: GraphStore, update_tag: int) -> None:
    """aws_s3acl_analysis.json: buckets with a global-group ACL grant get
    anonymous_access=true + the granted action list; others lose stale marks.

    The reference appends actions per matching grant; grants per bucket
    aggregate here as sorted-distinct so the list is order-deterministic
    under distributed evaluation.
    """
    acls = store.nodes(labels=["S3Acl"])
    applies = store.edges(rel_labels=["APPLIES_TO"]).select(
        F.col("src_id").alias("acl_id"), F.col("dst_id").alias("bucket_arn")
    )
    action_map = F.create_map(
        *[c for perm, acts in ACL_ACTIONS.items() for c in (F.lit(perm), F.lit(acts))]
    )
    global_grants = (
        acls.where(F.element_at("props", "uri").isin(*GLOBAL_ACL_URIS))
        .select(
            F.col("id").alias("acl_id"),
            F.element_at(action_map, F.element_at("props", "permission")).alias("actions"),
        )
        .where(F.col("actions").isNotNull())
        .join(applies, "acl_id")
        .groupBy("bucket_arn")
        .agg(
            F.to_json(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("actions"))))
            ).alias("anon_actions")
        )
    )
    marks = global_grants.select(
        F.col("bucket_arn").alias("id"),
        F.create_map(
            F.lit("anonymous_access"), F.lit("true"),
            F.lit("anonymous_actions"), F.col("anon_actions"),
        ).alias("marks"),
    )
    _mark(
        store,
        "analysis:aws_s3acl",
        update_tag,
        ["anonymous_access", "anonymous_actions"],
        {"S3Bucket": marks},
    )


def _cleanup_rel(store: GraphStore, rel_label: str, update_tag: int, stage: str) -> None:
    """Drop stale edges of one rel (the iterative DELETE leg every
    edge-writing reference analysis job carries, e.g. gsuite_human_link.json
    statement 2)."""
    stale = (
        store.edges(rel_labels=[rel_label])
        .where(F.col("lastupdated") != int(update_tag))
        .select("src_id", "rel_label", "dst_id")
    )
    delete_stale(store, None, stale, stage, update_tag)


def _link(
    store: GraphStore, stage: str, rel_label: str, edges: DataFrame, update_tag: int
) -> None:
    """Upsert a job's ``rel_label`` edges under ``stage:edges``, then drop
    that rel's stale edges under ``stage`` itself.  The job's own stage
    commits LAST, so a crash between the two legs resumes into the cleanup,
    not past it."""
    if not store.stage_done(stage + ":edges", update_tag):
        store.upsert(None, edges, stage + ":edges", update_tag)
    _cleanup_rel(store, rel_label, update_tag, stage)


def ec2_iam_instanceprofiles(store: GraphStore, update_tag: int) -> None:
    """aws_ec2_iaminstanceprofile.json: (EC2Instance)-[:STS_ASSUMEROLE_ALLOW]->
    (AWSRole) via the instance profile's trailing role name.

    The reference suffix-match (``r.arn ENDS WITH role_name``) scoped to the
    instance's account restates as an equi-join on (account_id, role_name) —
    the shuffle-key form that scales (no theta-join)."""
    stage = "analysis:aws_ec2_iaminstanceprofile"
    inst = (
        store.nodes(labels=["EC2Instance"])
        .where(F.element_at("props", "iaminstanceprofile").isNotNull())
        .select(
            F.col("id").alias("instance_id"),
            F.element_at("props", "account_id").alias("account_id"),
            F.regexp_extract(
                F.element_at("props", "iaminstanceprofile"), r"([^/]+)$", 1
            ).alias("role_name"),
        )
    )
    roles = store.nodes(labels=["AWSRole"]).select(
        F.col("id").alias("role_arn"),
        F.element_at("props", "account_id").alias("account_id"),
        F.element_at("props", "name").alias("role_name"),
    )
    edges = edge_rows(
        inst.join(F.broadcast(roles), ["account_id", "role_name"]),
        "instance_id", "EC2Instance", "STS_ASSUMEROLE_ALLOW", "role_arn", "AWSRole", update_tag,
    )
    _link(store, stage, "STS_ASSUMEROLE_ALLOW", edges, update_tag)


def link_humans(store: GraphStore, update_tag: int) -> None:
    """gsuite_human_link.json analog on the Okta provider:
    (Human)-[:IDENTITY_OKTA]->(OktaUser) where human.email = okta.login,
    plus the stale-edge delete leg."""
    stage = "analysis:human_link"
    humans = store.nodes(labels=["Human"]).select(F.col("id").alias("email"))
    okta = store.nodes(labels=["OktaUser"]).select(
        F.col("id").alias("okta_id"), F.element_at("props", "login").alias("email")
    )
    edges = edge_rows(
        humans.join(okta, "email"),
        "email", "Human", "IDENTITY_OKTA", "okta_id", "OktaUser", update_tag,
    )
    _link(store, stage, "IDENTITY_OKTA", edges, update_tag)


def keypair_analysis(store: GraphStore, update_tag: int) -> None:
    """aws_ec2_keypair_analysis.json: clear then recompute user_uploaded
    (47-char MD5-form fingerprint) and duplicate_keyfingerprint, plus
    MATCHING_FINGERPRINT edges between keypairs sharing a fingerprint.

    The reference's undirected MERGE picks an arbitrary direction per pair;
    distributed evaluation gets a deterministic one instead: src_id < dst_id.
    Pair generation is a self-join ON the fingerprint (the blocking key) —
    never all-pairs; hot fingerprints are the skew axis and fall to AQE.
    """
    stage = "analysis:aws_ec2_keypair"
    kps = store.nodes(labels=["EC2KeyPair"])
    fp = F.element_at("props", "keyfingerprint")
    counts = (
        kps.select(fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    marks = (
        kps.select("id", fp.alias("fp"))
        .join(F.broadcast(counts), ["fp"], "left")
        .select(
            "id",
            F.map_filter(
                F.create_map(
                    F.lit("user_uploaded"),
                    F.when(F.length("fp") == 47, F.lit("true")),
                    F.lit("duplicate_keyfingerprint"),
                    F.when(F.col("n") > 1, F.lit("true")),
                ),
                lambda _, v: v.isNotNull(),
            ).alias("marks"),
        )
    )
    a = kps.select(F.col("id").alias("src_id"), fp.alias("fp"))
    b = kps.select(F.col("id").alias("dst_id"), fp.alias("fp"))
    pairs = a.join(b, "fp").where(F.col("src_id") < F.col("dst_id"))
    edges = edge_rows(
        pairs, "src_id", "EC2KeyPair", "MATCHING_FINGERPRINT", "dst_id", "EC2KeyPair", update_tag
    )
    _mark(
        store,
        stage + ":marks",
        update_tag,
        ["user_uploaded", "duplicate_keyfingerprint"],
        {"EC2KeyPair": marks},
    )
    _link(store, stage, "MATCHING_FINGERPRINT", edges, update_tag)


def link_lambda_ecr_images(store: GraphStore, update_tag: int) -> None:
    """aws_lambda_ecr.json: (AWSLambda)-[:HAS]->(ECRImage) where
    image.digest = 'sha256:' + lambda.codesha256, plus the stale-HAS delete
    leg.  The digest equality is a plain equi-join — the reference's
    COLLECT/UNWIND batching is a Neo4j memory workaround Spark doesn't need."""
    stage = "analysis:aws_lambda_ecr"
    lam = (
        store.nodes(labels=["AWSLambda"])
        .where(F.element_at("props", "codesha256").isNotNull())
        .select(
            F.col("id").alias("src_id"),
            F.concat(F.lit("sha256:"), F.element_at("props", "codesha256")).alias("digest"),
        )
    )
    img = store.nodes(labels=["ECRImage"]).select(F.col("id").alias("digest"))
    pairs = lam.join(F.broadcast(img), "digest")
    edges = edge_rows(pairs, "src_id", "AWSLambda", "HAS", "digest", "ECRImage", update_tag)
    _link(store, stage, "HAS", edges, update_tag)


def eks_exposure(store: GraphStore, update_tag: int) -> None:
    """aws_eks_asset_exposure.json: EKSCluster.endpoint_public_access ->
    exposed_internet = true (cleared first)."""
    _mark_label(
        store,
        "analysis:aws_eks_exposure",
        update_tag,
        "EKSCluster",
        F.element_at("props", "endpoint_public_access") == "true",
    )


def gke_exposure(store: GraphStore, update_tag: int) -> None:
    """gcp_gke_asset_exposure.json: private_nodes = false OR
    private_endpoint_enabled = false OR master_authorized_networks = false
    -> exposed_internet = true."""
    p = lambda k: F.element_at("props", k)  # noqa: E731
    _mark_label(
        store,
        "analysis:gcp_gke_exposure",
        update_tag,
        "GKECluster",
        (p("private_nodes") == "false")
        | (p("private_endpoint_enabled") == "false")
        | (p("master_authorized_networks") == "false"),
    )


def gke_basic_auth(store: GraphStore, update_tag: int) -> None:
    """gcp_gke_basic_auth.json: masterauth username AND password both
    non-empty -> basic_auth = true."""
    p = lambda k: F.element_at("props", k)  # noqa: E731
    _mark_label(
        store,
        "analysis:gcp_gke_basic_auth",
        update_tag,
        "GKECluster",
        p("masterauth_username").isNotNull()
        & (p("masterauth_username") != "")
        & p("masterauth_password").isNotNull()
        & (p("masterauth_password") != ""),
        key="basic_auth",
    )


def gcp_inet_exposure(store: GraphStore, update_tag: int) -> None:
    """gcp_compute_asset_inet_exposure.json, set-wise:

      1. FIREWALL_INGRESS edges: INGRESS firewalls attach to instances via
         (inst)-[:TAGGED]->(tag)-[:TARGET_TAG]->(fw) in the same VPC, or —
         for firewalls with no target tags and no target service accounts —
         to every instance in the firewall's VPC (the reference's two MERGE
         statements), with the stale-edge delete leg.
      2. exposed_internet/exposed_internet_type='direct' marks: an instance
         with a public IP is exposed iff some attached ALLOW rule from
         0.0.0.0/0 survives every attached same-protocol DENY rule — the
         reference's OPTIONAL MATCH row condition (deny absent, OR deny on a
         lower-priority firewall, OR allow ports outside the deny range)
         restated as an allow x deny left join.

    All joins are equi-joins on fw/vpc/tag ids; the attach fan-out shuffles
    on vpc_id (the skew axis for mega-VPCs — AQE splits those).
    """
    stage = "analysis:gcp_inet_exposure"
    E = store.edges
    fw = store.nodes(labels=["GCPFirewall"]).select(
        F.col("id").alias("fw_id"),
        F.element_at("props", "priority").cast("long").alias("priority"),
        F.element_at("props", "direction").alias("direction"),
        F.element_at("props", "has_target_service_accounts").alias("htsa"),
    )
    ingress = fw.where(F.col("direction") == "INGRESS")
    tagged_e = E(rel_labels=["TAGGED"]).select(
        F.col("src_id").alias("inst_id"), F.col("dst_id").alias("tag_id")
    )
    target_e = E(rel_labels=["TARGET_TAG"]).select(
        F.col("src_id").alias("tag_id"), F.col("dst_id").alias("fw_id")
    )
    member_e = E(rel_labels=["MEMBER_OF_GCP_VPC"]).select(
        F.col("src_id").alias("inst_id"), F.col("dst_id").alias("vpc_id")
    )
    fw_vpc = (
        E(rel_labels=["RESOURCE"])
        .where((F.col("src_label") == "GCPVpc") & (F.col("dst_label") == "GCPFirewall"))
        .select(F.col("src_id").alias("vpc_id"), F.col("dst_id").alias("fw_id"))
    )
    tag_path = (
        tagged_e.join(target_e, "tag_id")
        .join(member_e, "inst_id")
        .join(fw_vpc, ["vpc_id", "fw_id"])
        .join(ingress.select("fw_id"), "fw_id", "left_semi")
        .select("fw_id", "inst_id")
    )
    untargeted = ingress.where(F.col("htsa") == "false").join(
        target_e.select("fw_id").distinct(), "fw_id", "left_anti"
    )
    open_path = (
        member_e.join(fw_vpc, "vpc_id")
        .join(untargeted.select("fw_id"), "fw_id", "left_semi")
        .select("fw_id", "inst_id")
    )
    attach = tag_path.unionByName(open_path).distinct()

    edges = edge_rows(
        attach, "fw_id", "GCPFirewall", "FIREWALL_INGRESS", "inst_id", "GCPInstance", update_tag
    )
    if not store.stage_done(stage + ":edges", update_tag):
        store.upsert(None, edges, stage + ":edges", update_tag)
    _cleanup_rel(store, "FIREWALL_INGRESS", update_tag, stage + ":edge_cleanup")

    rules = store.nodes(labels=["GCPIpRule"]).select(
        F.col("id").alias("rule_id"),
        F.element_at("props", "action").alias("action"),
        F.element_at("props", "protocol").alias("protocol"),
        F.element_at("props", "fromport").cast("long").alias("fromport"),
        F.element_at("props", "toport").cast("long").alias("toport"),
        F.element_at("props", "cidr").alias("cidr"),
    )
    allow_e = E(rel_labels=["ALLOWED_BY"]).select(
        F.col("src_id").alias("rule_id"), F.col("dst_id").alias("fw_id")
    )
    deny_e = E(rel_labels=["DENIED_BY"]).select(
        F.col("src_id").alias("rule_id"), F.col("dst_id").alias("fw_id")
    )
    allows = (
        attach.join(allow_e, "fw_id")
        .join(rules.where((F.col("action") == "allow") & (F.col("cidr") == "0.0.0.0/0")), "rule_id")
        .join(fw.select("fw_id", F.col("priority").alias("a_pri")), "fw_id")
        .select("inst_id", "protocol", "a_pri", F.col("fromport").alias("a_from"), F.col("toport").alias("a_to"))
    )
    denies = (
        attach.join(deny_e, "fw_id")
        .join(rules.where(F.col("action") == "deny"), "rule_id")
        .join(fw.select("fw_id", F.col("priority").alias("d_pri")), "fw_id")
        .select(
            # renamed join keys: allows/denies share the `attach` lineage, so
            # joining on same-named columns would resolve to ONE attribute (a
            # trivially-true predicate) — the classic self-join ambiguity
            F.col("inst_id").alias("d_inst_id"),
            F.col("protocol").alias("d_protocol"),
            "d_pri",
            F.col("fromport").alias("d_from"),
            F.col("toport").alias("d_to"),
        )
    )
    pairs = allows.join(
        denies,
        (F.col("inst_id") == F.col("d_inst_id")) & (F.col("protocol") == F.col("d_protocol")),
        "left",
    )
    survives = (
        F.col("d_pri").isNull()
        | (F.col("d_pri") > F.col("a_pri"))
        | ~F.col("a_from").between(F.col("d_from"), F.col("d_to"))
        | ~F.col("a_to").between(F.col("d_from"), F.col("d_to"))
    )
    exposed_ids = (
        pairs.where(survives).select(allows["inst_id"].alias("id")).distinct()
    )
    marks = (
        store.nodes(labels=["GCPInstance"])
        .where(F.element_at("props", "public_ip").isNotNull())
        .join(F.broadcast(exposed_ids), ["id"], "left_semi")
        .select(
            "id",
            F.create_map(
                F.lit("exposed_internet"), F.lit("true"),
                F.lit("exposed_internet_type"), F.lit("direct"),
            ).alias("marks"),
        )
    )
    _mark(
        store,
        stage,
        update_tag,
        ["exposed_internet", "exposed_internet_type"],
        {"GCPInstance": marks},
    )


def k8s_lb_exposure(store: GraphStore, update_tag: int) -> None:
    """Engine-original k8s analog of the asset-exposure JSONs: LoadBalancer
    services (internet-facing ingress per reference services.py's
    load_balancer_ip/ingress fields) get exposed_internet = true."""
    _mark_label(
        store,
        "analysis:k8s_lb_exposure",
        update_tag,
        "KubernetesService",
        F.element_at("props", "type") == "LoadBalancer",
    )


def rds_exposure(store: GraphStore, update_tag: int) -> None:
    """Engine-original RDS analog: publicly accessible AND unencrypted
    instances get exposed_internet = true (the property pair reference
    rds.py loads)."""
    p = lambda k: F.element_at("props", k)  # noqa: E731
    _mark_label(
        store,
        "analysis:aws_rds_exposure",
        update_tag,
        "RDSInstance",
        (p("publicly_accessible") == "true") & (p("storage_encrypted") == "false"),
    )


def link_container_images(store: GraphStore, update_tag: int) -> None:
    """Container -> ECRImage provenance edges (the k8s/ECS analog of
    aws_lambda_ecr.json): every KubernetesContainer / ECSContainer whose
    image digest exists in the ECRImage space gets a HAS_IMAGE edge, plus
    the stale-edge delete leg.  One broadcast equi-join per source label —
    digests are unique, containers are the fact side."""
    stage = "analysis:container_images"
    img = store.nodes(labels=["ECRImage"]).select(F.col("id").alias("digest"))
    pieces = []
    for label, prop in (("KubernetesContainer", "image_sha"), ("ECSContainer", "image_digest")):
        src = (
            store.nodes(labels=[label])
            .where(F.element_at("props", prop).isNotNull())
            .select(
                F.col("id").alias("src_id"),
                F.element_at("props", prop).alias("digest"),
            )
        )
        pairs = src.join(F.broadcast(img), "digest")
        pieces.append(
            edge_rows(pairs, "src_id", label, "HAS_IMAGE", "digest", "ECRImage", update_tag)
        )
    edges = pieces[0].unionByName(pieces[1])
    _link(store, stage, "HAS_IMAGE", edges, update_tag)


def gcp_aws_dns_links(store: GraphStore, update_tag: int) -> None:
    """Cross-provider DNS resolution: a GCPRecordSet CNAME whose value is an
    AWS Route53 DNSRecord's name gets (GCPRecordSet)-[:DNS_POINTS_TO]->
    (AWSDNSRecord).  Engine-original composition of the reference's two
    record spaces (intel/gcp/dns.py record sets x intel/aws/route53.py
    records — the reference loads both but never joins them); same
    mark-and-clean discipline as the packaged analysis jobs.

    Join shape: both sides are dimension-small relative to the graph; the
    AWS record side is matched on its indexed ``name`` prop.  At scale this
    is an equi-join on name — shuffle-partitioned by name, no broadcast
    assumption needed (record tables can be huge)."""
    stage = "analysis:gcp_aws_dns"
    gcp = (
        store.nodes(labels=["GCPRecordSet"])
        .where(F.element_at("props", "type") == "CNAME")
        .select(
            F.col("id").alias("src_id"),
            F.element_at("props", "value").alias("target_name"),
        )
    )
    aws = store.nodes(labels=["AWSDNSRecord"]).select(
        F.col("id").alias("dst_id"),
        F.element_at("props", "name").alias("target_name"),
    )
    pairs = gcp.join(aws, "target_name")
    edges = edge_rows(
        pairs, "src_id", "GCPRecordSet", "DNS_POINTS_TO", "dst_id", "AWSDNSRecord", update_tag
    )
    _link(store, stage, "DNS_POINTS_TO", edges, update_tag)
