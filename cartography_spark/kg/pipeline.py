"""Full-sync orchestration — the engine's analog of ``Sync.run``.

Parity: reference cartography/sync.py:99-122 runs ordered stages (indexes,
providers, analysis last) under one update tag; intel/aws/__init__.py runs
AWS resources in dependency order with permissions + tags deferred to the
end.  Here each stage is a pure DataFrame program committing one snapshot;
stage checkpoints make a killed run resume idempotently (store.stage_done).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from cartography_spark.core.cleanup import delete_stale
from cartography_spark.core.store import GraphStore
from cartography_spark.kg.materialize import sync_documents
from cartography_spark.modules import aws_iam, aws_tags, okta, permissions
from cartography_spark.modules.aws_base import sync_accounts
from cartography_spark.modules.aws_ec2 import sync_ec2, sync_keypairs
from cartography_spark.modules.aws_ec2_network import sync_asgs, sync_ec2_network
from cartography_spark.modules.aws_elb import sync_elb
from cartography_spark.modules.aws_ec2_storage import sync_ec2_storage
from cartography_spark.modules.aws_config_securityhub import sync_config_securityhub
from cartography_spark.modules.aws_ec2_tail import sync_ec2_tail
from cartography_spark.modules.aws_eks import sync_eks
from cartography_spark.modules.aws_emr import sync_emr
from cartography_spark.modules.aws_lambda import sync_lambda_ecr
from cartography_spark.modules.aws_rds import sync_rds
from cartography_spark.modules.aws_route53 import sync_route53
from cartography_spark.modules.aws_s3 import sync_s3
from cartography_spark.modules.aws_ssm_inspector import sync_inspector, sync_ssm
from cartography_spark.modules.kubernetes import sync_kubernetes
from cartography_spark.modules.aws_ecs import sync_ecs
from cartography_spark.modules.aws_es import sync_elasticsearch
from cartography_spark.modules.aws_inventory import (
    sync_apigateway,
    sync_dynamodb,
    sync_elasticache,
    sync_kms,
    sync_redshift,
    sync_secretsmanager,
    sync_sqs,
)
from cartography_spark.modules.azure import sync_azure, sync_azure_storage_sql, sync_cosmosdb
from cartography_spark.modules.digitalocean import sync_digitalocean
from cartography_spark.modules.devices import sync_devices
from cartography_spark.modules.gcp import sync_gcp, sync_gcp_storage_dns
from cartography_spark.modules.gsuite import sync_gsuite
from cartography_spark.modules.pagerduty_oci import sync_oci, sync_pagerduty
from cartography_spark.modules.saas import sync_saas
from cartography_spark.modules.github import sync_github, sync_github_teams
from cartography_spark.modules.hr import sync_humans
from cartography_spark.sources import fixtures as fx
from cartography_spark.sources.docs_synth import interleaved_documents


@dataclass
class SyncResult:
    update_tag: int
    version: int
    node_count: int
    edge_count: int


def run_sync(
    spark: SparkSession,
    store: GraphStore,
    sf_dir: str,
    update_tag: int,
    variant: str = "t1",
    with_documents: bool = True,
    with_github: bool = True,
) -> SyncResult:
    """One full sync at the given update tag.

    Stage order mirrors the reference's dependency ordering: accounts first
    (every RESOURCE join needs them), principals before memberships/trusts,
    policies before permission evaluation, tags and analysis-adjacent
    derivations last.

    Commit grouping: module upserts buffer in a :class:`BufferedSyncStore`
    and land as a handful of grouped snapshot commits (explicit flushes
    before the documents stage and cleanup; implicit ones at delete/analysis
    boundaries).  Stages read through lazy MERGE views so every stage sees
    exactly the state a sequential-commit run would; per-stage checkpoints
    are all recorded, so resume granularity is unchanged from the caller's
    perspective (a killed run re-runs at most one uncommitted group —
    idempotently, since upsert is a MERGE).
    """
    from cartography_spark.core.store import BufferedSyncStore

    if not isinstance(store, BufferedSyncStore):
        store = BufferedSyncStore(store)
    # --- extraction (the reference's `get`): fixture DataFrames -------------
    accounts = fx.aws_accounts(spark, sf_dir)
    users = fx.iam_users(spark, sf_dir, variant)
    groups = fx.iam_groups(spark, sf_dir)
    roles = fx.iam_roles(spark, sf_dir, variant)
    memberships = fx.iam_group_memberships(spark, sf_dir, variant)
    clusters = fx.emr_clusters(spark, sf_dir, variant)
    buckets = fx.s3_buckets(spark, sf_dir)
    policies = fx.iam_policies(spark, sf_dir)
    statements = fx.iam_policy_statements(spark, sf_dir)
    tags = fx.resource_tags(spark, sf_dir)

    # --- load stages ---------------------------------------------------------
    sync_accounts(store, accounts, update_tag)
    aws_iam.sync_principals(store, users, groups, roles, update_tag)
    aws_iam.sync_role_trusts(store, roles, update_tag)
    aws_iam.sync_policies(store, policies, statements, update_tag)
    aws_iam.sync_memberships(store, memberships, update_tag)
    sync_emr(store, clusters, update_tag)

    # S3 buckets + ACL grants (buckets reused by the permission theta-join;
    # ACLs drive the aws_s3acl analysis)
    sync_s3(store, buckets, fx.s3_acls(spark, sf_dir), update_tag)

    # EC2: security groups, instances, inbound rules, IP ranges (exposure +
    # iaminstanceprofile analyses walk these), key pairs (keypair analysis)
    sync_ec2(
        store,
        fx.ec2_instances(spark, sf_dir, variant),
        fx.ec2_security_groups(spark, sf_dir),
        fx.ec2_sg_rules(spark, sf_dir),
        update_tag,
    )
    sync_keypairs(store, fx.ec2_keypairs(spark, sf_dir, variant), update_tag)

    # EC2 network family (VPC -> subnet -> ENI) then load balancers — both
    # attach to the SG/instance space loaded above; ELBs additionally attach
    # to subnets, and their EXPOSE targets feed the 'elb'/'elbv2' exposure legs
    sync_ec2_network(
        store,
        fx.ec2_vpcs(spark, sf_dir),
        fx.ec2_subnets(spark, sf_dir),
        fx.ec2_network_interfaces(spark, sf_dir),
        update_tag,
    )
    sync_elb(
        store,
        fx.elb_load_balancers(spark, sf_dir),
        fx.elbv2_load_balancers(spark, sf_dir),
        update_tag,
    )
    sync_asgs(store, fx.ec2_asgs(spark, sf_dir), update_tag)
    # EBS volumes/snapshots + elastic IPs (attach to instances and ENIs)
    sync_ec2_storage(
        store,
        fx.ebs_volumes(spark, sf_dir),
        fx.ebs_snapshots(spark, sf_dir),
        fx.elastic_ips(spark, sf_dir),
        update_tag,
    )
    # EC2 long tail: AMIs, IGWs, reserved instances, TGWs, peerings,
    # launch templates
    sync_ec2_tail(store, fx.ec2_tail_inventory(spark, sf_dir), update_tag)
    # Security Hub + AWS Config inventories
    sync_config_securityhub(
        store,
        fx.securityhub_hubs(spark, sf_dir),
        fx.config_recorders_rules(spark, sf_dir),
        update_tag,
    )

    # Lambda + ECR (the aws_lambda_ecr analysis joins them) and EKS (the
    # eks exposure analysis marks them)
    sync_lambda_ecr(
        store,
        fx.lambda_functions(spark, sf_dir),
        fx.ecr_images(spark, sf_dir),
        update_tag,
    )
    sync_eks(store, fx.eks_clusters(spark, sf_dir, variant), update_tag)
    sync_rds(store, fx.rds_instances(spark, sf_dir, variant), update_tag)

    # Route53: zones, records, nameservers, CNAME/NS resolution links and
    # the SUBZONE delegation derivation
    sync_route53(
        store,
        fx.dns_zones(spark, sf_dir),
        fx.dns_records(spark, sf_dir),
        fx.dns_nameservers(spark, sf_dir),
        update_tag,
    )

    # Kubernetes: cluster/namespace/pod/container/service/secret stack
    sync_kubernetes(
        store,
        fx.k8s_clusters(spark, sf_dir),
        fx.k8s_namespaces(spark, sf_dir),
        fx.k8s_pods(spark, sf_dir, variant),
        fx.k8s_containers(spark, sf_dir, variant),
        fx.k8s_services(spark, sf_dir),
        fx.k8s_secrets(spark, sf_dir),
        update_tag,
    )

    # GCP + Azure: the non-AWS providers (schema compiler generality across
    # id grammars — GCP self-links, Azure resource URIs); the GCP network
    # stack (vpc/firewall/rule/tag) feeds the inet-exposure analysis
    sync_gcp(
        store,
        fx.gcp_projects(spark, sf_dir),
        fx.gcp_instances(spark, sf_dir),
        update_tag,
        vpcs=fx.gcp_vpcs(spark, sf_dir),
        instance_net=fx.gcp_instance_net(spark, sf_dir),
        firewalls=fx.gcp_firewalls(spark, sf_dir),
        fw_rules=fx.gcp_fw_rules(spark, sf_dir),
        gke=fx.gke_clusters(spark, sf_dir),
    )
    # GCS buckets + Cloud DNS (records compose with the AWS Route53 record
    # space through the gcp_aws_dns analysis join)
    sync_gcp_storage_dns(
        store,
        fx.gcp_buckets(spark, sf_dir),
        fx.gcp_dns_zones(spark, sf_dir),
        fx.gcp_dns_records(spark, sf_dir),
        update_tag,
    )
    sync_azure(
        store,
        fx.azure_subscriptions(spark, sf_dir),
        fx.azure_vms(spark, sf_dir),
        update_tag,
    )
    sync_cosmosdb(
        store,
        fx.cosmosdb_accounts(spark, sf_dir),
        fx.cosmosdb_databases(spark, sf_dir),
        update_tag,
    )
    sync_azure_storage_sql(
        store,
        fx.azure_storage_accounts(spark, sf_dir),
        fx.azure_blob_containers(spark, sf_dir),
        fx.azure_sql_servers(spark, sf_dir),
        fx.azure_sql_databases(spark, sf_dir),
        update_tag,
    )

    # Elasticsearch domains + DNS endpoint records (reference elasticsearch.py
    # links each domain's endpoint FQDN into the DNS record space)
    sync_elasticsearch(store, fx.es_domains(spark, sf_dir), update_tag)

    # SQS (+DLQ self-join), KMS (+aliases), DynamoDB, API Gateway, ECS
    sync_sqs(store, fx.sqs_queues(spark, sf_dir), update_tag)
    sync_kms(store, fx.kms_keys(spark, sf_dir), fx.kms_aliases(spark, sf_dir), update_tag)
    sync_dynamodb(store, fx.dynamodb_tables(spark, sf_dir), update_tag)
    sync_apigateway(
        store,
        fx.apigw_rest_apis(spark, sf_dir),
        fx.apigw_stages(spark, sf_dir),
        fx.apigw_resources(spark, sf_dir),
        update_tag,
    )
    sync_ecs(
        store,
        fx.ecs_clusters(spark, sf_dir),
        fx.ecs_services(spark, sf_dir),
        fx.ecs_task_defs(spark, sf_dir),
        fx.ecs_tasks(spark, sf_dir),
        update_tag,
    )
    # Redshift joins the EC2 SG space, so it runs after sync_ec2 (above)
    sync_redshift(store, fx.redshift_clusters(spark, sf_dir), update_tag)
    # SSM + Inspector attach to the live EC2 instance population
    sync_ssm(
        store,
        fx.ssm_instance_info(spark, sf_dir),
        fx.ssm_instance_patches(spark, sf_dir),
        update_tag,
    )
    sync_inspector(store, fx.inspector_findings(spark, sf_dir), update_tag)
    sync_elasticache(store, fx.elasticache_clusters(spark, sf_dir), update_tag)
    sync_secretsmanager(store, fx.secretsmanager_secrets(spark, sf_dir), update_tag)

    # GSuite: users, groups, nested memberships
    sync_gsuite(
        store, fx.gsuite_users(spark, sf_dir), fx.gsuite_groups(spark, sf_dir), update_tag
    )

    # DigitalOcean: third tenancy grammar (account -> project -> droplet)
    sync_digitalocean(
        store,
        fx.do_accounts(spark, sf_dir),
        fx.do_projects(spark, sf_dir),
        fx.do_droplets(spark, sf_dir),
        update_tag,
    )

    # HR feed: Human nodes (human_link analysis attaches Okta identities)
    sync_humans(store, fx.humans(spark, sf_dir), update_tag)

    # PagerDuty on-call graph + OCI IAM (completes the provider sweep)
    sync_pagerduty(
        store,
        fx.pd_teams(spark, sf_dir),
        fx.pd_escalation_policies(spark, sf_dir),
        fx.pd_schedules(spark, sf_dir),
        fx.pd_users(spark, sf_dir),
        fx.pd_services(spark, sf_dir),
        update_tag,
    )
    sync_oci(
        store,
        fx.oci_compartments(spark, sf_dir),
        fx.oci_groups(spark, sf_dir),
        fx.oci_users(spark, sf_dir),
        update_tag,
    )

    # Device/endpoint tier: Crowdstrike hosts + Spotlight vulns + CVEs,
    # Kandji, Jamf, Bigfix, SnipeIT checkouts
    sync_devices(
        store,
        fx.crowdstrike_hosts(spark, sf_dir),
        fx.spotlight_vulns(spark, sf_dir),
        fx.kandji_devices(spark, sf_dir),
        fx.jamf_groups(spark, sf_dir),
        fx.bigfix_computers(spark, sf_dir),
        fx.snipeit_users(spark, sf_dir),
        fx.snipeit_assets(spark, sf_dir),
        update_tag,
    )


    okta.sync_okta(
        store,
        fx.okta_orgs(spark, sf_dir),
        fx.okta_groups(spark, sf_dir),
        fx.okta_users(spark, sf_dir),
        fx.okta_group_members(spark, sf_dir),
        update_tag,
    )
    okta.sync_saml(store, update_tag)
    # Okta breadth: applications (+reply URIs, user/group assignments),
    # MFA factors, admin roles, trusted origins
    okta.sync_okta_breadth(
        store,
        fx.okta_applications(spark, sf_dir),
        fx.okta_app_users(spark, sf_dir),
        fx.okta_factors(spark, sf_dir),
        fx.okta_admin_roles(spark, sf_dir),
        fx.okta_trusted_origins(spark, sf_dir),
        update_tag,
    )

    if with_github:
        sync_github(
            store,
            fx.github_repos(spark, sf_dir),
            fx.github_requirements(spark, sf_dir),
            fx.github_users(spark, sf_dir),
            update_tag,
        )
        sync_github_teams(
            store,
            fx.github_orgs(spark, sf_dir),
            fx.github_teams(spark, sf_dir),
            update_tag,
        )

    # SaaS identity + code scanning: Duo, Lastpass (IDENTITY_LASTPASS ->
    # Human), Semgrep findings -> GitHub repos + the shared CVE space.
    # Runs after humans and github so both join targets are live; with
    # with_github=False the FOUND_IN edges drop cleanly (inner join).
    sync_saas(
        store,
        fx.duo_users(spark, sf_dir),
        fx.duo_phones(spark, sf_dir),
        fx.lastpass_users(spark, sf_dir),
        fx.semgrep_findings(spark, sf_dir),
        update_tag,
    )

    # deferred stages (reference defers rpr + tags to the end,
    # intel/aws/__init__.py:62-76); permission edges come from the
    # user-editable mapping file (data/permission_relationships.json)
    permissions.sync_permission_mappings(store, policies, statements, update_tag)
    permissions.sync_sts_assumerole(store, policies, statements, update_tag)
    aws_tags.sync_tags(store, tags, update_tag)

    # --- documents path -------------------------------------------------------
    if with_documents:
        # flush so the mention pipeline (which walks the node table many
        # times: dictionary, canonicalization, label join) scans committed
        # parquet slices instead of re-deriving the buffered merge view
        store.flush()
        docs = interleaved_documents(spark, sf_dir)
        sync_documents(store, docs, update_tag)

    # --- cleanup (stale elements from prior tags) ------------------------------
    run_cleanup(spark, store, update_tag)

    # --- analysis (always last, reference sync.py:41-61) ------------------------
    from cartography_spark.analysis.registry import run_analysis_jobs

    run_analysis_jobs(store, spark, sf_dir, update_tag)

    meta = store.current_meta()
    return SyncResult(
        update_tag=update_tag,
        version=meta.get("version", 0),
        node_count=meta.get("metrics", {}).get("node_rows", -1),
        edge_count=meta.get("metrics", {}).get("edge_rows", -1),
    )


def run_cleanup(spark: SparkSession, store: GraphStore, update_tag: int) -> None:
    """Stale cleanup scoped to the labels/rels actually synced this run.

    The reference scopes each cleanup job to the schema being synced
    (cleanupbuilder.py builds per-schema queries), so a sync that skips a
    module (e.g. with_github=False) never wipes that module's data.  Here
    the scope comes from the stage checkpoints: every upsert records which
    labels/rel_labels it wrote under this tag, and only those slices are
    scanned for stale rows — labels untouched this run are preserved verbatim
    (and, with per-label slices, never even read).
    """
    stage = "cleanup:scoped"
    if store.stage_done(stage, update_tag):
        return
    from pyspark.sql import functions as F

    synced_labels: set[str] = set()
    synced_rels: set[str] = set()
    for s in store.stages_for_tag(update_tag).values():
        synced_labels.update(s.get("labels", []))
        synced_rels.update(s.get("rels", []))
    if not synced_labels and not synced_rels:
        return

    stale_nodes = (
        store.nodes(labels=sorted(synced_labels))
        .where(F.col("lastupdated") != int(update_tag))
        .select("label", "id")
    )
    stale_edges = (
        store.edges(rel_labels=sorted(synced_rels))
        .where(F.col("lastupdated") != int(update_tag))
        .select("src_id", "rel_label", "dst_id")
    )
    delete_stale(store, stale_nodes, stale_edges, stage, update_tag)
