"""Round-2 breadth: EC2/GCP/S3-ACL modules, analysis-job registry,
selected_relationships, RPR config, principal stub matching, per-key props
merge — golden-output tests mirroring the reference's integration suites
(tests/integration/cartography/intel/...)."""

import pyspark.sql.functions as F
import pytest

from cartography_spark.core.loader import compile_edges, compile_nodes
from cartography_spark.modules.aws_base import sync_accounts
from cartography_spark.sources import fixtures as fx
from tests.util import check_rels

SF = "/root/testdata/sf0.001"
T1, T2 = 111111111, 222222222


def test_ec2_module_graph_shape(spark, store):
    """EC2Instance/SG/rule/range families + membership edges
    (reference tests/integration/.../test_ec2_instances.py,
    test_ec2_security_groups.py)."""
    from cartography_spark.modules.aws_ec2 import sync_ec2

    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_ec2(
        store,
        fx.ec2_instances(spark, SF),
        fx.ec2_security_groups(spark, SF),
        fx.ec2_sg_rules(spark, SF),
        T1,
    )
    labels = {r[0] for r in store.nodes().select("label").distinct().collect()}
    assert {"EC2Instance", "EC2SecurityGroup", "IpPermissionInbound", "IpRange"} <= labels
    members = check_rels(store, "EC2Instance", "MEMBER_OF_EC2_SECURITY_GROUP", "EC2SecurityGroup")
    assert len(members) > 0
    # every member edge's sg must exist as a node
    sg_ids = {r[0] for r in store.nodes().where(F.col("label") == "EC2SecurityGroup").select("id").collect()}
    assert {m[1] for m in members} <= sg_ids
    ranges = check_rels(store, "IpRange", "MEMBER_OF_IP_RULE", "IpPermissionInbound")
    assert {r[0] for r in ranges} == {"0.0.0.0/0", "10.0.0.0/8"}


def test_gcp_module_resource_edges(spark, store):
    """Non-AWS sub-resource: (GCPProject)-[:RESOURCE]->(GCPInstance)."""
    from cartography_spark.modules.gcp import sync_gcp

    sync_gcp(store, fx.gcp_projects(spark, SF), fx.gcp_instances(spark, SF), T1)
    rels = check_rels(store, "GCPProject", "RESOURCE", "GCPInstance")
    assert len(rels) > 0
    for proj, inst in rels:
        assert inst.startswith(proj + "/zones/")


def test_analysis_jobs_store_roundtrip(spark, store):
    """All five registry jobs run store->store and leave the expected marks
    (reference data/jobs/analysis/*.json)."""
    from cartography_spark.analysis.registry import run_analysis_jobs
    from cartography_spark.modules.aws_ec2 import sync_ec2
    from cartography_spark.modules.aws_iam import sync_principals, sync_role_trusts
    from cartography_spark.modules.aws_s3 import sync_s3
    from cartography_spark.modules.hr import sync_humans
    from cartography_spark.modules.okta import sync_okta

    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_principals(
        store, fx.iam_users(spark, SF), fx.iam_groups(spark, SF), fx.iam_roles(spark, SF), T1
    )
    sync_role_trusts(store, fx.iam_roles(spark, SF), T1)
    sync_s3(store, fx.s3_buckets(spark, SF), fx.s3_acls(spark, SF), T1)
    sync_ec2(
        store,
        fx.ec2_instances(spark, SF),
        fx.ec2_security_groups(spark, SF),
        fx.ec2_sg_rules(spark, SF),
        T1,
    )
    sync_okta(
        store,
        fx.okta_orgs(spark, SF), fx.okta_groups(spark, SF),
        fx.okta_users(spark, SF), fx.okta_group_members(spark, SF),
        T1,
    )
    sync_humans(store, fx.humans(spark, SF), T1)

    ran = run_analysis_jobs(store, spark, SF, T1)
    # full registry runs (one entry per reference analysis JSON); jobs whose
    # labels weren't synced here are set-wise no-ops on empty slices
    assert set(ran) == {
        "aws_asset_exposure", "aws_eks_exposure", "aws_foreign_accounts",
        "aws_s3acl", "aws_ec2_iaminstanceprofile", "aws_ec2_keypair",
        "aws_lambda_ecr", "gcp_inet_exposure", "gcp_gke_exposure",
        "gcp_gke_basic_auth", "human_link", "k8s_lb_exposure",
        "aws_rds_exposure", "container_images", "gcp_aws_dns",
    }
    nodes, edges = store.nodes(), store.edges()
    # foreign accounts marked, inscope ones not
    foreign = nodes.where(F.element_at("props", "foreign") == "true")
    assert foreign.count() > 0
    assert foreign.where(F.element_at("props", "inscope").isNotNull()).count() == 0
    # anonymous buckets marked with a JSON action list
    anon = nodes.where(F.element_at("props", "anonymous_access") == "true")
    assert anon.count() > 0
    assert anon.where(~F.element_at("props", "anonymous_actions").startswith("[")).count() == 0
    # instance-profile STS edges bind instances to same-account roles
    sts = edges.where(
        (F.col("rel_label") == "STS_ASSUMEROLE_ALLOW") & (F.col("src_label") == "EC2Instance")
    )
    assert sts.count() > 0
    # human identity links
    assert edges.where(F.col("rel_label") == "IDENTITY_OKTA").count() > 0
    # idempotent: re-run under the same tag is a no-op (stage checkpoints)
    assert run_analysis_jobs(store, spark, SF, T1) == []


def test_trust_binds_to_existing_principal_not_stub(spark, store):
    """ADVICE: a role trusting a real AWSUser ARN must bind the trust edge to
    the existing node (shared AWSPrincipal extra label), not create a
    duplicate stub (reference MERGE (:AWSPrincipal{arn}) matching)."""
    from cartography_spark.modules.aws_iam import USER_SCHEMA, sync_role_trusts

    users = spark.createDataFrame(
        [("arn:aws:iam::000000000000:user/u1", "u1", "u1@x.example.com", "AIDA1", "/", "000000000000")],
        ["arn", "name", "email", "userid", "path", "account_id"],
    )
    store.upsert(compile_nodes(users, USER_SCHEMA, T1), None, "users", T1)

    roles = spark.createDataFrame(
        [(
            "arn:aws:iam::000000000000:role/r1", "r1", "000000000000",
            [{"type": "AWS", "value": "arn:aws:iam::000000000000:user/u1"}],
        )],
        "arn string, name string, account_id string, trust_principals array<struct<type:string,value:string>>",
    )
    sync_role_trusts(store, roles, T1)

    # no duplicate stub under label AWSPrincipal for the user's ARN
    dupes = store.nodes().where(
        (F.col("id") == "arn:aws:iam::000000000000:user/u1")
        & (F.col("label") == "AWSPrincipal")
    )
    assert dupes.count() == 0
    # trust edge points at the real node's label
    e = store.edges().where(F.col("rel_label") == "TRUSTS_AWS_PRINCIPAL").collect()
    assert len(e) == 1 and e[0].dst_label == "AWSUser"


def test_selected_relationships_subset_and_validation(spark):
    """Partial-rel loading (reference querybuilder.py:307-346 +
    tests/unit/.../test_querybuilder_filter_selected_rels.py)."""
    from cartography_spark.modules.aws_ec2 import EC2_INSTANCE_SCHEMA, EC2_SG_SCHEMA

    sgs = compile_nodes(fx.ec2_security_groups(spark, SF), EC2_SG_SCHEMA, T1)
    inst = fx.ec2_instances(spark, SF)
    only_members = compile_edges(
        inst, EC2_INSTANCE_SCHEMA, sgs, T1,
        selected_relationships=["MEMBER_OF_EC2_SECURITY_GROUP"],
    )
    rels = {r[0] for r in only_members.select("rel_label").distinct().collect()}
    assert rels == {"MEMBER_OF_EC2_SECURITY_GROUP"}
    with pytest.raises(ValueError, match="not declared"):
        compile_edges(inst, EC2_INSTANCE_SCHEMA, sgs, T1, selected_relationships=["NOPE"])


def test_rpr_mapping_file(spark):
    """Config-driven permission mappings (reference
    permission_relationships.py:284-305)."""
    from cartography_spark.modules.permissions import load_permission_mappings

    mappings = load_permission_mappings()
    assert {m["relationship_name"] for m in mappings} == {
        "CAN_READ",
        "CAN_LIST",
        "CAN_SEND",  # config-only mapping (round 4): no code path names it
    }
    by_rel = {m["relationship_name"]: m for m in mappings}
    assert by_rel["CAN_READ"]["target_label"] == "S3Bucket"
    assert by_rel["CAN_LIST"]["target_label"] == "S3Bucket"
    assert by_rel["CAN_SEND"]["target_label"] == "SQSQueue"
    for m in mappings:
        assert m["permissions"]


def test_upsert_props_merge_per_key(spark, store):
    """ADVICE: MERGE SET writes only declared props — a second writer's batch
    must not erase the first writer's keys."""
    from cartography_spark.core.loader import NODES_SCHEMA

    def node(props):
        return spark.createDataFrame(
            [("n1", "Thing", props, None, None, T1)], NODES_SCHEMA
        )

    store.upsert(node({"a": "1", "b": "2"}), None, "w1", T1)
    store.upsert(node({"b": "9", "c": "3"}), None, "w2", T1)
    row = store.nodes().where(F.col("id") == "n1").collect()[0]
    assert row.props == {"a": "1", "b": "9", "c": "3"}


def test_azure_module_resource_edges(spark, store):
    """Second non-AWS sub-resource (Azure resource-URI ids)."""
    from cartography_spark.modules.azure import sync_azure

    sync_azure(store, fx.azure_subscriptions(spark, SF), fx.azure_vms(spark, SF), T1)
    rels = check_rels(store, "AzureSubscription", "RESOURCE", "AzureVirtualMachine")
    assert len(rels) > 0
    for sub, vm in rels:
        assert vm.startswith(f"/subscriptions/{sub}/")


def test_route53_module_graph_shape(spark, store):
    """Zones/records/nameservers + membership, DNS_POINTS_TO and the SUBZONE
    delegation derivation (reference route53.py:205-230 link_sub_zones)."""
    from cartography_spark.modules.aws_route53 import sync_route53

    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_route53(
        store,
        fx.dns_zones(spark, SF),
        fx.dns_records(spark, SF),
        fx.dns_nameservers(spark, SF),
        T1,
    )
    labels = {r[0] for r in store.nodes().select("label").distinct().collect()}
    assert {"AWSDNSZone", "AWSDNSRecord", "NameServer"} <= labels

    # every record belongs to an existing zone
    member = check_rels(store, "AWSDNSRecord", "MEMBER_OF_DNS_ZONE", "AWSDNSZone")
    zone_ids = {
        r[0] for r in store.nodes().where(F.col("label") == "AWSDNSZone").select("id").collect()
    }
    assert len(member) > 0 and {m[1] for m in member} <= zone_ids

    # NS records point at NameServers; official mapping exists per zone
    ns_pt = check_rels(store, "AWSDNSRecord", "DNS_POINTS_TO", "NameServer")
    assert len(ns_pt) > 0
    official = check_rels(store, "AWSDNSZone", "NAMESERVER", "NameServer")
    assert {o[0] for o in official} == zone_ids

    # CNAME -> A resolution edges land on record nodes
    cname_pt = check_rels(store, "AWSDNSRecord", "DNS_POINTS_TO", "AWSDNSRecord")
    for src, dst in cname_pt:
        assert "/CNAME" in src and dst.endswith("/A")

    # SUBZONE: exactly the parent->dev delegations (even nations)
    sub = check_rels(store, "AWSDNSZone", "SUBZONE", "AWSDNSZone")
    assert len(sub) == 13
    for parent, child in sub:
        assert child == "ZSUB" + parent[1:]


def test_kubernetes_module_graph_shape(spark, store):
    """cluster -> namespace -> pod -> container chain + SERVES_POD selector
    join (reference intel/kubernetes/{namespaces,pods,services,secrets}.py)."""
    from cartography_spark.modules.kubernetes import sync_kubernetes

    sync_kubernetes(
        store,
        fx.k8s_clusters(spark, SF),
        fx.k8s_namespaces(spark, SF),
        fx.k8s_pods(spark, SF),
        fx.k8s_containers(spark, SF),
        fx.k8s_services(spark, SF),
        fx.k8s_secrets(spark, SF),
        T1,
    )
    has_ns = check_rels(store, "KubernetesCluster", "HAS_NAMESPACE", "KubernetesNamespace")
    assert len(has_ns) == 25
    has_pod = check_rels(store, "KubernetesNamespace", "HAS_POD", "KubernetesPod")
    assert len(has_pod) > 0
    has_cont = check_rels(store, "KubernetesPod", "HAS_CONTAINER", "KubernetesContainer")
    pod_ids = {p[1] for p in has_pod}
    assert len(has_cont) > 0 and {c[0] for c in has_cont} <= pod_ids

    # SERVES_POD respects namespace + selector class
    serves = check_rels(store, "KubernetesService", "SERVES_POD", "KubernetesPod")
    assert len(serves) > 0
    for svc, pod in serves:
        s_key = int(svc.split("-")[1])
        o_key = int(pod.split("-")[1])
        assert o_key % 5 == s_key % 5

    secrets = check_rels(store, "KubernetesNamespace", "HAS_SECRET", "KubernetesSecret")
    assert len(secrets) == 12  # odd nations


def test_rds_module(spark, store):
    """RDSInstance nodes + RESOURCE tenancy (reference intel/aws/rds.py)."""
    from cartography_spark.modules.aws_rds import sync_rds

    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_rds(store, fx.rds_instances(spark, SF), T1)
    rels = check_rels(store, "AWSAccount", "RESOURCE", "RDSInstance")
    assert len(rels) > 0
    for acct, arn in rels:
        assert f":{acct}:" in arn


def test_gsuite_module_nested_membership(spark, store):
    """User and nested group memberships + transitive closure (reference
    gsuite/api.py:188-214)."""
    from cartography_spark.modules.gsuite import (
        effective_memberships,
        sync_gsuite,
        _users_with_group,
    )

    sync_gsuite(store, fx.gsuite_users(spark, SF), fx.gsuite_groups(spark, SF), T1)
    u2g = check_rels(store, "GSuiteUser", "MEMBER_GSUITE_GROUP", "GSuiteGroup")
    g2g = check_rels(store, "GSuiteGroup", "MEMBER_GSUITE_GROUP", "GSuiteGroup")
    assert len(u2g) > 0 and len(g2g) == 20  # nations 5..24 nest under roots

    closure = {
        (r.user_id, r.group_id)
        for r in effective_memberships(
            _users_with_group(fx.gsuite_users(spark, SF)), fx.gsuite_groups(spark, SF)
        ).collect()
    }
    # every direct member appears, and members of nested groups reach the root
    assert u2g <= closure
    for user, group in u2g:
        n = int(group.split("-")[1])
        if n >= 5:
            assert (user, f"ggroup-{n % 5}") in closure


def test_digitalocean_module_chain(spark, store):
    """account -> project -> droplet RESOURCE chain (third tenancy
    grammar)."""
    from cartography_spark.modules.digitalocean import sync_digitalocean

    sync_digitalocean(
        store,
        fx.do_accounts(spark, SF),
        fx.do_projects(spark, SF),
        fx.do_droplets(spark, SF),
        T1,
    )
    a2p = check_rels(store, "DOAccount", "RESOURCE", "DOProject")
    p2d = check_rels(store, "DOProject", "RESOURCE", "DODroplet")
    assert len(a2p) == 25 and len(p2d) > 0
    proj_with_acct = {p for _, p in a2p}
    assert {p for p, _ in p2d} <= proj_with_acct


def test_elasticsearch_dns_link(spark, store):
    """ES domain endpoint lands as an AWSDNSRecord with DNS_POINTS_TO
    (reference elasticsearch.py:98-125 + dns.py)."""
    from cartography_spark.modules.aws_es import sync_elasticsearch

    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_elasticsearch(store, fx.es_domains(spark, SF), T1)
    pt = check_rels(store, "AWSDNSRecord", "DNS_POINTS_TO", "ESDomain")
    assert len(pt) > 0
    for rec, dom in pt:
        assert rec == f"search-{dom}.us-east-1.es.example.com+CNAME"
    res = check_rels(store, "AWSAccount", "RESOURCE", "ESDomain")
    assert {d for _, d in res} == {d for _, d in pt}


def test_sqs_kms_apigw_modules(spark, store):
    """SQS DLQ self-join, KMS KNOWN_AS, API Gateway stage/resource edges
    (reference sqs.py:120-135, kms.py:115-130, apigateway.py:185-275)."""
    from cartography_spark.modules.aws_inventory import (
        sync_apigateway,
        sync_dynamodb,
        sync_kms,
        sync_sqs,
    )

    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_sqs(store, fx.sqs_queues(spark, SF), T1)
    sync_kms(store, fx.kms_keys(spark, SF), fx.kms_aliases(spark, SF), T1)
    sync_dynamodb(store, fx.dynamodb_tables(spark, SF), T1)
    sync_apigateway(
        store,
        fx.apigw_rest_apis(spark, SF),
        fx.apigw_stages(spark, SF),
        fx.apigw_resources(spark, SF),
        T1,
    )

    dlq = check_rels(store, "SQSQueue", "HAS_DEADLETTER_QUEUE", "SQSQueue")
    queue_ids = {
        r[0] for r in store.nodes().where(F.col("label") == "SQSQueue").select("id").collect()
    }
    # every DLQ edge endpoint is a live queue (the MATCH gate)
    assert len(dlq) > 0
    for src, dst in dlq:
        assert src in queue_ids and dst in queue_ids

    known_as = check_rels(store, "KMSAlias", "KNOWN_AS", "KMSKey")
    assert len(known_as) > 0
    assoc = check_rels(store, "APIGatewayRestAPI", "ASSOCIATED_WITH", "APIGatewayStage")
    assert len(assoc) == 50  # 25 apis x 2 stages
    res = check_rels(store, "APIGatewayRestAPI", "RESOURCE", "APIGatewayResource")
    assert len(res) > 0


def test_ecs_module_chain(spark, store):
    """cluster -> service/task -> taskdef -> container chain; tasks whose
    task_def_ref is absent keep their node but drop the edge (reference
    MATCH gate)."""
    from cartography_spark.modules.aws_ecs import sync_ecs

    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_ecs(
        store,
        fx.ecs_clusters(spark, SF),
        fx.ecs_services(spark, SF),
        fx.ecs_task_defs(spark, SF),
        fx.ecs_tasks(spark, SF),
        T1,
    )
    svc = check_rels(store, "ECSCluster", "HAS_SERVICE", "ECSService")
    assert len(svc) > 0
    task_edges = check_rels(store, "ECSTask", "HAS_TASK_DEFINITION", "ECSTaskDefinition")
    td_ids = {
        r[0]
        for r in store.nodes().where(F.col("label") == "ECSTaskDefinition").select("id").collect()
    }
    assert {t[1] for t in task_edges} <= td_ids
    # task nodes survive even when their taskdef ref was absent
    n_tasks = store.nodes().where(F.col("label") == "ECSTask").count()
    assert n_tasks >= len({t[0] for t in task_edges})
    cont = check_rels(store, "ECSTask", "HAS_CONTAINER", "ECSContainer")
    assert len(cont) == n_tasks


def test_azure_storage_sql_modules(spark, store):
    """storage account -> blob service -> container chain and SQL server ->
    database family (reference azure/storage.py, azure/sql.py)."""
    from cartography_spark.modules.azure import sync_azure, sync_azure_storage_sql

    sync_azure(store, fx.azure_subscriptions(spark, SF), fx.azure_vms(spark, SF), T1)
    sync_azure_storage_sql(
        store,
        fx.azure_storage_accounts(spark, SF),
        fx.azure_blob_containers(spark, SF),
        fx.azure_sql_servers(spark, SF),
        fx.azure_sql_databases(spark, SF),
        T1,
    )
    uses = check_rels(store, "AzureStorageAccount", "USES", "AzureStorageBlobService")
    contains = check_rels(store, "AzureStorageBlobService", "CONTAINS", "AzureStorageBlobContainer")
    assert len(uses) > 0 and len(contains) == 2 * len(uses)  # docs+logs per account
    sub_res = check_rels(store, "AzureSubscription", "RESOURCE", "AzureStorageAccount")
    assert {a for _, a in sub_res} == {a for a, _ in uses}
    dbs = check_rels(store, "AzureSQLServer", "RESOURCE", "AzureSQLDatabase")
    assert len(dbs) > 0
    for srv, db in dbs:
        assert db.startswith(srv + "/databases/")


def test_devices_module(spark, store):
    """Crowdstrike host->vuln->CVE chain, Kandji/Bigfix/SnipeIT tenancies,
    checkout existence gate (reference crowdstrike/spotlight.py,
    models/{kandji,bigfix,snipeit}/*)."""
    from cartography_spark.modules.devices import sync_devices

    sync_devices(
        store,
        fx.crowdstrike_hosts(spark, SF),
        fx.spotlight_vulns(spark, SF),
        fx.kandji_devices(spark, SF),
        fx.jamf_groups(spark, SF),
        fx.bigfix_computers(spark, SF),
        fx.snipeit_users(spark, SF),
        fx.snipeit_assets(spark, SF),
        T1,
    )
    hv = check_rels(store, "CrowdstrikeHost", "HAS_VULNERABILITY", "SpotlightVulnerability")
    hc = check_rels(store, "SpotlightVulnerability", "HAS_CVE", "CVE")
    assert len(hv) > 0 and len(hc) == len(hv)  # every vuln carries one CVE
    enr = check_rels(store, "KandjiDevice", "ENROLLED_TO", "KandjiTenant")
    assert {t for _, t in enr} == {"kandji-tenant"}
    bf = check_rels(store, "BigfixRoot", "RESOURCE", "BigfixComputer")
    assert len(bf) > 0
    co = check_rels(store, "SnipeitAsset", "HAS_CHECKED_OUT", "SnipeitUser")
    user_ids = {
        r[0] for r in store.nodes().where(F.col("label") == "SnipeitUser").select("id").collect()
    }
    assert len(co) > 0 and {u for _, u in co} <= user_ids


def test_saas_module(spark, store):
    """Duo phones, Lastpass IDENTITY edges, Semgrep repo gate + shared CVE
    space with Crowdstrike (MERGE-by-id collapse)."""
    from cartography_spark.modules.devices import sync_devices
    from cartography_spark.modules.github import sync_github
    from cartography_spark.modules.hr import sync_humans
    from cartography_spark.modules.saas import sync_saas

    sync_humans(store, fx.humans(spark, SF), T1)
    sync_github(
        store,
        fx.github_repos(spark, SF),
        fx.github_requirements(spark, SF),
        fx.github_users(spark, SF),
        T1,
    )
    sync_devices(
        store,
        fx.crowdstrike_hosts(spark, SF),
        fx.spotlight_vulns(spark, SF),
        fx.kandji_devices(spark, SF),
        fx.jamf_groups(spark, SF),
        fx.bigfix_computers(spark, SF),
        fx.snipeit_users(spark, SF),
        fx.snipeit_assets(spark, SF),
        T1,
    )
    sync_saas(
        store,
        fx.duo_users(spark, SF),
        fx.duo_phones(spark, SF),
        fx.lastpass_users(spark, SF),
        fx.semgrep_findings(spark, SF),
        T1,
    )
    phones = check_rels(store, "DuoUser", "HAS_DUO_PHONE", "DuoPhone")
    assert len(phones) > 0
    ident = check_rels(store, "Human", "IDENTITY_LASTPASS", "LastpassUser")
    assert len(ident) > 0
    found_in = check_rels(store, "SemgrepSCAFinding", "FOUND_IN", "GitHubRepository")
    repo_ids = {
        r[0]
        for r in store.nodes().where(F.col("label") == "GitHubRepository").select("id").collect()
    }
    assert len(found_in) > 0 and {r for _, r in found_in} <= repo_ids
    # CVE id space is shared: no duplicate CVE nodes despite two writers
    cves = store.nodes().where(F.col("label") == "CVE")
    assert cves.count() == cves.select("id").distinct().count()


def test_pagerduty_oci_modules(spark, store):
    """PagerDuty on-call graph edges and OCI IAM memberships (reference
    intel/pagerduty/*, intel/oci/iam.py)."""
    from cartography_spark.modules.pagerduty_oci import sync_oci, sync_pagerduty

    sync_pagerduty(
        store,
        fx.pd_teams(spark, SF),
        fx.pd_escalation_policies(spark, SF),
        fx.pd_schedules(spark, SF),
        fx.pd_users(spark, SF),
        fx.pd_services(spark, SF),
        T1,
    )
    sync_oci(
        store,
        fx.oci_compartments(spark, SF),
        fx.oci_groups(spark, SF),
        fx.oci_users(spark, SF),
        T1,
    )
    team_m = check_rels(store, "PagerDutyUser", "MEMBER_OF", "PagerDutyTeam")
    sched_m = check_rels(store, "PagerDutyUser", "MEMBER_OF", "PagerDutySchedule")
    assert len(team_m) > 0 and 0 < len(sched_m) < len(team_m)  # schedule_id nullable
    t2s = check_rels(store, "PagerDutyTeam", "ASSOCIATED_WITH", "PagerDutyService")
    s2e = check_rels(store, "PagerDutyService", "ASSOCIATED_WITH", "PagerDutyEscalationPolicy")
    assert len(t2s) == len(s2e) > 0

    comp = check_rels(store, "OCITenancy", "OCI_COMPARTMENT", "OCICompartment")
    assert len(comp) == 25
    mem = check_rels(store, "OCIUser", "MEMBER_OCID_GROUP", "OCIGroup")
    assert len(mem) > 0


def test_redshift_elasticache_secrets_modules(spark, store):
    """Redshift SG membership (existence-gated), ElastiCache topics,
    SecretsManager rotation (reference redshift.py, elasticache.py,
    secretsmanager.py)."""
    from cartography_spark.modules.aws_ec2 import sync_ec2
    from cartography_spark.modules.aws_inventory import (
        sync_elasticache,
        sync_redshift,
        sync_secretsmanager,
    )

    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_ec2(
        store,
        fx.ec2_instances(spark, SF),
        fx.ec2_security_groups(spark, SF),
        fx.ec2_sg_rules(spark, SF),
        T1,
    )
    sync_redshift(store, fx.redshift_clusters(spark, SF), T1)
    sync_elasticache(store, fx.elasticache_clusters(spark, SF), T1)
    sync_secretsmanager(store, fx.secretsmanager_secrets(spark, SF), T1)

    rs_sg = check_rels(store, "RedshiftCluster", "MEMBER_OF_EC2_SECURITY_GROUP", "EC2SecurityGroup")
    sg_ids = {
        r[0]
        for r in store.nodes().where(F.col("label") == "EC2SecurityGroup").select("id").collect()
    }
    assert {s for _, s in rs_sg} <= sg_ids
    topics = check_rels(store, "ElasticacheTopic", "CACHE_CLUSTER", "ElasticacheCluster")
    clusters = {
        r[0]
        for r in store.nodes().where(F.col("label") == "ElasticacheCluster").select("id").collect()
    }
    assert len(topics) > 0 and {c for _, c in topics} <= clusters
    secrets = store.nodes().where(F.col("label") == "SecretsManagerSecret")
    assert secrets.count() > 0


def test_ssm_inspector_modules(spark, store):
    """SSM info/patches and Inspector findings attach to the live EC2
    instance graph (reference models/aws/ssm/*, models/aws/inspector/*)."""
    from cartography_spark.modules.aws_ec2 import sync_ec2
    from cartography_spark.modules.aws_ssm_inspector import sync_inspector, sync_ssm

    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_ec2(
        store,
        fx.ec2_instances(spark, SF),
        fx.ec2_security_groups(spark, SF),
        fx.ec2_sg_rules(spark, SF),
        T1,
    )
    sync_ssm(
        store, fx.ssm_instance_info(spark, SF), fx.ssm_instance_patches(spark, SF), T1
    )
    sync_inspector(store, fx.inspector_findings(spark, SF), T1)

    inst_ids = {
        r[0] for r in store.nodes().where(F.col("label") == "EC2Instance").select("id").collect()
    }
    info = check_rels(store, "EC2Instance", "HAS_INFORMATION", "SSMInstanceInformation")
    patch = check_rels(store, "EC2Instance", "HAS_PATCH", "SSMInstancePatch")
    assert len(info) > 0 and len(patch) > 0
    assert {i for i, _ in info} <= inst_ids and {i for i, _ in patch} <= inst_ids
    affects = check_rels(store, "AWSInspectorFinding", "AFFECTS", "EC2Instance")
    assert len(affects) > 0 and {i for _, i in affects} <= inst_ids


def test_ec2_network_and_elb_graph_shape(spark, store):
    """Round-3 EC2 network family + load balancers: VPC/subnet/ENI and
    LoadBalancer/LoadBalancerV2/listener families with their edges
    (reference intel/aws/ec2/{vpc,subnets,network_interfaces,
    load_balancers,load_balancer_v2s}.py)."""
    from cartography_spark.modules.aws_ec2 import sync_ec2
    from cartography_spark.modules.aws_ec2_network import sync_ec2_network
    from cartography_spark.modules.aws_elb import sync_elb

    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_ec2(
        store,
        fx.ec2_instances(spark, SF),
        fx.ec2_security_groups(spark, SF),
        fx.ec2_sg_rules(spark, SF),
        T1,
    )
    sync_ec2_network(
        store,
        fx.ec2_vpcs(spark, SF),
        fx.ec2_subnets(spark, SF),
        fx.ec2_network_interfaces(spark, SF),
        T1,
    )
    sync_elb(
        store,
        fx.elb_load_balancers(spark, SF),
        fx.elbv2_load_balancers(spark, SF),
        T1,
    )
    from cartography_spark.modules.aws_ec2_network import sync_asgs

    sync_asgs(store, fx.ec2_asgs(spark, SF), T1)
    labels = {r[0] for r in store.nodes().select("label").distinct().collect()}
    assert {
        "AWSVpc", "EC2Subnet", "NetworkInterface",
        "LoadBalancer", "LoadBalancerV2", "ELBListener", "ELBV2Listener",
        "AutoScalingGroup", "LaunchConfiguration",
    } <= labels
    assert len(check_rels(store, "EC2Instance", "MEMBER_AUTO_SCALE_GROUP", "AutoScalingGroup")) > 0
    assert len(check_rels(store, "AutoScalingGroup", "HAS_LAUNCH_CONFIG", "LaunchConfiguration")) > 0

    # subnet -> vpc
    assert len(check_rels(store, "EC2Subnet", "MEMBER_OF_AWS_VPC", "AWSVpc")) > 0
    # instance -> eni (INWARD decl on the ENI schema)
    assert len(check_rels(store, "EC2Instance", "NETWORK_INTERFACE", "NetworkInterface")) > 0
    assert len(check_rels(store, "NetworkInterface", "PART_OF_SUBNET", "EC2Subnet")) > 0
    assert len(check_rels(store, "NetworkInterface", "MEMBER_OF_EC2_SECURITY_GROUP", "EC2SecurityGroup")) > 0
    # classic ELB matches its source group by NAME
    src = check_rels(store, "LoadBalancer", "SOURCE_SECURITY_GROUP", "EC2SecurityGroup")
    assert len(src) > 0
    # v2 by groupid; NLBs (no sg) must NOT produce membership edges
    v2sg = check_rels(store, "LoadBalancerV2", "MEMBER_OF_EC2_SECURITY_GROUP", "EC2SecurityGroup")
    assert len(v2sg) > 0
    nlb_ids = {
        r[0]
        for r in fx.elbv2_load_balancers(spark, SF)
        .where(F.col("sg_id").isNull())
        .select("elbv2_id")
        .collect()
    }
    assert nlb_ids and not ({e[0] for e in v2sg} & nlb_ids)
    # listeners hang off their LB
    assert len(check_rels(store, "LoadBalancer", "ELB_LISTENER", "ELBListener")) > 0
    assert len(check_rels(store, "LoadBalancerV2", "ELBV2_LISTENER", "ELBV2Listener")) > 0
    # EXPOSE targets: two per LB, all resolving to live instances
    expose = check_rels(store, "LoadBalancer", "EXPOSE", "EC2Instance")
    assert len(expose) > 0
    inst_ids = {
        r[0]
        for r in store.nodes().where(F.col("label") == "EC2Instance").select("id").collect()
    }
    assert {e[1] for e in expose} <= inst_ids


def test_exposure_elb_legs_match_naive(spark):
    """The binned ELB exposure legs must equal naive theta-joins, and the
    accumulated type list must contain each leg exactly where expected."""
    from cartography_spark.analysis.exposure import (
        eni_exposed_instances,
        exposed_elbs,
        exposed_elbv2s,
        exposure_types,
    )

    t = fx.exposure_topology(spark, SF)
    rules = (
        fx.ec2_sg_rules(spark, SF)
        .where(F.col("cidr") == "0.0.0.0/0")
        .select("sg_id", "fromport", "toport")
    )

    # classic: name->sg_id mapping is secgroup-K -> sg-K
    elbs = fx.elb_load_balancers(spark, SF).where(F.col("scheme") == "internet-facing")
    naive_elb = (
        elbs.withColumn("sg_id", F.regexp_replace("sg_name", "^secgroup-", "sg-"))
        .join(fx.ec2_security_groups(spark, SF).select("sg_id"), "sg_id")
        .join(rules, "sg_id")
        .where(
            (F.col("listener_port") >= F.col("fromport"))
            & (F.col("listener_port") <= F.col("toport"))
        )
        .select(F.col("elb_id").alias("lb_id"), "sg_id", "listener_port")
        .distinct()
    )
    got_elb = exposed_elbs(t["elbs"], t["rules"])
    assert got_elb.exceptAll(naive_elb).count() == 0
    assert naive_elb.exceptAll(got_elb).count() == 0
    assert got_elb.count() > 0

    # v2: NLBs excluded by construction
    v2 = fx.elbv2_load_balancers(spark, SF)
    naive_v2 = (
        v2.where((F.col("scheme") == "internet-facing") & F.col("sg_id").isNotNull())
        .join(rules, "sg_id")
        .where(
            (F.col("listener_port") >= F.col("fromport"))
            & (F.col("listener_port") <= F.col("toport"))
        )
        .select(F.col("elbv2_id").alias("lb_id"), "sg_id", "listener_port")
        .distinct()
    )
    got_v2 = exposed_elbv2s(t["elbv2s"], t["rules"])
    assert got_v2.exceptAll(naive_v2).count() == 0
    assert naive_v2.exceptAll(got_v2).count() == 0

    # ENI leg non-vacuous and disjoint sg space from the direct leg
    eni = eni_exposed_instances(t["enis"], t["instances"], t["rules"])
    assert eni.count() > 0

    # every exposed-LB target instance carries the matching list entry
    types = {r.instance_id: r.exposure_types.split(",") for r in exposure_types(t).collect()}
    elb_targets = (
        fx.elb_load_balancers(spark, SF)
        .join(got_elb.select(F.col("lb_id").alias("elb_id")), "elb_id", "left_semi")
        .select(F.explode(F.array("target_instance_1", "target_instance_2")).alias("i"))
        .collect()
    )
    assert elb_targets
    for r in elb_targets:
        assert "elb" in types[r.i]


def test_okta_breadth_graph_shape(spark, store):
    """Round-3 Okta breadth: applications (+reply URIs, user/group
    assignments), MFA factors, shared admin-role nodes, trusted origins
    (reference intel/okta/{applications,factors,roles,origins}.py)."""
    from cartography_spark.modules.okta import sync_okta, sync_okta_breadth

    sync_okta(
        store,
        fx.okta_orgs(spark, SF),
        fx.okta_groups(spark, SF),
        fx.okta_users(spark, SF),
        fx.okta_group_members(spark, SF),
        T1,
    )
    sync_okta_breadth(
        store,
        fx.okta_applications(spark, SF),
        fx.okta_app_users(spark, SF),
        fx.okta_factors(spark, SF),
        fx.okta_admin_roles(spark, SF),
        fx.okta_trusted_origins(spark, SF),
        T1,
    )
    labels = {r[0] for r in store.nodes().select("label").distinct().collect()}
    assert {
        "OktaApplication", "ReplyUri", "OktaUserFactor",
        "OktaAdministrationRole", "OktaTrustedOrigin",
    } <= labels
    assert len(check_rels(store, "OktaGroup", "APPLICATION", "OktaApplication")) > 0
    assert len(check_rels(store, "OktaUser", "APPLICATION", "OktaApplication")) > 0
    assert len(check_rels(store, "OktaApplication", "REPLYURI", "ReplyUri")) > 0
    assert len(check_rels(store, "OktaUser", "FACTOR", "OktaUserFactor")) > 0
    # shared role nodes: one per TYPE, not per grant (reference roles.py
    # MERGEs by type) — and every grantee edge lands on one of the two
    roles = {
        r[0]
        for r in store.nodes().where(F.col("label") == "OktaAdministrationRole").select("id").collect()
    }
    assert roles == {"SUPER_ADMIN", "HELP_DESK_ADMIN"}
    grants = check_rels(store, "OktaUser", "MEMBER_OF_OKTA_ROLE", "OktaAdministrationRole")
    assert grants and {g[1] for g in grants} <= roles


def test_github_teams_and_gcp_breadth(spark, store):
    """GitHub teams (per-permission conditional rels) + GCS buckets + Cloud
    DNS with the cross-provider record join."""
    from cartography_spark.modules.aws_route53 import sync_route53
    from cartography_spark.modules.gcp import sync_gcp, sync_gcp_storage_dns
    from cartography_spark.modules.github import sync_github, sync_github_teams
    from cartography_spark.analysis.jobs import gcp_aws_dns_links

    sync_github(
        store,
        fx.github_repos(spark, SF),
        fx.github_requirements(spark, SF),
        fx.github_users(spark, SF),
        T1,
    )
    sync_github_teams(store, fx.github_orgs(spark, SF), fx.github_teams(spark, SF), T1)
    perms = {
        rel
        for rel in ("ADMIN", "WRITE", "READ")
        for _ in check_rels(store, "GitHubTeam", rel, "GitHubRepository")
    }
    assert perms == {"ADMIN", "WRITE", "READ"}

    sync_gcp(store, fx.gcp_projects(spark, SF), fx.gcp_instances(spark, SF), T1)
    sync_gcp_storage_dns(
        store,
        fx.gcp_buckets(spark, SF),
        fx.gcp_dns_zones(spark, SF),
        fx.gcp_dns_records(spark, SF),
        T1,
    )
    assert len(check_rels(store, "GCPProject", "RESOURCE", "GCPBucket")) > 0
    assert len(check_rels(store, "GCPDNSZone", "HAS_RECORD", "GCPRecordSet")) > 0

    # cross-provider: AWS route53 records + the analysis join
    sync_route53(
        store,
        fx.dns_zones(spark, SF),
        fx.dns_records(spark, SF),
        fx.dns_nameservers(spark, SF),
        T1,
    )
    gcp_aws_dns_links(store, T1)
    x = check_rels(store, "GCPRecordSet", "DNS_POINTS_TO", "AWSDNSRecord")
    assert len(x) > 0
    for src, dst in x:
        assert src.startswith("aws-alias-") and "/A" in dst


def test_ec2_storage_and_config_graph_shape(spark, store):
    """EBS volumes/snapshots, elastic IPs (instance + conditional ENI legs),
    SecurityHub + AWS Config inventories."""
    from cartography_spark.modules.aws_ec2 import sync_ec2
    from cartography_spark.modules.aws_ec2_network import sync_ec2_network
    from cartography_spark.modules.aws_ec2_storage import sync_ec2_storage
    from cartography_spark.modules.aws_config_securityhub import sync_config_securityhub

    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_ec2(
        store,
        fx.ec2_instances(spark, SF),
        fx.ec2_security_groups(spark, SF),
        fx.ec2_sg_rules(spark, SF),
        T1,
    )
    sync_ec2_network(
        store, fx.ec2_vpcs(spark, SF), fx.ec2_subnets(spark, SF),
        fx.ec2_network_interfaces(spark, SF), T1,
    )
    sync_ec2_storage(
        store, fx.ebs_volumes(spark, SF), fx.ebs_snapshots(spark, SF),
        fx.elastic_ips(spark, SF), T1,
    )
    sync_config_securityhub(
        store, fx.securityhub_hubs(spark, SF), fx.config_recorders_rules(spark, SF), T1
    )
    labels = {r[0] for r in store.nodes().select("label").distinct().collect()}
    assert {
        "EBSVolume", "EBSSnapshot", "ElasticIPAddress",
        "SecurityHub", "AWSConfigurationRecorder", "AWSConfigRule",
    } <= labels
    assert len(check_rels(store, "EBSVolume", "ATTACHED_TO", "EC2Instance")) > 0
    assert len(check_rels(store, "EBSSnapshot", "CREATED_FROM", "EBSVolume")) > 0
    inst_eips = check_rels(store, "EC2Instance", "ELASTIC_IP_ADDRESS", "ElasticIPAddress")
    eni_eips = check_rels(store, "NetworkInterface", "ELASTIC_IP_ADDRESS", "ElasticIPAddress")
    assert len(inst_eips) > 0 and len(eni_eips) > 0
    # ENI leg only where an ENI exists (odd suppliers)
    assert len(eni_eips) < len(inst_eips)
    assert len(check_rels(store, "AWSAccount", "RESOURCE", "SecurityHub")) > 0
    assert len(check_rels(store, "AWSAccount", "RESOURCE", "AWSConfigRule")) > 0


def test_cosmosdb_graph_shape(spark, store):
    """Azure CosmosDB depth: account under subscription, location
    read/write edges, and the CONTAINS chains for both SQL and Mongo
    families (reference intel/azure/cosmosdb.py)."""
    from cartography_spark.modules.azure import sync_azure, sync_cosmosdb

    sync_azure(store, fx.azure_subscriptions(spark, SF), fx.azure_vms(spark, SF), T1)
    sync_cosmosdb(
        store, fx.cosmosdb_accounts(spark, SF), fx.cosmosdb_databases(spark, SF), T1
    )
    labels = {r[0] for r in store.nodes().select("label").distinct().collect()}
    assert {
        "AzureCosmosDBAccount", "AzureCosmosDBLocation",
        "AzureCosmosDBSqlDatabase", "AzureCosmosDBSqlContainer",
        "AzureCosmosDBMongoDBDatabase", "AzureCosmosDBMongoDBCollection",
    } <= labels
    assert len(check_rels(store, "AzureSubscription", "RESOURCE", "AzureCosmosDBAccount")) > 0
    assert len(check_rels(store, "AzureCosmosDBAccount", "CAN_WRITE_FROM", "AzureCosmosDBLocation")) > 0
    assert len(check_rels(store, "AzureCosmosDBAccount", "CAN_READ_FROM", "AzureCosmosDBLocation")) > 0
    sql_chain = check_rels(store, "AzureCosmosDBSqlDatabase", "CONTAINS", "AzureCosmosDBSqlContainer")
    mongo_chain = check_rels(store, "AzureCosmosDBMongoDBDatabase", "CONTAINS", "AzureCosmosDBMongoDBCollection")
    assert sql_chain and mongo_chain
    # kind routing: a mongo account's dbs never land in the SQL family
    sql_dbs = {s for s, _ in sql_chain}
    mongo_dbs = {s for s, _ in mongo_chain}
    assert not (sql_dbs & mongo_dbs)
