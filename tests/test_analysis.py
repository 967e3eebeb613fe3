"""Analysis passes: exposure range join, drift states, orphan cleanup."""

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cartography_spark.analysis.drift import (
    detect_drift,
    drift_between_states,
    save_state,
    split_multi_value,
)
from cartography_spark.analysis.exposure import exposed_instances, mark_exposure
from cartography_spark.core.store import BufferedSyncStore, GraphStore
from cartography_spark.sources import fixtures as fx
from tests.conftest import SF_DIR

T1, T2 = 111111111, 222222222
NODE_DDL = (
    "id string, label string, props map<string,string>, extra_labels array<string>,"
    " firstseen long, lastupdated long"
)


@pytest.fixture(scope="module")
def synced_root(spark):
    """One store holding the EC2 / network / ELB / ASG family at sf0.001 after
    T1 — the graph the exposure pass walks.  Tests mark a private copy."""
    from cartography_spark.modules.aws_base import sync_accounts
    from cartography_spark.modules.aws_ec2 import sync_ec2
    from cartography_spark.modules.aws_ec2_network import sync_asgs, sync_ec2_network
    from cartography_spark.modules.aws_elb import sync_elb

    root = tempfile.mkdtemp(prefix="graphstore_exposure_")
    st = BufferedSyncStore(GraphStore(spark, root, write_partitions=2))
    sync_accounts(st, fx.aws_accounts(spark, SF_DIR), T1)
    sync_ec2(
        st,
        fx.ec2_instances(spark, SF_DIR),
        fx.ec2_security_groups(spark, SF_DIR),
        fx.ec2_sg_rules(spark, SF_DIR),
        T1,
    )
    sync_ec2_network(
        st,
        fx.ec2_vpcs(spark, SF_DIR),
        fx.ec2_subnets(spark, SF_DIR),
        fx.ec2_network_interfaces(spark, SF_DIR),
        T1,
    )
    sync_elb(st, fx.elb_load_balancers(spark, SF_DIR), fx.elbv2_load_balancers(spark, SF_DIR), T1)
    sync_asgs(st, fx.ec2_asgs(spark, SF_DIR), T1)
    st.flush()
    yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture()
def synced(spark, synced_root, tmp_path):
    """A private, writable copy of the module's synced store."""
    root = str(tmp_path / "store")
    shutil.copytree(synced_root, root)
    return GraphStore(spark, root, write_partitions=2)


def _types(store, label):
    """{id: exposed_internet_type list} over the label's marked nodes."""
    rows = (
        store.nodes(labels=[label])
        .where(F.element_at("props", "exposed_internet") == "true")
        .select("id", F.element_at("props", "exposed_internet_type").alias("t"))
        .collect()
    )
    return {r.id: json.loads(r.t) for r in rows}


def test_exposure_range_join_matches_naive(spark):
    """The bin-bucketed range join must equal the naive theta-join."""
    t = fx.exposure_topology(spark, SF_DIR)
    rules = t["rules"].where(F.col("cidr") == "0.0.0.0/0")
    inst = t["instances"]
    naive = (
        inst.join(rules, "sg_id")
        .where(
            (F.col("listener_port") >= F.col("fromport"))
            & (F.col("listener_port") <= F.col("toport"))
        )
        .select("instance_id", "sg_id", "listener_port")
        .distinct()
    )
    binned = exposed_instances(t["instances"], t["rules"])
    assert binned.exceptAll(naive).count() == 0
    assert naive.exceptAll(binned).count() == 0
    assert binned.count() > 0  # non-vacuous


def test_mark_exposure_list_property(spark, synced):
    """A4 list-property accumulation on the graph."""
    t = fx.exposure_topology(spark, SF_DIR)
    inst = exposed_instances(t["instances"], t["rules"]).limit(1).collect()
    mark_exposure(synced, T1)
    row = synced.nodes().where(F.col("id") == inst[0].instance_id).collect()[0]
    types = json.loads(row.props["exposed_internet_type"])
    # a directly-exposed instance may ALSO be an exposed LB's target — the
    # accumulated list holds every applicable leg (st.2+5+6), sorted
    assert "direct" in types
    assert types == sorted(set(types))
    assert row.props["exposed_internet"] == "true"


def test_mark_exposure_without_group_path_marks_nothing(spark, store):
    """Exposure is a function of the graph: an instance the fixtures would
    expose, stored alone with no security-group path, gets no mark."""
    from cartography_spark.core.loader import empty_edges

    t = fx.exposure_topology(spark, SF_DIR)
    inst = exposed_instances(t["instances"], t["rules"]).limit(1).collect()[0]
    nodes = spark.createDataFrame(
        [(inst.instance_id, "EC2Instance", {"listener_port": str(inst.listener_port)}, None, None, T1)],
        NODE_DDL,
    )
    store.commit(nodes, empty_edges(spark), "seed", T1)
    mark_exposure(store, T1)
    row = store.nodes().where(F.col("id") == inst.instance_id).collect()[0]
    assert row.props == {"listener_port": str(inst.listener_port)}


def test_asg_marks_follow_deleted_member(spark, synced):
    """Statement 7 over the live graph: after an exposed member of a marked
    ASG is deleted, a rerun marks each ASG with exactly the union of its
    remaining members' types (computed here from the stored edges)."""
    mark_exposure(synced, T1)
    before = _types(synced, "AutoScalingGroup")
    assert before  # 2 ASGs carry marks at sf0.001
    # graph-derived marks equal the fixture-derived ones at T1
    from cartography_spark.analysis.exposure import asg_exposure_types

    want = {
        r.asg_arn: r.exposure_types.split(",")
        for r in asg_exposure_types(fx.exposure_topology(spark, SF_DIR)).collect()
    }
    assert before == want

    def members():
        # read per use: the delete below rewrites (and retires) this slice
        rows = synced.edges(rel_labels=["MEMBER_AUTO_SCALE_GROUP"]).collect()
        return [(r.dst_id, r.src_id) for r in rows]

    exposed = _types(synced, "EC2Instance")
    asg = sorted(before)[0]
    victim = sorted(i for a, i in members() if a == asg and i in exposed)[0]
    synced.delete(
        spark.createDataFrame([("EC2Instance", victim)], "label string, id string"),
        None,
        "test:delete_member",
        T2,
    )
    mark_exposure(synced, T2)

    inst_types = _types(synced, "EC2Instance")
    union: dict[str, set] = {}
    for a, i in members():
        union.setdefault(a, set()).update(inst_types.get(i, []))
    want = {a: sorted(ts) for a, ts in union.items() if ts}
    got = _types(synced, "AutoScalingGroup")
    assert got == want
    assert got != before  # the deletion moved the marks


def test_mark_exposure_computes_each_leg_once(spark, synced, monkeypatch):
    """The exposure tree is one-shot per sync: each of the four legs (and the
    per-instance type aggregation) is derived exactly once inside
    mark_exposure, shared via lazy checkpoints — not re-derived per consumer
    (instance marks + ASG marks + LB marks used to re-walk the tree ~3x)."""
    import cartography_spark.analysis.exposure as exp

    calls = {"instances": 0, "eni": 0, "elbs": 0, "elbv2s": 0, "types": 0}
    originals = {
        "instances": exp.exposed_instances,
        "eni": exp.eni_exposed_instances,
        "elbs": exp.exposed_elbs,
        "elbv2s": exp.exposed_elbv2s,
        "types": exp.exposure_types,
    }

    def counting(key):
        def wrapper(*args, **kwargs):
            calls[key] += 1
            return originals[key](*args, **kwargs)

        return wrapper

    monkeypatch.setattr(exp, "exposed_instances", counting("instances"))
    monkeypatch.setattr(exp, "eni_exposed_instances", counting("eni"))
    monkeypatch.setattr(exp, "exposed_elbs", counting("elbs"))
    monkeypatch.setattr(exp, "exposed_elbv2s", counting("elbv2s"))
    monkeypatch.setattr(exp, "exposure_types", counting("types"))

    mark_exposure(synced, T1)
    assert calls == {"instances": 1, "eni": 1, "elbs": 1, "elbv2s": 1, "types": 1}, calls


# (props before, marks, props after) per node of one label
MARK_CASES = {
    "null-props-marked": (None, {"k": "v"}, {"k": "v"}),
    "unrelated-kept-mark-replaced": ({"o": "x", "k": "old"}, {"k": "new"}, {"o": "x", "k": "new"}),
    "unrelated-kept-mark-cleared": ({"o": "x", "k": "old", "j": "1"}, None, {"o": "x"}),
    "only-marks-cleared-to-null": ({"k": "old", "j": "1"}, None, None),
    "null-props-unmarked": (None, None, None),
    "second-key-only": ({"o": "x"}, {"j": "2"}, {"o": "x", "j": "2"}),
}


def test_mark_template_table(spark, store):
    """The one clear-then-set template every mark-setting job runs, over one
    label: marks land on NULL props, unrelated keys survive, a node left
    with no props stores NULL (not {}), and a rerun under the same tag is a
    no-op."""
    from cartography_spark.analysis.jobs import _mark
    from cartography_spark.core.loader import empty_edges

    nodes = spark.createDataFrame(
        [(n, "Thing", before, None, None, T1) for n, (before, _, _) in MARK_CASES.items()],
        NODE_DDL,
    )
    store.commit(nodes, empty_edges(spark), "seed", T1)
    marks = spark.createDataFrame(
        [(n, m) for n, (_, m, _) in MARK_CASES.items() if m is not None],
        "id string, marks map<string,string>",
    )
    _mark(store, "analysis:probe", T1, ["k", "j"], {"Thing": marks})
    got = {r.id: r.props for r in store.nodes(labels=["Thing"]).collect()}
    assert got == {n: after for n, (_, _, after) in MARK_CASES.items()}

    version = store.current_meta()["version"]
    _mark(store, "analysis:probe", T1, ["k", "j"], {"Thing": marks})
    assert store.current_meta()["version"] == version
    assert {r.id: r.props for r in store.nodes(labels=["Thing"]).collect()} == got


def test_drift_states_roundtrip(spark, tmp_path):
    a = spark.createDataFrame([("x", "1"), ("y", "2")], ["k", "v"])
    b = spark.createDataFrame([("x", "1"), ("z", "3")], ["k", "v"])
    save_state(a, str(tmp_path), "det", T1)
    save_state(b, str(tmp_path), "det", T2)
    d = drift_between_states(spark, str(tmp_path), "det", T1, T2)
    got = {(r.k, r.v, r.direction) for r in d.collect()}
    assert got == {("z", "3", "new"), ("y", "2", "missing")}


def test_drift_archive_lifecycle(spark, tmp_path):
    """Reference driftdetect/cli.py multi-archive workflow: add-state per
    run across several detectors, report defaults to the two most recent
    states, shortcuts alias names to archived tags."""
    from cartography_spark.analysis.drift import DriftArchive

    arch = DriftArchive(spark, str(tmp_path))
    T3 = 333333333

    def users(rows):
        return spark.createDataFrame(rows, ["id", "path"])

    def roles(rows):
        return spark.createDataFrame(rows, ["arn"])

    # three runs, two detectors each (get-state analog)
    arch.get_state({"users": users([("u1", "/"), ("u2", "/")]),
                    "roles": roles([("r1",)])}, T1)
    arch.get_state({"users": users([("u1", "/"), ("u3", "/x")]),
                    "roles": roles([("r1",)])}, T2)
    arch.get_state({"users": users([("u1", "/"), ("u3", "/y")]),
                    "roles": roles([("r1",), ("r2",)])}, T3)

    assert arch.detectors() == ["roles", "users"]
    assert arch.states("users") == [T1, T2, T3]

    # default report = two most recent (T2 vs T3)
    got = {(r.id, r.path, r.direction) for r in arch.report("users").collect()}
    assert got == {("u3", "/y", "new"), ("u3", "/x", "missing")}

    # explicit pair (T1 vs T3)
    got13 = {(r.id, r.direction) for r in arch.report("users", T1, T3).collect()}
    assert got13 == {("u2", "missing"), ("u3", "new")}

    # single caller-supplied endpoint is honored, the other defaults
    # independently (ADVICE r4: both were silently overwritten before)
    got1x = {(r.id, r.direction) for r in arch.report("users", start=T1).collect()}
    assert got1x == {("u2", "missing"), ("u3", "new")}  # T1 vs default T3
    # end-only: start defaults to tags[-2] = T2, so T2 vs T2 diffs empty
    # (the buggy version overwrote end too and returned the T2-vs-T3 diff)
    assert arch.report("users", end=T2).count() == 0

    # shortcuts resolve to tags inside report
    arch.add_shortcut("roles", "baseline", T1)
    arch.add_shortcut("roles", "latest", T3)
    got_roles = {(r.arn, r.direction) for r in arch.report("roles", "baseline", "latest").collect()}
    assert got_roles == {("r2", "new")}

    # unknown shortcut / unarchived tag fail loudly
    import pytest as _pytest

    with _pytest.raises(KeyError):
        arch.report("roles", "nope", "latest")
    with _pytest.raises(ValueError):
        arch.add_shortcut("roles", "bad", 12345)


def test_split_multi_value(spark):
    df = spark.createDataFrame([("a|b|c",)], ["vals"])
    row = split_multi_value(df, "vals").collect()[0]
    assert row.vals == ["a", "b", "c"]


def test_orphan_cleanup(spark, store):
    """J12: principals with no account edge get deleted."""
    from cartography_spark.core.cleanup import cleanup_orphans
    from cartography_spark.core.loader import empty_edges

    nodes = spark.createDataFrame(
        [
            ("arn:p1", "AWSPrincipal", None, None, None, T1),
            ("ec2.amazonaws.com", "AWSPrincipal", None, None, None, T1),
            ("000000000001", "AWSAccount", None, None, None, T1),
        ],
        "id string, label string, props map<string,string>, extra_labels array<string>, firstseen long, lastupdated long",
    )
    edges = spark.createDataFrame(
        [
            ("000000000001", "AWSAccount", "RESOURCE", "arn:p1", "AWSPrincipal", None, None, T1),
        ],
        "src_id string, src_label string, rel_label string, dst_id string, dst_label string, props map<string,string>, firstseen long, lastupdated long",
    )
    store.commit(nodes, edges, "seed", T1)
    cleanup_orphans(store, "AWSPrincipal", "AWSAccount", T1)
    left = {r.id for r in store.nodes().where(F.col("label") == "AWSPrincipal").collect()}
    assert left == {"arn:p1"}


def test_new_analysis_jobs_match_fixture_dataflow(spark, store):
    """Store-side round-2 jobs (keypair, lambda-ecr, eks, gke, gcp inet)
    produce exactly the sets the fixture-derivation driver queries compute."""
    import __spark_entry__ as entry
    from cartography_spark.analysis.jobs import (
        eks_exposure,
        gcp_inet_exposure,
        gke_basic_auth,
        gke_exposure,
        keypair_analysis,
        link_lambda_ecr_images,
    )
    from cartography_spark.modules.aws_base import sync_accounts
    from cartography_spark.modules.aws_ec2 import sync_keypairs
    from cartography_spark.modules.aws_eks import sync_eks
    from cartography_spark.modules.aws_lambda import sync_lambda_ecr
    from cartography_spark.modules.gcp import sync_gcp
    from cartography_spark.sources import fixtures as fx

    sync_accounts(store, fx.aws_accounts(spark, SF_DIR), T1)
    sync_keypairs(store, fx.ec2_keypairs(spark, SF_DIR), T1)
    sync_lambda_ecr(
        store, fx.lambda_functions(spark, SF_DIR), fx.ecr_images(spark, SF_DIR), T1
    )
    sync_eks(store, fx.eks_clusters(spark, SF_DIR), T1)
    sync_gcp(
        store,
        fx.gcp_projects(spark, SF_DIR),
        fx.gcp_instances(spark, SF_DIR),
        T1,
        vpcs=fx.gcp_vpcs(spark, SF_DIR),
        instance_net=fx.gcp_instance_net(spark, SF_DIR),
        firewalls=fx.gcp_firewalls(spark, SF_DIR),
        fw_rules=fx.gcp_fw_rules(spark, SF_DIR),
        gke=fx.gke_clusters(spark, SF_DIR),
    )
    for job in (
        keypair_analysis,
        link_lambda_ecr_images,
        eks_exposure,
        gke_exposure,
        gke_basic_auth,
        gcp_inet_exposure,
    ):
        job(store, T1)

    E, N = store.edges, store.nodes

    got_pairs = {
        (r.src_id, r.dst_id)
        for r in E(rel_labels=["MATCHING_FINGERPRINT"]).collect()
    }
    want_pairs = {
        (r.arn_a, r.arn_b)
        for r in entry._q_kg_keypair_dupes(spark, SF_DIR).collect()
    }
    assert got_pairs == want_pairs and got_pairs

    got_has = {(r.src_id, r.dst_id) for r in E(rel_labels=["HAS"]).collect()}
    want_has = {
        (r.lambda_arn, r.digest) for r in entry._q_kg_lambda_ecr(spark, SF_DIR).collect()
    }
    assert got_has == want_has and got_has

    eks = N(labels=["EKSCluster"]).select(
        "id", F.element_at("props", "exposed_internet").alias("x")
    )
    got_eks = {r.id for r in eks.where(F.col("x") == "true").collect()}
    want_eks = {r.arn for r in entry._q_kg_eks_exposed(spark, SF_DIR).collect()}
    assert got_eks == want_eks and got_eks

    gke = N(labels=["GKECluster"]).select(
        "id",
        F.element_at("props", "exposed_internet").alias("x"),
        F.element_at("props", "basic_auth").alias("b"),
    ).collect()
    want = {r.self_link: r for r in entry._q_kg_gke_flags(spark, SF_DIR).collect()}
    assert {r.id for r in gke} == set(want)
    for r in gke:
        assert (r.x == "true") == (want[r.id].exposed_internet == "true")
        assert (r.b == "true") == (want[r.id].basic_auth == "true")

    got_fi = {
        (r.src_id, r.dst_id) for r in E(rel_labels=["FIREWALL_INGRESS"]).collect()
    }
    want_fi = {
        (r.fw_id, r.instance_id)
        for r in entry._q_kg_gcp_fw_ingress(spark, SF_DIR).collect()
    }
    assert got_fi == want_fi and got_fi

    gci = N(labels=["GCPInstance"]).select(
        "id", F.element_at("props", "exposed_internet").alias("x")
    )
    got_exp = {r.id for r in gci.where(F.col("x") == "true").collect()}
    want_exp = {r.instance_id for r in entry._q_kg_gcp_exposed(spark, SF_DIR).collect()}
    assert got_exp == want_exp  # empty at sf0.001 by formula — still must agree

    # GCPInstance props from both write passes coexist (per-key merge):
    one = N(labels=["GCPInstance"]).limit(1).collect()[0]
    assert "name" in one.props and "vpc_id" in one.props


def test_gcp_inet_exposure_nonempty_at_sf001(spark, store):
    """Store-side GCP exposure at sf0.01, where the positive class is
    NONEMPTY — guards the allow x deny join against self-join ambiguity
    (a trivially-true join predicate would over-mark)."""
    import __spark_entry__ as entry
    from cartography_spark.analysis.jobs import gcp_inet_exposure
    from cartography_spark.modules.gcp import sync_gcp
    from cartography_spark.sources import fixtures as fx

    SF01 = "/root/testdata/sf0.01"
    sync_gcp(
        store,
        fx.gcp_projects(spark, SF01),
        fx.gcp_instances(spark, SF01),
        T1,
        vpcs=fx.gcp_vpcs(spark, SF01),
        instance_net=fx.gcp_instance_net(spark, SF01),
        firewalls=fx.gcp_firewalls(spark, SF01),
        fw_rules=fx.gcp_fw_rules(spark, SF01),
    )
    gcp_inet_exposure(store, T1)
    got = {
        r.id
        for r in store.nodes(labels=["GCPInstance"])
        .where(F.element_at("props", "exposed_internet") == "true")
        .collect()
    }
    want = {r.instance_id for r in entry._q_kg_gcp_exposed(spark, SF01).collect()}
    assert got == want and got


def test_k8s_and_rds_exposure_marks(spark, store):
    """Engine-original exposure analogs: LoadBalancer services and
    public-unencrypted RDS instances get exposed_internet = true."""
    import pyspark.sql.functions as F

    from cartography_spark.analysis.jobs import k8s_lb_exposure, rds_exposure
    from cartography_spark.modules.aws_base import sync_accounts
    from cartography_spark.modules.aws_rds import sync_rds
    from cartography_spark.modules.kubernetes import sync_kubernetes
    from cartography_spark.sources import fixtures as fx

    SF = "/root/testdata/sf0.001"
    T1 = 111111111
    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_rds(store, fx.rds_instances(spark, SF), T1)
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
    k8s_lb_exposure(store, T1)
    rds_exposure(store, T1)

    svc = store.nodes().where(F.col("label") == "KubernetesService")
    marked = {
        (r[0], r[1])
        for r in svc.select(
            F.element_at("props", "type"), F.element_at("props", "exposed_internet")
        ).collect()
    }
    for typ, exposed in marked:
        assert (exposed == "true") == (typ == "LoadBalancer")

    rds = store.nodes().where(F.col("label") == "RDSInstance")
    for r in rds.select(
        F.element_at("props", "publicly_accessible"),
        F.element_at("props", "storage_encrypted"),
        F.element_at("props", "exposed_internet"),
    ).collect():
        assert (r[2] == "true") == (r[0] == "true" and r[1] == "false")


def test_container_image_links(spark, store):
    """Container -> ECRImage HAS_IMAGE edges from the shared digest space
    (the k8s/ECS analog of aws_lambda_ecr.json)."""
    import pyspark.sql.functions as F

    from cartography_spark.analysis.jobs import link_container_images
    from cartography_spark.modules.aws_base import sync_accounts
    from cartography_spark.modules.aws_ecs import sync_ecs
    from cartography_spark.modules.aws_lambda import sync_lambda_ecr
    from cartography_spark.modules.kubernetes import sync_kubernetes
    from cartography_spark.sources import fixtures as fx
    from tests.util import check_rels

    SF = "/root/testdata/sf0.001"
    T1 = 111111111
    sync_accounts(store, fx.aws_accounts(spark, SF), T1)
    sync_lambda_ecr(
        store, fx.lambda_functions(spark, SF), fx.ecr_images(spark, SF), T1
    )
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
    sync_ecs(
        store,
        fx.ecs_clusters(spark, SF),
        fx.ecs_services(spark, SF),
        fx.ecs_task_defs(spark, SF),
        fx.ecs_tasks(spark, SF),
        T1,
    )
    link_container_images(store, T1)

    k8s = check_rels(store, "KubernetesContainer", "HAS_IMAGE", "ECRImage")
    ecs = check_rels(store, "ECSContainer", "HAS_IMAGE", "ECRImage")
    assert len(k8s) > 0 and len(ecs) > 0
    digests = {
        r[0] for r in store.nodes().where(F.col("label") == "ECRImage").select("id").collect()
    }
    assert {d for _, d in k8s} | {d for _, d in ecs} <= digests
