"""Internet-exposure analysis — the multi-hop + range-predicate pass.

Parity: reference data/jobs/analysis/aws_ec2_asset_exposure.json.  The job's
statements, in order, and their analog here:

  st.2 — (:IpRange{0.0.0.0/0})-->(:IpPermissionInbound)-->(sg)
         <-[:MEMBER_OF_EC2_SECURITY_GROUP|NETWORK_INTERFACE*..2]-(instance)
         → ``exposed_instances`` (direct membership) ∪
           ``eni_exposed_instances`` (the 2-hop ENI leg), both appending
           'direct' to exposed_internet_type;
  st.3 — open rule covering an internet-facing LoadBalancerV2's listener
         port via MEMBER_OF_EC2_SECURITY_GROUP → ``exposed_elbv2s``;
  st.4 — same for classic LoadBalancer via SOURCE_SECURITY_GROUP
         → ``exposed_elbs``;
  st.5/6 — exposed LB -[:EXPOSE]-> instance appends 'elb' / 'elbv2'
         → the target legs of ``exposure_types``;
  st.7 — ASGs accumulate their members' types → ``asg_exposure_types``.

The operators take frames, not inputs: ``mark_exposure`` feeds them
projections of the stored graph (:func:`graph_topology`, the paths the
reference job MATCHes), and the gated exposure queries feed them the same
frames derived from the fixtures (``fixtures.exposure_topology``).

The interval gate (listener.port BETWEEN perm.fromport AND perm.toport) is a
non-equi range join — at scale the classic range-join problem: ports are
pre-bucketed into fixed-width bins and equi-joined on the bin before the
exact bounds apply, turning O(n*m) into bin-local comparisons (AQE handles
residual skew).  List-property accumulation (A4: coalesce(x,[]) + elem)
becomes a set-valued column rebuilt per run — the set-wise analog of the
job's clearing statement (st.1 REMOVEs the attribute first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.analysis.jobs import _mark

PORT_BIN = 100


def graph_topology(store) -> dict[str, DataFrame]:
    """The exposure operators' inputs as projections of the stored graph,
    keyed and shaped like the fixture adapter ``exposure_topology``:

      instances      EC2Instance -MEMBER_OF_EC2_SECURITY_GROUP-> sg (left:
                     an instance without a group still has a port for the
                     ENI leg);
      rules          IpRange -MEMBER_OF_IP_RULE-> IpPermissionInbound
                     -MEMBER_OF_EC2_SECURITY_GROUP-> sg (range id = cidr);
      enis           EC2Instance -NETWORK_INTERFACE-> NetworkInterface
                     -MEMBER_OF_EC2_SECURITY_GROUP-> sg;
      elbs / elbv2s  listener ports via ELB_LISTENER / ELBV2_LISTENER, groups
                     via SOURCE_SECURITY_GROUP / MEMBER_OF_EC2_SECURITY_GROUP;
      *_targets      EXPOSE;  asg_members  MEMBER_AUTO_SCALE_GROUP."""

    def rel(rel_label: str, src_label: str, src: str, dst: str) -> DataFrame:
        return (
            store.edges(rel_labels=[rel_label])
            .where(F.col("src_label") == src_label)
            .select(F.col("src_id").alias(src), F.col("dst_id").alias(dst))
        )

    def prop(label: str, id_col: str, *keys: str, typ: str = "string") -> DataFrame:
        return store.nodes(labels=[label]).select(
            F.col("id").alias(id_col),
            *[F.element_at("props", k).cast(typ).alias(k) for k in keys],
        )

    def lbs(label: str, listener_rel: str, listener_label: str, sg_rel: str) -> DataFrame:
        listeners = rel(listener_rel, label, "lb_id", "listener_id").join(
            prop(listener_label, "listener_id", "port", typ="long"), "listener_id"
        )
        return (
            prop(label, "lb_id", "scheme")
            .join(listeners.select("lb_id", F.col("port").alias("listener_port")), "lb_id")
            .join(rel(sg_rel, label, "lb_id", "sg_id"), "lb_id")
        )

    sg = "MEMBER_OF_EC2_SECURITY_GROUP"
    rules = prop("IpPermissionInbound", "rule_id", "fromport", "toport", typ="long")
    return {
        "instances": prop("EC2Instance", "instance_id", "listener_port", typ="long").join(
            rel(sg, "EC2Instance", "instance_id", "sg_id"), "instance_id", "left"
        ),
        "rules": rules.join(rel(sg, "IpPermissionInbound", "rule_id", "sg_id"), "rule_id")
        .join(rel("MEMBER_OF_IP_RULE", "IpRange", "cidr", "rule_id"), "rule_id")
        .drop("rule_id"),
        "enis": rel("NETWORK_INTERFACE", "EC2Instance", "instance_id", "eni_id").join(
            rel(sg, "NetworkInterface", "eni_id", "sg_id"), "eni_id"
        ),
        "elbs": lbs("LoadBalancer", "ELB_LISTENER", "ELBListener", "SOURCE_SECURITY_GROUP"),
        "elbv2s": lbs("LoadBalancerV2", "ELBV2_LISTENER", "ELBV2Listener", sg),
        "elb_targets": rel("EXPOSE", "LoadBalancer", "lb_id", "instance_id"),
        "elbv2_targets": rel("EXPOSE", "LoadBalancerV2", "lb_id", "instance_id"),
        "asg_members": rel("MEMBER_AUTO_SCALE_GROUP", "EC2Instance", "instance_id", "asg_arn"),
    }


def _open_rules_binned(rules: DataFrame) -> DataFrame:
    """0.0.0.0/0 inbound rules exploded to their covered port bins.
    Columns: sg_id, fromport, toport, port_bin."""
    return rules.where(F.col("cidr") == "0.0.0.0/0").select(
        "sg_id",
        "fromport",
        "toport",
        F.explode(
            F.sequence(
                (F.col("fromport") / PORT_BIN).cast("long"),
                (F.col("toport") / PORT_BIN).cast("long"),
            )
        ).alias("port_bin"),
    )


def _covered(assets: DataFrame, rules: DataFrame, port_col: str) -> DataFrame:
    """Bin-bucketed range semi-join: asset rows whose (sg_id, port) falls in
    an open rule's [fromport, toport].  Keeps every asset column."""
    binned = assets.withColumn("port_bin", (F.col(port_col) / PORT_BIN).cast("long"))
    return (
        binned.join(_open_rules_binned(rules), ["sg_id", "port_bin"], "inner")
        .where((F.col(port_col) >= F.col("fromport")) & (F.col(port_col) <= F.col("toport")))
        .drop("port_bin", "fromport", "toport")
        .distinct()
    )


def exposed_instances(instances: DataFrame, rules: DataFrame) -> DataFrame:
    """Instances whose DIRECT security group opens their listener port to the
    world (st.2's 1-hop leg).  Output: instance_id, sg_id, listener_port."""
    return _covered(
        instances.select("instance_id", "sg_id", "listener_port"), rules, "listener_port"
    ).select("instance_id", "sg_id", "listener_port")


def eni_exposed_instances(
    enis: DataFrame, instances: DataFrame, rules: DataFrame
) -> DataFrame:
    """Instances reachable from an open group THROUGH an attached network
    interface — the ``NETWORK_INTERFACE*..2`` hop of st.2.  The ENI's group
    is independent of the instance's direct membership, so this leg adds
    real reach.  Output: instance_id, eni_id, sg_id, listener_port."""
    # ENI->instance is ~1:1 — a plain equi-join; listener_port rides along
    joined = enis.select("eni_id", "instance_id", "sg_id").join(
        instances.select("instance_id", "listener_port"), ["instance_id"], "inner"
    )
    return _covered(joined, rules, "listener_port").select(
        "instance_id", "eni_id", "sg_id", "listener_port"
    )


def exposed_elbs(elbs: DataFrame, rules: DataFrame) -> DataFrame:
    """Classic LoadBalancers marked exposed_internet (st.4): scheme
    'internet-facing' AND the SOURCE_SECURITY_GROUP has a 0.0.0.0/0 rule
    covering the listener port.  Output: lb_id, sg_id, listener_port."""
    facing = elbs.where(F.col("scheme") == "internet-facing")
    return _covered(
        facing.select("lb_id", "listener_port", "sg_id"), rules, "listener_port"
    ).select("lb_id", "sg_id", "listener_port")


def exposed_elbv2s(elbv2s: DataFrame, rules: DataFrame) -> DataFrame:
    """LoadBalancerV2s marked exposed_internet (st.3): internet-facing AND a
    member security group (NLBs have none) opens the listener port.
    Output: lb_id, sg_id, listener_port."""
    facing = elbv2s.where(
        (F.col("scheme") == "internet-facing") & F.col("sg_id").isNotNull()
    )
    return _covered(
        facing.select("lb_id", "sg_id", "listener_port"), rules, "listener_port"
    ).select("lb_id", "sg_id", "listener_port")


def compute_legs(t: dict[str, DataFrame], checkpoint: bool = False) -> dict[str, DataFrame]:
    """The four shared exposure legs over one topology ``t``, computed ONCE.

    ``mark_exposure`` (and anything else consuming several legs in one
    action) passes ``checkpoint=True``: each leg becomes a lazy
    localCheckpoint that executes exactly once at first use and is reused by
    every downstream consumer — without it the tree re-derived each leg per
    consumer (~3x per sync was the measured cost of kg_exposure_types vs
    kg_exposure).  Standalone single-consumer queries keep the default
    (pure lazy plans, no extra materialization jobs)."""
    legs = {
        "instances": exposed_instances(t["instances"], t["rules"]),
        "eni": eni_exposed_instances(t["enis"], t["instances"], t["rules"]),
        "elbs": exposed_elbs(t["elbs"], t["rules"]),
        "elbv2s": exposed_elbv2s(t["elbv2s"], t["rules"]),
    }
    if checkpoint:
        legs = {k: v.localCheckpoint(eager=False) for k, v in legs.items()}
    return legs


def _types(df: DataFrame, key: str) -> DataFrame:
    """(key, etype) rows -> (key, exposure_types): comma-joined sorted
    distinct types per key."""
    return df.groupBy(key).agg(
        F.array_join(F.array_sort(F.collect_set("etype")), ",").alias("exposure_types")
    )


def exposure_types(
    t: dict[str, DataFrame], legs: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Per-instance accumulated exposed_internet_type list (st.2+5+6):
    'direct' (direct OR ENI reach), 'elb' (targeted by an exposed classic
    ELB), 'elbv2' (targeted by an exposed v2).  Output: instance_id,
    exposure_types (comma-joined sorted distinct)."""
    if legs is None:
        legs = compute_legs(t)
    direct = (
        legs["instances"]
        .select("instance_id")
        .unionByName(legs["eni"].select("instance_id"))
        .withColumn("etype", F.lit("direct"))
    )

    def targeted(family: str) -> DataFrame:
        return (
            t[f"{family}_targets"]
            .join(F.broadcast(legs[f"{family}s"].select("lb_id")), ["lb_id"], "left_semi")
            .select("instance_id")
            .withColumn("etype", F.lit(family))
        )

    return _types(
        direct.unionByName(targeted("elb")).unionByName(targeted("elbv2")), "instance_id"
    )


def asg_exposure_types(
    t: dict[str, DataFrame], inst_types: DataFrame | None = None
) -> DataFrame:
    """Statement 7: exposed instances propagate their distinct exposure
    types to their AutoScalingGroup through MEMBER_AUTO_SCALE_GROUP.
    ``inst_types`` accepts a precomputed :func:`exposure_types` frame so a
    sync evaluates the exposure tree once, not once per consumer.
    Output: asg_arn, exposure_types (comma-joined sorted distinct union of
    member types)."""
    if inst_types is None:
        inst_types = exposure_types(t)
    inst_types = inst_types.select(
        "instance_id", F.explode(F.split("exposure_types", ",")).alias("etype")
    )
    return _types(t["asg_members"].join(inst_types, ["instance_id"], "inner"), "asg_arn")


def mark_exposure(store, update_tag: int) -> None:
    """Write the accumulated exposure marks onto the EC2Instance,
    LoadBalancer, LoadBalancerV2 and AutoScalingGroup slices: every marked
    node gets exposed_internet=true and its exposed_internet_type list.

    The exposure tree is evaluated ONCE over the graph's topology: the four
    legs are computed and lazily checkpointed by :func:`compute_legs`, the
    per-instance type list once more on top, and every mark set reads from
    those shared frames instead of re-deriving the tree."""
    t = graph_topology(store)
    legs = compute_legs(t, checkpoint=True)
    inst_types = exposure_types(t, legs).localCheckpoint(eager=False)

    def marks(df: DataFrame, id_col: str, types) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.create_map(
                F.lit("exposed_internet"), F.lit("true"),
                F.lit("exposed_internet_type"), F.to_json(F.split(types, ",")),
            ).alias("marks"),
        )

    def lb_marks(family: str) -> DataFrame:
        # one mark per LB, however many (group, listener) pairs expose it
        return marks(legs[f"{family}s"].select("lb_id").distinct(), "lb_id", F.lit(family))

    _mark(
        store,
        "analysis:aws_asset_exposure",
        update_tag,
        ["exposed_internet", "exposed_internet_type"],
        {
            "EC2Instance": marks(inst_types, "instance_id", F.col("exposure_types")),
            "LoadBalancer": lb_marks("elb"),
            "LoadBalancerV2": lb_marks("elbv2"),
            "AutoScalingGroup": marks(
                asg_exposure_types(t, inst_types), "asg_arn", F.col("exposure_types")
            ),
        },
    )
