"""GraphStore — manifest-versioned node/edge triple tables with MERGE semantics.

Production target is Iceberg (``MERGE INTO nodes USING batch ON t.id = b.id
AND t.label = b.label WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN
INSERT ...``), with tables partitioned by label and Z-ordered on id.  The
sandbox image has no Iceberg runtime jar, so this module implements the same
contract on plain parquet with a *per-label manifest* — the same idea as an
Iceberg snapshot's manifest list, specialized to label-partitioned tables:

    {root}/data/g{N}/nodes/_label=<label>/*.parquet   label slices written at commit N
    {root}/data/g{N}/edges/_label=<rel_label>/*.parquet
    {root}/_meta/v{N}.json    manifest: label -> {path, rows} + lineage + metrics
    {root}/_CURRENT           text file holding the live version

A commit writes ONLY the labels its batch touched into a new generation
directory, then publishes a manifest that points at the new slices for
touched labels and carries the parent's pointers forward for everything
else — O(|touched labels|) I/O per commit, not O(|graph|).  ``_CURRENT``
swings atomically; a crash mid-commit leaves the previous snapshot live
(Iceberg snapshot-isolation behavior) and the next commit garbage-collects
the unpublished generation.  Stage checkpoints (``stage_done``) make any
pipeline stage idempotently resumable: re-running a killed sync skips
stages whose (stage, update_tag) checkpoint already committed
(north_rule resumability).

The two tables differ only in what a :class:`_Table` spec records (schema,
partition column, MERGE key, fold's last-value columns); every write, merge,
fold and read path below is written once over that spec.

Parity notes vs the reference:
  * upsert == Neo4j MERGE by id with ``ON CREATE SET firstseen``
    (reference: cartography/graph/querybuilder.py:372-401); here a set-wise
    left join preserves the matched rows' firstseen.  SET writes only the
    batch's declared properties (querybuilder.py:96-109 builds SET from the
    schema's props): matched rows keep property keys the new batch does not
    mention (per-key map merge), so multiple modules can enrich one node.
  * index creation (reference: cartography/graph/querybuilder.py:404-453,
    data/indexes.cypher) is a deliberate no-op on columnar storage: the
    equivalents are the per-label slice layout (partition pruning by label)
    + ``repartition`` on id before write so same-key rows co-locate, and
    min/max parquet stats give the pruning an index would.
  * Single writer per store root is assumed (the reference likewise runs
    one sync process per Neo4j database).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from functools import partial, reduce
from typing import Iterable, Mapping, NamedTuple
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cartography_spark.core.loader import EDGE_KEY, EDGES_SCHEMA, NODES_SCHEMA, _union


class _Table(NamedTuple):
    """Everything the store does differently for the node and edge tables."""

    name: str  # manifest key and data subdirectory
    schema: StructType
    part: str  # partition column: one label slice per value
    key: list  # MERGE key
    last: list  # non-key scalars a buffered fold takes from the last stage

    @property
    def cols(self) -> list[str]:
        return [f.name for f in self.schema.fields]


NODES = _Table("nodes", NODES_SCHEMA, "label", ["label", "id"], ["extra_labels"])
EDGES = _Table("edges", EDGES_SCHEMA, "rel_label", EDGE_KEY, ["src_label", "dst_label"])
TABLES = (NODES, EDGES)


def _run_all(actions: list) -> list:
    """Run independent Spark actions, concurrently when there are several:
    overlapping them hides per-job driver latency, so the step costs its
    slowest job rather than the sum."""
    if len(actions) <= 1:
        return [a() for a in actions]
    with ThreadPoolExecutor(max_workers=min(16, len(actions))) as ex:
        return list(ex.map(lambda a: a(), actions))


def _per_table(fn, nodes, edges) -> list:
    """``[fn(NODES, nodes), fn(EDGES, edges)]`` with None for a None frame;
    when both frames are given their jobs overlap (see :func:`_run_all`)."""
    frames = (nodes, edges)
    done = iter(
        _run_all([partial(fn, t, df) for t, df in zip(TABLES, frames) if df is not None])
    )
    return [None if df is None else next(done) for df in frames]


def _checkpoint_all(groups: list) -> list:
    """localCheckpoint the union of each group of plans; the groups are
    independent jobs, so they run concurrently (see :func:`_run_all`)."""
    return _run_all([lambda g=g: _union(g).localCheckpoint(eager=True) for g in groups])


def _merge_props(old_col, new_col):
    """Per-key property merge: new batch's keys win; keys the batch does not
    mention survive from the stored row (reference MERGE SET semantics —
    querybuilder.py:96-109 only SETs the schema-declared properties)."""
    old = F.coalesce(old_col, F.create_map().cast("map<string,string>"))
    new = F.coalesce(new_col, F.create_map().cast("map<string,string>"))
    kept = F.map_filter(old, lambda k, _: ~F.array_contains(F.map_keys(new), k))
    merged = F.map_concat(kept, new)
    return F.when(F.size(merged) > 0, merged).otherwise(F.lit(None))


def _inserts(t: _Table, df: DataFrame, update_tag: int) -> DataFrame:
    """What :meth:`GraphStore._merge` yields when no committed row matches,
    without the joins: every row is a MERGE miss, so firstseen resolves to
    the tag and props get ``_merge_props(NULL, props)``'s empty-map -> NULL
    normalization."""
    return (
        df.withColumn("firstseen", F.coalesce(F.col("firstseen"), F.lit(int(update_tag))))
        .withColumn("props", _merge_props(F.lit(None).cast("map<string,string>"), F.col("props")))
        .select(*t.cols)
    )


class GraphStore:
    """Versioned (nodes, edges) pair with MERGE upsert / anti-join delete.

    Commits are incremental per label: each generation directory holds full
    replacement slices for the labels the commit touched; the manifest maps
    every live label to its current slice.
    """

    # Stale-id sets up to this many rows broadcast into delete's incident-edge
    # joins (~10M ids ≈ a few hundred MB serialized — the conventional
    # broadcast ceiling); larger sets fall back to AQE-chosen strategies.
    BROADCAST_DELETE_MAX_IDS = 10_000_000

    def __init__(self, spark: SparkSession, root: str, write_partitions: int | None = None):
        self.spark = spark
        self.root = root
        # Sized for the sandbox; at 100 TB this is labels x (table_bytes /
        # maxPartitionBytes) and would come from cluster config.
        self.write_partitions = write_partitions or max(
            4, int(spark.conf.get("spark.sql.shuffle.partitions", "32")) // 4
        )
        os.makedirs(os.path.join(root, "_meta"), exist_ok=True)

    # ----- snapshot plumbing ------------------------------------------------

    def _current_version(self) -> int:
        p = os.path.join(self.root, "_CURRENT")
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip())

    def current_meta(self) -> dict:
        return self._manifest(self._current_version())

    def committed_rows(self, sub: str, labels: Iterable[str] | None = None) -> int:
        """Total committed row count for a table's (optionally filtered)
        label slices, straight from the manifest — no Spark job.  Feeds the
        adaptive MERGE join shape (see :attr:`SEMI_MERGE_MIN_ROWS`)."""
        entries = self.current_meta().get(sub, {})
        if labels is not None:
            wanted = set(labels)
            entries = {k: v for k, v in entries.items() if k in wanted}
        return sum(int(e["rows"]) for e in entries.values())

    def label_rowcount(self, label: str) -> int | None:
        """Committed row count for one node label, straight from the manifest
        (the Iceberg-style stats a commit records) — no Spark job.  None if
        the label has never been committed."""
        entry = self.current_meta().get("nodes", {}).get(label)
        return int(entry["rows"]) if entry else None

    def _manifest(self, version: int) -> dict:
        if version <= 0:
            return {}
        p = os.path.join(self.root, "_meta", f"v{version}.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _scan(self, t: _Table, paths: list[str]) -> DataFrame:
        if not paths:
            return self.spark.createDataFrame([], t.schema)
        # Explicit schema pins column order; the label column is stored in the
        # data files (the _label partition dir is a routing duplicate), so a
        # direct leaf-dir read needs no partition discovery.
        return self.spark.read.schema(t.schema).parquet(*paths).select(*t.cols)

    def _read(
        self, t: _Table, version: int | None = None, labels: Iterable[str] | None = None
    ) -> DataFrame:
        man = self._manifest(self._current_version() if version is None else version)
        entries = man.get(t.name, {})
        if labels is not None:
            wanted = set(labels)
            entries = {k: v for k, v in entries.items() if k in wanted}
        return self._scan(t, [os.path.join(self.root, e["path"]) for e in entries.values()])

    def nodes(self, version: int | None = None, labels: Iterable[str] | None = None) -> DataFrame:
        """Node table; pass ``labels`` to physically prune to those slices."""
        return self._read(NODES, version, labels)

    def edges(
        self, version: int | None = None, rel_labels: Iterable[str] | None = None
    ) -> DataFrame:
        """Edge table; pass ``rel_labels`` to physically prune to those slices."""
        return self._read(EDGES, version, rel_labels)

    # ----- write path ---------------------------------------------------------

    def _write_slices(self, t: _Table, df: DataFrame, version: int) -> dict:
        """Write df into data/g{version}/{table}/_label=<v>/ slices.

        Returns {label: {"path": relpath, "rows": n}}.
        """
        gen_rel = os.path.join("data", f"g{version}", t.name)
        gen_abs = os.path.join(self.root, gen_rel)
        (
            df.withColumn("_label", F.col(t.part))
            .repartition(self.write_partitions, t.part, df.columns[0])
            .sortWithinPartitions(t.part)
            .write.mode("overwrite")
            .partitionBy("_label")
            .parquet(gen_abs)
        )
        # Slice labels + row counts come from the freshly written partition
        # dirs and parquet footers, read driver-side with pyarrow — zero
        # Spark jobs (this is exactly the per-file stats an Iceberg manifest
        # records at commit; a real catalog hands them over the same way).
        return self._slice_stats(gen_abs, gen_rel)

    @staticmethod
    def _slice_stats(gen_abs: str, gen_rel: str) -> dict:
        """{label: {path, rows}} for every _label=* dir, from parquet footers."""
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        if not os.path.isdir(gen_abs):
            return out
        for d in os.listdir(gen_abs):
            if not d.startswith("_label="):
                continue
            leaf = os.path.join(gen_abs, d)
            rows = 0
            for fn in os.listdir(leaf):
                if fn.endswith(".parquet"):
                    rows += pq.ParquetFile(os.path.join(leaf, fn)).metadata.num_rows
            # dir name on disk is partition-escaped
            out[unquote(d[7:])] = {"path": os.path.join(gen_rel, d), "rows": rows}
        return out

    def _publish(
        self,
        slices: list,
        touched: list,
        version: int,
        stage: str,
        update_tag: int,
        metrics: Mapping[str, object] | None,
    ) -> int:
        """Assemble + atomically publish manifest v{version}.

        ``slices`` and ``touched`` hold one entry per table.  A touched set
        of None means full replace for that table (the new slices are the
        whole table); otherwise parent pointers carry forward for untouched
        labels and touched labels absent from the new slices (fully deleted)
        drop out.
        """
        prev = self._current_version()
        parent = self._manifest(prev)
        slices = [s or {} for s in slices]
        man = {}
        for t, new, labels in zip(TABLES, slices, touched):
            if labels is None:
                man[t.name] = dict(new)
            else:
                labels = set(labels)
                man[t.name] = {k: v for k, v in parent.get(t.name, {}).items() if k not in labels}
                man[t.name].update(new)
        node_slices, edge_slices = slices

        stages = dict(parent.get("stages", {}))
        # ``stage`` may be a list: a grouped flush records EVERY member
        # stage's checkpoint under the one commit (resume skips them all).
        for s in [stage] if isinstance(stage, str) else list(stage):
            stages[s] = {
                "update_tag": int(update_tag),
                "version": version,
                "labels": sorted(node_slices),
                "rels": sorted(edge_slices),
            }
        meta = {
            "version": version,
            "parent": prev,
            "stage": stage if isinstance(stage, str) else ",".join(stage),
            "update_tag": int(update_tag),
            "committed_at": time.time(),
            **man,
            "metrics": {
                "node_rows": sum(e["rows"] for e in man["nodes"].values()),
                "edge_rows": sum(e["rows"] for e in man["edges"].values()),
                "labels_written": len(node_slices),
                "rels_written": len(edge_slices),
                **(dict(metrics) if metrics else {}),
            },
            "stages": stages,
        }
        tmp = os.path.join(self.root, "_meta", f"v{version}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=2)
        os.replace(tmp, os.path.join(self.root, "_meta", f"v{version}.json"))

        cur_tmp = os.path.join(self.root, "_CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(str(version))
        os.replace(cur_tmp, os.path.join(self.root, "_CURRENT"))

        self._gc(keep=(version, prev))
        return version

    def _gc(self, keep: tuple[int, int]) -> None:
        """Remove label slices no manifest in ``keep`` references (the parent
        stays live for time-travel/drift diffing, as an Iceberg catalog would
        until snapshot expiry)."""
        referenced = set()
        for v in keep:
            man = self._manifest(v)
            for t in TABLES:
                for e in man.get(t.name, {}).values():
                    referenced.add(os.path.normpath(e["path"]))
        data = os.path.join(self.root, "data")
        if not os.path.isdir(data):
            return
        for gen in os.listdir(data):
            gen_dir = os.path.join(data, gen)
            live = False
            for t in TABLES:
                sub_dir = os.path.join(gen_dir, t.name)
                if not os.path.isdir(sub_dir):
                    continue
                for leaf in os.listdir(sub_dir):
                    if not leaf.startswith("_label="):
                        continue
                    rel = os.path.normpath(os.path.join("data", gen, t.name, leaf))
                    if rel in referenced:
                        live = True
                    else:
                        shutil.rmtree(os.path.join(sub_dir, leaf), ignore_errors=True)
            if not live:
                shutil.rmtree(gen_dir, ignore_errors=True)

    def _next_version(self) -> int:
        v = self._current_version() + 1
        # a crash after writing g{v} but before publish leaves garbage; reclaim
        gen = os.path.join(self.root, "data", f"g{v}")
        if os.path.exists(gen):
            shutil.rmtree(gen, ignore_errors=True)
        return v

    def commit(
        self,
        nodes: DataFrame,
        edges: DataFrame,
        stage: str,
        update_tag: int,
        metrics: Mapping[str, object] | None = None,
    ) -> int:
        """Full-replace commit: the given frames become the whole graph.

        Used by the bulk builder and full-snapshot passes; incremental
        callers use :meth:`commit_partial` / :meth:`upsert` / :meth:`delete`.
        """
        return self.commit_partial(nodes, edges, None, None, stage, update_tag, metrics)

    def commit_partial(
        self,
        nodes: DataFrame | None,
        edges: DataFrame | None,
        touched_node_labels: Iterable[str] | None,
        touched_rel_labels: Iterable[str] | None,
        stage: str,
        update_tag: int,
        metrics: Mapping[str, object] | None = None,
    ) -> int:
        """Replace only the given labels' slices; everything else carries
        forward by manifest pointer (the Iceberg-MERGE cost model: I/O is
        O(touched partitions), not O(table)).  Touched labels of None make
        that table a full replace.  The two slice writes overlap, so the
        commit's critical path is the larger table's write, not the sum."""
        v = self._next_version()
        slices = _per_table(lambda t, df: self._write_slices(t, df, v), nodes, edges)
        return self._publish(
            slices, [touched_node_labels, touched_rel_labels], v, stage, update_tag, metrics
        )

    # ----- resumable stage checkpoints --------------------------------------

    def stage_done(self, stage: str, update_tag: int) -> bool:
        s = self.current_meta().get("stages", {}).get(stage)
        return bool(s and s.get("update_tag") == int(update_tag))

    def stages_for_tag(self, update_tag: int) -> dict[str, dict]:
        """Stage checkpoints recorded under this tag (labels/rels each stage
        wrote) — the cleanup scoper's source of truth."""
        return {
            k: v
            for k, v in self.current_meta().get("stages", {}).items()
            if v.get("update_tag") == int(update_tag)
        }

    # ----- MERGE semantics ---------------------------------------------------

    def _stage_batch(self, t: _Table, df: DataFrame):
        """Materialize the incoming batch to a staging dir, partitioned by
        label; returns (staged_df, touched_labels).

        This is the Iceberg write-path shape — batch data files land first,
        the MERGE works from files.  It truncates the batch's (possibly
        enormous) upstream logical plan: the merge joins and the final slice
        write re-analyze a leaf parquet scan instead of the whole module
        pipeline, which on a driver-latency-bound host is the difference
        between O(plan) and O(1) per downstream action.  Partitioning the
        staging write by label makes the touched-label set a directory
        listing — no distinct-collect job.  Staging files are reclaimed by
        _gc after publish.
        """
        path = os.path.join(self.root, "data", "_staging", t.name)
        (
            df.withColumn("_label", F.col(t.part))
            .write.mode("overwrite")
            .partitionBy("_label")
            .parquet(path)
        )
        leaves = [d for d in os.listdir(path) if d.startswith("_label=")]
        return self._scan(t, [os.path.join(path, d) for d in leaves]), [
            unquote(d[7:]) for d in leaves
        ]

    def upsert(
        self,
        new_nodes: DataFrame | None,
        new_edges: DataFrame | None,
        stage: str,
        update_tag: int,
        metrics: Mapping[str, object] | None = None,
    ) -> int:
        """MERGE a batch into the live snapshot; rewrites only touched labels.

        firstseen discipline (reference querybuilder.py:376, ``ON CREATE SET
        i.firstseen = timestamp()``): matched rows keep their existing
        firstseen; new rows get the update tag.  Matched rows' props merge
        per-key (new keys win, unmentioned keys survive — MERGE SET parity).
        Implemented as one left join per table over ONLY the touched label
        slices — no collect of data, no per-row work.
        """
        if self._current_version() == 0:
            # MERGE into an empty table is INSERT ALL: no old rows to match,
            # so skip the staging write, the distinct-labels probes, and the
            # merge joins entirely — one pass: execute the batch plan straight
            # into the generation slices (touched labels fall out of the
            # written partition dirs).  Halves the write I/O of a cold bulk
            # load; identical rows to the merge path (see _inserts).
            rows = [
                None if df is None else _inserts(t, df, update_tag)
                for t, df in zip(TABLES, (new_nodes, new_edges))
            ]
            return self.commit_partial(*rows, None, None, stage, update_tag, metrics)

        # The two staging writes are independent Spark jobs: overlap them so
        # the commit pays max(nodes, edges) staging latency, not the sum
        # (the round-4 profile showed the serial write+read inside commit as
        # a top T2 cost).  Merge-plan construction is driver-only and cheap;
        # only the staging ACTIONS run in the pool.
        out, touched = [], []
        for t, staged in zip(TABLES, _per_table(self._stage_batch, new_nodes, new_edges)):
            new, labels = staged or (None, [])
            touched.append(labels)
            out.append(
                None
                if new is None
                else self._merge(
                    t, self._read(t, labels=labels), new, update_tag,
                    old_rows=self.committed_rows(t.name, labels),
                )
            )
        return self.commit_partial(*out, *touched, stage, update_tag, metrics)

    # Committed-side row count (manifest stats, no Spark job) above which the
    # MERGE plans switch to the semi-join shape that never shuffles the
    # committed table.  Below it the direct shape wins: the semi shape
    # references the (possibly expensive, unexecuted) batch plan a third
    # time, which costs more than shuffling a small committed slice —
    # measured 3x worse on the sf0.01 T2 sync, where every committed slice
    # is tiny.  Above it the trade inverts: one extra pass over a bounded
    # batch plan buys never sorting/shuffling a 10^12-row table.
    SEMI_MERGE_MIN_ROWS = 5_000_000

    def _merge(
        self,
        t: _Table,
        old: DataFrame,
        new: DataFrame,
        update_tag: int,
        old_rows: int | None = None,
    ) -> DataFrame:
        """Pure MERGE plan over two frames of table ``t``: matched rows keep
        existing firstseen and merge props per-key; unmatched old rows pass
        through.  Shared by the commit path (over staged files) and the
        buffered sync store's read views (over unexecuted batch plans).

        Join shape is adaptive on ``old_rows`` (the committed side's manifest
        row count — exact, driver-side, no job):

        * small committed side (default): batch LEFT JOIN committed-keys +
          committed ANTI batch-keys — two executions of the batch plan, one
          sort-merge of the small committed slice.  The right trade when the
          slices fit in a few shuffle partitions.
        * big committed side (>= SEMI_MERGE_MIN_ROWS): the committed side is
          first restricted to keys the batch touches (LEFT SEMI on the batch
          key set), so the merge join pairs the batch with a <=|batch| slice
          instead of the whole table.  Every join is then broadcast-eligible
          (AQE picks it from runtime sizes) and the 10^12-row committed
          table is only STREAMED (two map-side passes), never shuffled or
          sorted — the shape that survives a 100x scale-up.  The direct
          shape cannot get there: a left join's build side must be the
          non-preserved side, which pins the big table to the unbuildable
          side and forces a full sort-merge shuffle per read view.
        """
        if old_rows is not None and old_rows >= self.SEMI_MERGE_MIN_ROWS:
            old_side = old.join(new.select(*t.key), t.key, "left_semi")
        else:
            old_side = old
        old_keys = old_side.select(
            *[F.col(k).alias(f"_{k}") for k in t.key],
            F.col("firstseen").alias("_fs"),
            F.col("props").alias("_op"),
        )
        cond = reduce(lambda a, b: a & b, [new[k] == old_keys[f"_{k}"] for k in t.key])
        merged_new = (
            new.join(old_keys, cond, "left")
            .withColumn("firstseen", F.coalesce(F.col("_fs"), F.lit(int(update_tag))))
            .withColumn("props", _merge_props(F.col("_op"), new["props"]))
            .select(*t.cols)
        )
        untouched = old.join(new.select(*t.key), t.key, "left_anti")
        return untouched.unionByName(merged_new)

    def delete(
        self,
        stale_nodes: DataFrame | None,
        stale_edges: DataFrame | None,
        stage: str,
        update_tag: int,
    ) -> int:
        """Set-based delete: anti-join out stale rows, DETACH-cascading edges.

        The reference deletes in LIMIT-batched loops purely for transaction
        sizing (graph/statement.py:112-128); a snapshot commit needs no
        batching.  DETACH semantics: deleting a node also removes every
        incident edge — done in the same commit so no snapshot ever holds a
        dangling edge.  Only labels that actually lose rows are rewritten;
        finding which rel slices hold incident edges costs one column-pruned
        scan (src_id, dst_id, rel_label) — reads, never writes, the
        untouched slices.
        """
        touched_labels: list[str] = []
        touched_rels: set[str] = set()
        nodes_out = edges_out = None
        cached = []

        sid = None
        if stale_nodes is not None:
            sn = stale_nodes.select("label", "id").distinct().cache()
            cached.append(sn)
            touched_labels = [r[0] for r in sn.select("label").distinct().collect()]
            nodes_out = self.nodes(labels=touched_labels).join(
                sn, ["label", "id"], "left_anti"
            )
            sid = sn.select("id").distinct().cache()
            cached.append(sid)
            # Broadcast the stale-id set ONLY when it is actually small
            # (incremental staleness: thousands of ids).  A mass offboarding
            # (a tenant's 10^8 nodes leaving at once) would otherwise ship
            # gigabytes to every executor — above the threshold the hint is
            # dropped and AQE picks the strategy (shuffled hash join /
            # its own broadcast if the post-cache stats allow).  The count
            # is one cheap job over the already-cached distinct set.
            if sid.count() <= self.BROADCAST_DELETE_MAX_IDS:
                sid_hint = F.broadcast
            else:
                sid_hint = lambda df: df  # noqa: E731 — identity, AQE decides
            incident = (
                self.edges()
                .select("src_id", "dst_id", "rel_label")
                .join(sid_hint(sid.withColumnRenamed("id", "src_id")), ["src_id"], "left_semi")
                .select("rel_label")
                .unionByName(
                    self.edges()
                    .select("src_id", "dst_id", "rel_label")
                    .join(
                        sid_hint(sid.withColumnRenamed("id", "dst_id")),
                        ["dst_id"],
                        "left_semi",
                    )
                    .select("rel_label")
                )
                .distinct()
                .collect()
            )
            touched_rels.update(r[0] for r in incident)

        if stale_edges is not None:
            se = stale_edges.select(*EDGE_KEY).distinct().cache()
            cached.append(se)
            touched_rels.update(r[0] for r in se.select("rel_label").distinct().collect())

        if touched_rels:
            edges_out = self.edges(rel_labels=sorted(touched_rels))
            if sid is not None:
                edges_out = edges_out.join(
                    sid_hint(sid.withColumnRenamed("id", "src_id")), ["src_id"], "left_anti"
                ).join(
                    sid_hint(sid.withColumnRenamed("id", "dst_id")), ["dst_id"], "left_anti"
                )
            if stale_edges is not None:
                edges_out = edges_out.join(se, EDGE_KEY, "left_anti")

        try:
            return self.commit_partial(
                nodes_out,
                edges_out,
                touched_labels,
                sorted(touched_rels),
                stage,
                update_tag,
            )
        finally:
            for df in cached:
                df.unpersist()


# ---------------------------------------------------------------------------
# Write-behind commit grouping
# ---------------------------------------------------------------------------

_EMPTY_MAP = "CAST(map() AS MAP<STRING,STRING>)"
# Sequential-MERGE fold over one (key)'s batch rows in stage order: each
# batch's props merge per-key over the accumulated map (later keys win, keys
# a later batch does not mention survive) — byte-identical to applying the
# batches as separate upsert commits.
_PROPS_FOLD = (
    "aggregate(_rs, " + _EMPTY_MAP + ", (acc, x) -> map_concat("
    "map_filter(acc, (k, v) -> NOT array_contains(map_keys(coalesce(x.props, "
    + _EMPTY_MAP + ")), k)), coalesce(x.props, " + _EMPTY_MAP + ")))"
)
_SEQ_CMP = "(l, r) -> CASE WHEN l._seq < r._seq THEN -1 WHEN l._seq > r._seq THEN 1 ELSE 0 END"


def _stamp(df: DataFrame, seq: int) -> DataFrame:
    return df.selectExpr("*", f"CAST({seq} AS INT) AS _seq")


def _fold(t: _Table, parts: list) -> DataFrame:
    """Combine ``_seq``-stamped per-stage batches of table ``t`` into one
    batch with sequential-upsert semantics: for a key written by several
    stages, props fold per-key in stage order and scalar columns take the
    LAST stage's value (the reference applies MERGE statements sequentially;
    this reproduces that composition in a single shuffle).  Each input batch
    is assumed key-unique, which the compilers guarantee (compile_nodes
    dedupes; edge builders dropDuplicates).
    """
    struct_cols = ", ".join(["_seq", "props", *t.last])
    return (
        _union(parts)
        .selectExpr(*t.key, f"struct({struct_cols}) AS _row", "lastupdated")
        .groupBy(*t.key)
        .agg(
            F.expr(f"array_sort(collect_list(_row), {_SEQ_CMP})").alias("_rs"),
            F.expr("max(lastupdated)").alias("lastupdated"),
        )
        .selectExpr(
            *t.key,
            f"{_PROPS_FOLD} AS _mp",
            *[f"element_at(_rs, -1).{c} AS {c}" for c in t.last],
            "lastupdated",
        )
        .selectExpr(
            *t.key,
            "IF(size(_mp) > 0, _mp, CAST(NULL AS MAP<STRING,STRING>)) AS props",
            *t.last,
            "CAST(NULL AS BIGINT) AS firstseen",
            "lastupdated",
        )
        .select(*t.cols)
    )


class BufferedSyncStore:
    """Write-behind wrapper around :class:`GraphStore` for staged syncs.

    Module ``upsert`` calls accumulate in memory (as unexecuted DataFrame
    plans) and flush as ONE merged commit at explicit :meth:`flush`
    boundaries (the orchestrator flushes before the heavy documents stage,
    before cleanup, and at sync end) or whenever a stage performs an
    operation that must observe *committed* state (``delete``/``commit*``/
    time-travel reads).  This collapses the sync's long tail of small
    per-schema commits — each paying a fixed staging-write + merge +
    manifest cost — into a handful of group commits: O(flush boundaries),
    not O(stages), snapshot commits per run, the same reason an Iceberg
    writer batches many table mutations into one snapshot.

    Reads stay exact WITHOUT flushing: :meth:`nodes`/:meth:`edges` return a
    lazy MERGE view of (committed slices x folded buffered batches) built by
    the same ``GraphStore._merge`` plan the commit path uses, so a stage
    that joins against "existing" nodes (trust stubs, SAML, edge target
    matching) sees byte-identical rows to the sequential-commit path.
    Read views are LABEL-PRUNED (see :meth:`_pending_view`): a read for
    labels L folds only the buffered batches whose statically-declared label
    sets (:class:`~cartography_spark.core.loader.LabeledFrame`) intersect L,
    which keeps a ~50-stage sync linear in stage count instead of quadratic.

    Semantics preserved exactly:
      * Intra-group batches touching the same key compose via
        :func:`_fold` — identical rows to sequential upserts.
      * Every member stage is checkpointed in the flush's manifest, so a
        resumed run skips each of them individually; a crash before the
        flush re-runs the whole group (upsert is a MERGE — idempotent).
    """

    _NO_FLUSH = {
        "spark",
        "root",
        "write_partitions",
        "stage_done",
        "_manifest",
        # manifest-only reads: label_rowcount / committed_rows are sizing
        # HINTS (callers tolerate staleness wrt buffered batches), so they
        # must not force a flush from inside a grouped stage
        "label_rowcount",
        "committed_rows",
    }

    # Never-read batches are materialized at flush in UNION CHUNKS of this
    # many plans per checkpoint job: per-batch jobs pay ~0.3-0.7s of fixed
    # scheduling latency each (~125 never-read batches in a full sync), while
    # ONE giant fold action serializes through AQE stage-at-a-time (the
    # measured round-3 failure mode).  Chunks bound both: ~16 moderate jobs,
    # thread-pooled.
    FLUSH_CHUNK = 8

    def __init__(self, store: GraphStore):
        self._store = store
        # per table: ordered buffered batches, each {df, labels, ckpt}.
        # ``labels`` is the batch's statically known node-label / rel-label
        # set (compilers stamp it via LabeledFrame; None = unknown, i.e. the
        # batch must be assumed to contain any label).  ``ckpt`` is a lazy
        # localCheckpoint, executed at most once — at the first read view
        # that needs this batch — so a batch plan never re-executes per read.
        self._pend: dict[str, list[dict]] = {t.name: [] for t in TABLES}
        self._stages: list[str] = []
        self._tag: int | None = None
        # merged-view memo keyed by (table, requested labels): repeated reads
        # of the same slice set (every module targets AWSAccount, for one)
        # reuse one DataFrame instead of rebuilding the merge plan per call.
        # Invalidated on any buffer or store mutation.
        self._view_cache: dict[tuple, object] = {}

    # -- buffered write -----------------------------------------------------

    def upsert(self, new_nodes, new_edges, stage, update_tag, metrics=None):
        if self._tag is not None and int(update_tag) != self._tag:
            self.flush()
        self._tag = int(update_tag)
        for t, df in zip(TABLES, (new_nodes, new_edges)):
            if df is not None:
                labels = getattr(df, "cartography_labels", None)
                self._pend[t.name].append({"df": df, "labels": labels, "ckpt": None})
                # drop only the cached views this batch can affect: full-table
                # views always, label-scoped views when the label sets meet
                # (an unlabeled batch can affect anything)
                for key in list(self._view_cache):
                    k_sub, k_labels = key
                    if k_sub == t.name and (
                        k_labels is None or labels is None or (labels & set(k_labels))
                    ):
                        del self._view_cache[key]
        self._stages.append(stage)
        return self._store._current_version()

    # -- pending-buffer views -------------------------------------------------

    def _pending_view(self, t: _Table, labels):
        """Fold of the buffered batches that can contain ``labels``.

        MERGE keys include the label ((label, id) for nodes, (src_id,
        rel_label, dst_id) for edges), so batches whose static label sets
        miss the requested labels can never contribute a key — the fold over
        the pruned, label-filtered subset is row-identical to folding the
        whole buffer and filtering after.  This is what keeps a staged sync
        linear in module count: each of the ~80 per-module reads folds the
        one or two small batches carrying its target label, not the whole
        accumulated write-behind buffer (which made the sync quadratic).

        Batches are localCheckpointed on first use: module batch plans embed
        earlier read views, so without a lineage cut plans would nest
        combinatorially; the cut also means each batch executes exactly once.
        (At cluster scale the cut would be a write to the staging dir —
        reliable storage instead of executor memory.)
        """
        want = None if labels is None else set(labels)
        entries = [
            e
            for e in self._pend[t.name]
            if want is None or e["labels"] is None or (e["labels"] & want)
        ]
        if not entries:
            return None
        self._materialize(entries)
        dfs = [e["ckpt"] for e in entries]
        if want is not None:
            dfs = [d.where(F.col(t.part).isin(list(want))) for d in dfs]
        if len(dfs) == 1:
            return dfs[0]
        return _fold(t, [_stamp(d, i) for i, d in enumerate(dfs)])

    @staticmethod
    def _materialize(entries: list) -> None:
        """localCheckpoint every still-raw entry, concurrently when there are
        several — each is an independent job (embedded read views reference
        only already-checkpointed frames)."""
        raw = [e for e in entries if e["ckpt"] is None]
        for e, ckpt in zip(raw, _checkpoint_all([[e["df"]] for e in raw])):
            e["ckpt"] = ckpt

    def flush(self) -> None:
        self._view_cache.clear()
        if not self._stages:
            return
        tables: dict[str, object] = {}
        parts: dict[str, list] = {}
        chunks: list[tuple[str, list]] = []
        for t in TABLES:
            entries = self._pend[t.name]
            if len(entries) <= 1:
                tables[t.name] = next(
                    (e["df"] if e["ckpt"] is None else e["ckpt"] for e in entries), None
                )
                continue
            # stamp every batch with its stage sequence BEFORE grouping so
            # chunked unions keep sequential-upsert conflict order
            parts[t.name] = [
                _stamp(e["ckpt"], i) for i, e in enumerate(entries) if e["ckpt"] is not None
            ]
            raw = [_stamp(e["df"], i) for i, e in enumerate(entries) if e["ckpt"] is None]
            chunks += [
                (t.name, raw[i : i + self.FLUSH_CHUNK])
                for i in range(0, len(raw), self.FLUSH_CHUNK)
            ]
        # checkpoint all chunks of both tables concurrently (each chunk is a
        # union of <=FLUSH_CHUNK already-independent batch plans — one job)
        for (name, _), ckpt in zip(chunks, _checkpoint_all([c for _, c in chunks])):
            parts[name].append(ckpt)
        for t in TABLES:
            if t.name in parts:
                tables[t.name] = _fold(t, parts[t.name])
        stages, tag = self._stages, self._tag
        self._pend = {t.name: [] for t in TABLES}
        self._stages, self._tag = [], None
        self._store.upsert(tables["nodes"], tables["edges"], stages, tag)

    # -- merged read views ----------------------------------------------------

    def _view(self, t: _Table, version, labels):
        if version is not None:
            return self._store._read(t, version, labels)
        key = (t.name, None if labels is None else tuple(sorted(labels)))
        if key in self._view_cache:
            return self._view_cache[key]
        pending = self._pending_view(t, labels)
        if pending is None:
            view = self._store._read(t, labels=labels)
        elif (old_rows := self._store.committed_rows(t.name, labels)) == 0:
            # No committed row for these labels (manifest lookup, no Spark
            # work) — the COMMON case during a T1 sync, whose module-phase
            # reads all precede the first flush: skip both merge joins.
            view = _inserts(t, pending, self._tag)
        else:
            view = self._store._merge(
                t, self._store._read(t, labels=labels), pending, self._tag, old_rows
            )
        self._view_cache[key] = view
        return view

    def nodes(self, version=None, labels=None):
        return self._view(NODES, version, labels)

    def edges(self, version=None, rel_labels=None):
        return self._view(EDGES, version, rel_labels)

    # -- flush-through everything else ----------------------------------------

    def __getattr__(self, name):
        target = getattr(self._store, name)
        if name in self._NO_FLUSH or not callable(target):
            return target

        def flushing(*args, **kwargs):
            self.flush()
            try:
                return target(*args, **kwargs)
            finally:
                # the wrapped call may publish a new snapshot (delete /
                # commit_partial): committed-only cached views would go stale
                self._view_cache.clear()

        return flushing
