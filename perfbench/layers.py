"""Which engine functions the traced run wraps, and the per-layer metrics.

Layers are the ``cartography_spark`` subpackages.  Every metric name below
is listed under ``per_layer`` in BENCHMARK.json; a layer a workload never
calls reads 0.
"""

from __future__ import annotations

import glob
import inspect
import json
import os

from spans import Job, Span, Tracer, attribute_jobs, covered, layer_table

SYNC_MODULES = ("aws_base", "aws_emr", "aws_iam", "aws_s3", "okta", "permissions")


class ViewHits:
    """Counts read-view calls that return the very frame object the previous
    call with the same arguments returned (a reused view)."""

    def __init__(self):
        self.last: dict = {}
        self.calls = 0
        self.hits = 0

    def wrapper(self, tracer: Tracer):
        def make(fn, name, layer):
            traced = tracer.wrap(fn, name, layer)

            def counted(store, *args, **kwargs):
                out = traced(store, *args, **kwargs)
                key = (id(store), name, repr(args), repr(sorted(kwargs.items())))
                self.calls += 1
                self.hits += self.last.get(key) is out
                self.last[key] = out
                return out

            return counted

        return make


def install(tracer: Tracer) -> ViewHits:
    """Patch the engine's public entry points with spans."""
    import importlib

    from cartography_spark.core.store import BufferedSyncStore, GraphStore

    def public_functions(modname):
        mod = importlib.import_module(f"cartography_spark.{modname}")
        return mod, [n for n, v in vars(mod).items()
                     if inspect.isfunction(v) and not n.startswith("_")
                     and v.__module__ == mod.__name__]

    for modname, layer, only in [
        ("sources.fixtures", "sources", None),
        ("sources.docs_synth", "sources", None),
        ("core.loader", "core.loader", ("compile_nodes", "compile_edges")),
        ("core.cleanup", "core.cleanup", None),
        ("kg.pipeline", "core.cleanup", ("run_cleanup",)),
        ("kg.bulk", "kg.bulk", ("build_graph",)),
        ("kg.extract", "kg.extract", ("detect_mentions",)),
        ("kg.link", "kg.link", ("identifier_dictionary", "link_mentions")),
        ("kg.materialize", "kg.materialize", None),
        ("kg.canonicalize", "kg.canonicalize", ("connected_components", "canonical_mapping")),
        ("ops.dedup", "ops.dedup", ("minhash_lsh_pairs", "duplicate_clusters", "ngram_jaccard_pairs")),
        ("analysis.registry", "analysis", ("run_analysis_jobs",)),
        ("modules.permissions", "modules", ("evaluate_permissions", "sts_assumerole_pairs")),
    ]:
        mod, names = public_functions(modname)
        for n in only or names:
            tracer.patch(mod, n, layer)
    for modname in SYNC_MODULES:
        mod, names = public_functions(f"modules.{modname}")
        for n in names:
            if n.startswith("sync_"):
                tracer.patch(mod, n, "modules")
    for cls, names in [
        (GraphStore, ("upsert", "delete", "commit", "commit_partial", "_write_slices", "_publish")),
        (BufferedSyncStore, ("upsert", "flush", "_pending_view")),
    ]:
        for n in names:
            tracer.patch_method(cls, n, "core.store")
    hits = ViewHits()
    for n in ("nodes", "edges"):
        tracer.patch_method(BufferedSyncStore, n, "core.store", wrapper=hits.wrapper(tracer))
    return hits


def store_counters(root: str | None) -> dict[str, float]:
    """Commit counters from the store's ``_meta/v*.json`` manifests."""
    out = {"commits": 0, "slices_written": 0, "rows_written": 0, "write_amp": 0.0,
           "rows_deleted": 0}
    if not root:
        return out
    metas = []
    for p in glob.glob(os.path.join(root, "_meta", "v*.json")):
        with open(p) as f:
            metas.append(json.load(f))
    metas.sort(key=lambda m: m["version"])
    prev_total = 0
    for m in metas:
        gen = os.path.join("data", f"g{m['version']}") + os.sep
        new = [e for t in ("nodes", "edges") for e in m.get(t, {}).values()
               if e["path"].startswith(gen)]
        out["commits"] += 1
        out["slices_written"] += len(new)
        out["rows_written"] += sum(e["rows"] for e in new)
        total = m["metrics"]["node_rows"] + m["metrics"]["edge_rows"]
        if "cleanup" in m.get("stage", ""):
            out["rows_deleted"] += max(prev_total - total, 0)
        prev_total = total
    if metas:
        live = metas[-1]["metrics"]["node_rows"] + metas[-1]["metrics"]["edge_rows"]
        out["write_amp"] = out["rows_written"] / live if live else 0.0
    return out


LAYERS = ("core.store", "core.cleanup", "core.loader", "modules", "sources",
          "analysis", "kg.bulk", "kg.extract", "kg.link", "kg.materialize", "kg.canonicalize",
          "ops.dedup")


def per_layer_metrics(spans: list[Span], jobs: list[Job], hits: ViewHits, store_root,
                      counts: dict[str, float], timed_wall: float) -> dict[str, float]:
    by_sid = {sp.sid: sp for sp in spans}
    table = layer_table(spans, jobs)
    owner = attribute_jobs(spans, jobs)

    def outer(pred):
        """Spans matching ``pred`` with no matching ancestor."""
        out = []
        for sp in spans:
            if not pred(sp):
                continue
            anc = by_sid.get(sp.parent)
            while anc is not None and not pred(anc):
                anc = by_sid.get(anc.parent)
            if anc is None:
                out.append(sp)
        return out

    def wall(pred):
        return sum(sp.end - sp.start for sp in outer(pred))

    def named(*names):
        return lambda sp: sp.name in names

    def n_calls(pred):
        return sum(1 for sp in spans if pred(sp))

    def jobs_under(pred):
        roots = {sp.sid for sp in spans if pred(sp)}
        n = 0
        for j in jobs:
            sid = owner[j.jid]
            while sid is not None and sid not in roots:
                sid = by_sid[sid].parent
            n += sid is not None
        return n

    def col(layer, c):
        return table.get(layer, {}).get(c, 0)

    phases = [sp for sp in spans if sp.parent is None]
    job_iv = [(j.submit, j.end) for j in jobs]
    sc = store_counters(store_root)
    m = {
        "core.store.flush_s": wall(named("BufferedSyncStore.flush")),
        "core.store.flush_n": n_calls(named("BufferedSyncStore.flush")),
        "core.store.view_s": wall(named("BufferedSyncStore.nodes", "BufferedSyncStore.edges")),
        "core.store.view_n": hits.calls,
        "core.store.view_hit_ratio": hits.hits / hits.calls if hits.calls else 0.0,
        "core.store.upsert_s": wall(named("GraphStore.upsert")),
        "core.store.delete_s": wall(named("GraphStore.delete")),
        "core.store.commits": sc["commits"],
        "core.store.slices_written": sc["slices_written"],
        "core.store.rows_written": sc["rows_written"],
        "core.store.write_amp": sc["write_amp"],
        "core.cleanup.s": col("core.cleanup", "wall_s"),
        "core.cleanup.rows_deleted": sc["rows_deleted"],
        "modules.stage_s": col("modules", "self_s"),
        "modules.stage_n": n_calls(lambda sp: sp.layer == "modules" and ".sync_" in sp.name),
        "modules.permissions_s": wall(lambda sp: sp.name.startswith("permissions.")),
        "sources.s": col("sources", "wall_s"),
        "core.loader.compile_s": col("core.loader", "wall_s"),
        "core.loader.compile_n": col("core.loader", "calls"),
        "analysis.s": col("analysis", "wall_s"),
        "analysis.jobs": jobs_under(lambda sp: sp.layer == "analysis"),
        "kg.pipeline.resume_s": wall(named("phase:resume")),
        "kg.bulk.assemble_s": wall(named("bulk.build_graph")),
        "kg.bulk.commit_s": sum(
            sp.end - sp.start for sp in outer(named("GraphStore.upsert"))
            if _under(sp, by_sid, "phase:bulk_build")),
        "kg.bulk.compute_s": wall(named("kg.bulk.compute")),
        "kg.extract.s": col("kg.extract", "wall_s"),
        "kg.link.s": col("kg.link", "wall_s"),
        "kg.link.dict_rows": counts.get("dict_rows", 0),
        "kg.materialize.s": col("kg.materialize", "wall_s"),
        "kg.canonicalize.cc_s": wall(named("canonicalize.connected_components")),
        "kg.canonicalize.cc_jobs": jobs_under(named("canonicalize.connected_components")),
        "kg.canonicalize.cc_calls": n_calls(named("canonicalize.connected_components")),
        "kg.canonicalize.map_s": wall(named("canonicalize.canonical_mapping")),
        "ops.dedup.lsh_pairs_s": wall(named("phase:lsh_pairs")),
        "ops.dedup.lsh_pairs": counts.get("lsh_pairs", 0),
        "ops.dedup.clusters_s": wall(named("phase:clusters")),
        "ops.dedup.ngram_s": wall(named("phase:ngram_pairs")),
        "ops.dedup.ngram_pairs": counts.get("ngram_pairs", 0),
        "spark.jobs": len(jobs),
        "spark.stages": sum(j.stages for j in jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.driver_only_s": sum(
            (sp.end - sp.start) - covered(job_iv, sp.start, sp.end) for sp in phases),
        "spark.executor_run_s": sum(j.run_s for j in jobs),
        "spark.executor_cpu_s": sum(j.cpu_s for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
        "spark.shuffle_write_mb": sum(j.shuffle_write_mb for j in jobs),
        "spark.spill_mb": sum(j.spill_mb for j in jobs),
        "trace.wall_s": timed_wall,
        # operation wall no engine span covers: the benchmark's own actions
        # that consume lazily built frames
        "trace.uncovered_s": col("workload", "self_s"),
    }
    for layer in LAYERS:
        m[f"{layer}.self_s"] = col(layer, "self_s")
        m.setdefault(f"{layer}.jobs", col(layer, "jobs"))
    return m


def _under(sp: Span, by_sid: dict, name: str) -> bool:
    anc = by_sid.get(sp.parent)
    while anc is not None:
        if anc.name == name:
            return True
        anc = by_sid.get(anc.parent)
    return False


def unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_amp")):
        return "ratio"
    return "count"
