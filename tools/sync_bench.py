#!/usr/bin/env python
"""Staged-sync wall-time benchmark: the per-stage commit path the
incremental store optimizes.

Measures a cold T1 full sync, an idempotent resume (all stages skip), and
an incremental T2 sync (deletions + mutations) at $SPARK_GRAFT_SF_DIR.
Prints one JSON line; results are recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from cartography_spark.core.store import GraphStore
    from cartography_spark.kg.pipeline import run_sync
    from cartography_spark.session import get_spark
    from tools.steal import StealWindow

    windows = {name: StealWindow() for name in ("t1", "resume", "t2")}

    spark = get_spark(app_name="sync_bench", master=f"local[{cpus}]")
    for t in ["nation", "customer", "supplier", "part", "region", "documents"]:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    root = tempfile.mkdtemp(prefix="sync_bench_")
    out = {}
    try:
        store = GraphStore(spark, root)
        t0 = time.time()
        with windows["t1"]:
            r1 = run_sync(spark, store, sf_dir, 111111111)
        out["t1_full_sync_sec"] = round(time.time() - t0, 2)
        out["t1_nodes"], out["t1_edges"] = r1.node_count, r1.edge_count
        out["t1_commits"] = r1.version

        t0 = time.time()
        with windows["resume"]:
            run_sync(spark, store, sf_dir, 111111111)  # resume: all stages skip
        out["resume_noop_sec"] = round(time.time() - t0, 2)

        v_before = store._current_version()
        t0 = time.time()
        with windows["t2"]:
            r2 = run_sync(spark, store, sf_dir, 222222222, variant="t2")
        out["t2_incremental_sec"] = round(time.time() - t0, 2)
        out["t2_commits"] = r2.version - v_before
        out["t2_nodes"], out["t2_edges"] = r2.node_count, r2.edge_count
        # labels rewritten per commit (manifest metric) — the incremental
        # store's whole point: most commits touch a few labels, not the graph
        metas = [
            json.load(open(os.path.join(root, "_meta", f)))
            for f in sorted(
                (f for f in os.listdir(os.path.join(root, "_meta")) if f.endswith(".json")),
                key=lambda f: int(f[1:-5]),  # v{N}.json numeric order
            )
        ]
        writes = [
            m["metrics"]["labels_written"] + m["metrics"]["rels_written"] for m in metas
        ]
        total_slices = sum(
            len(m.get("nodes", {})) + len(m.get("edges", {})) for m in metas[-1:]
        )
        out["avg_slices_written_per_commit"] = round(sum(writes) / max(len(writes), 1), 2)
        out["live_slices"] = total_slices
    finally:
        shutil.rmtree(root, ignore_errors=True)
    steal = {name: round(w.frac * 100, 2) for name, w in windows.items()}

    out.update({"metric": "staged_sync", "unit": "sec", "sf": sf_dir, "cpus": int(cpus),
                "steal_pct": steal})
    print(json.dumps(out))


if __name__ == "__main__":
    main()
