#!/usr/bin/env python
"""Per-stage wall-time profile of run_sync — instrumentation only, no
benchmark semantics.  Wraps every sync_* callable referenced by
kg/pipeline.py plus the store's flush/read-view/commit entry points and
prints a sorted cost table."""

from __future__ import annotations

import os
import sys
import tempfile
import time
import shutil
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TIMES: dict[str, float] = defaultdict(float)
COUNTS: dict[str, int] = defaultdict(int)


def timed(name, fn):
    def wrap(*a, **k):
        t0 = time.time()
        try:
            return fn(*a, **k)
        finally:
            TIMES[name] += time.time() - t0
            COUNTS[name] += 1

    return wrap


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from cartography_spark.core.store import GraphStore, BufferedSyncStore
    from cartography_spark.kg import pipeline as P
    from cartography_spark.session import get_spark

    # wrap every module-level sync_* the pipeline calls
    for attr in list(vars(P)):
        v = getattr(P, attr)
        if callable(v) and attr.startswith("sync_"):
            setattr(P, attr, timed(f"stage:{attr}", v))
    for mod_attr in ("aws_iam", "okta", "permissions", "aws_tags"):
        mod = getattr(P, mod_attr)
        for attr in list(vars(mod)):
            v = getattr(mod, attr)
            if callable(v) and attr.startswith("sync_"):
                setattr(mod, attr, timed(f"stage:{mod_attr}.{attr}", v))

    # store internals
    for cls, names in [
        (BufferedSyncStore, ["flush", "nodes", "edges", "_pending_view"]),
        (GraphStore, ["upsert", "delete", "_write_slices", "_stage_batch", "_merge"]),
    ]:
        for n in names:
            setattr(cls, n, timed(f"store:{cls.__name__}.{n}", getattr(cls, n)))

    from cartography_spark.analysis import registry as R

    R.run_analysis_jobs = timed("analysis:run_analysis_jobs", R.run_analysis_jobs)
    P.run_cleanup = timed("cleanup", P.run_cleanup)

    def report(tag, total):
        print(f"\nTOTAL {tag}: {total:.1f}s  sf={sf_dir}\n")
        print(f"{'what':55s} {'sec':>8s} {'n':>4s}")
        for k in sorted(TIMES, key=TIMES.get, reverse=True):
            print(f"{k:55s} {TIMES[k]:8.2f} {COUNTS[k]:4d}")
        TIMES.clear()
        COUNTS.clear()

    spark = get_spark(app_name="sync_profile", master=f"local[{cpus}]")
    root = tempfile.mkdtemp(prefix="sync_profile_")
    try:
        store = GraphStore(spark, root)
        t0 = time.time()
        P.run_sync(spark, store, sf_dir, 111111111)
        report("t1", time.time() - t0)
        # incremental pass over the mutated fixture surface — the phase
        # breakdown T1's empty-committed fast path cannot help
        t0 = time.time()
        P.run_sync(spark, store, sf_dir, 222222222, variant="t2")
        report("t2", time.time() - t0)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
