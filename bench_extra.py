#!/usr/bin/env python
"""Extra benchmarks (round 6): per-query noop-sink isolation.

NOT the driver's bench — bench.py stays frozen.  This harness times
individual member queries with the noop sink (guide §1.4: computes every
column of every row, no result sink cost, no count() plan hollowing) and
prints one JSON line per query so before/after numbers can be cited in
OPTIMIZATION_r06.md.

Usage: python bench_extra.py [sf_dir] [query ...]   (default: all members)
Env:   SPARK_GRAFT_CPUS (default 32), REPEATS (default 3)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.steal import StealWindow  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    repeats = int(os.environ.get("REPEATS", "3"))

    from cartography_spark.session import get_spark

    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]")
    import __spark_entry__ as entrymod

    qs = entrymod._member_queries()
    if not names:
        names = list(qs)

    # warm footers
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    entrymod.ensure_ann_index(spark, sf_dir)

    for name in names:
        fn = qs[name]
        samples = []
        steals = []
        # one untimed warm run (codegen compile, worker spin-up)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            with StealWindow() as w:
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                t = round(time.time() - t0, 3)
            samples.append(t)
            steals.append(round(100.0 * w.frac, 2))
            spark.sparkContext.setJobDescription(None)
        print(json.dumps({
            "query": name, "sf_dir": sf_dir, "samples": samples,
            "min": min(samples), "steal_pct": steals, "cpus": int(cpus),
        }), flush=True)


if __name__ == "__main__":
    main()
