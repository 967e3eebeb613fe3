#!/usr/bin/env python
"""ANN crossover evidence: indexed probe vs brute-force cosine as the vector
corpus grows.

At bench scale (sf0.1, ~2k vectors) the bucket-partitioned LSH index LOSES
to brute force — fixed probe overhead (FileIndex, partition pruning, plan
latency) dominates a table that fits in one scan.  The index's win is by
construction at 10^12 rows (probes read ~|probes|/2^planes of the files —
tests/test_plans.py pins files-read ⊆ probed partitions); this tool
measures WHERE the crossover actually happens by amplifying the corpus
deterministically and timing both paths at each size.

Prints one JSON line; the table lands in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.steal import best_of  # noqa: E402


def timed(fn):
    """Steal-guarded best-of timing: (seconds, steal % of the kept window)."""
    t, s, _ = best_of(fn)
    return t, round(s * 100, 2)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    amps = [int(a) for a in os.environ.get("ANN_AMPS", "1,10,50,200,400").split(",")]

    from pyspark.sql import functions as F

    from cartography_spark.ops.similarity import (
        ann_topk_indexed,
        build_ann_index,
        cosine_topk,
    )
    from cartography_spark.session import get_spark

    spark = get_spark(app_name="ann_crossover", master=f"local[{cpus}]")
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(base.select("embedding").head()[0])
    qvec = base.select("embedding").head()[0]
    n_base = base.count()

    work = "/dev/shm/ann_crossover"
    rows = []
    try:
        _run_amps(spark, base, dim, qvec, amps, cpus, work, rows)
    finally:
        # the amplified corpora/indexes are RAM-backed (tmpfs) and up to
        # 400x the base vectors — always reclaim, even on a failed run
        import shutil

        shutil.rmtree(work, ignore_errors=True)

    crossover = next((r["n_vectors"] for r in rows if r["speedup"] >= 1.0), None)
    print(
        json.dumps(
            {
                "metric": "ann_crossover",
                "unit": "sec",
                "base_vectors": n_base,
                "rows": rows,
                "crossover_n_vectors": crossover,
                "cpus": int(cpus),
                "sf": sf_dir,
            }
        )
    )


def _run_amps(spark, base, dim, qvec, amps, cpus, work, rows):
    import sys

    from pyspark.sql import functions as F

    from cartography_spark.ops.similarity import (
        ann_topk_indexed,
        build_ann_index,
        cosine_topk,
    )

    for amp in amps:
        # deterministic amplification: replicas perturb one coordinate by a
        # rep-dependent epsilon so buckets stay realistically spread
        amp_df = (
            base.crossJoin(spark.range(amp).withColumnRenamed("id", "rep"))
            .select(
                (F.col("vec_id") * amp + F.col("rep")).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, i: x + F.when(i == 0, F.col("rep") % 97 * 1e-4).otherwise(0.0),
                ).alias("embedding"),
            )
        )
        corpus_path = f"{work}/corpus_{amp}"
        amp_df.repartition(int(cpus)).write.mode("overwrite").parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)
        n = corpus.count()

        t0 = time.time()
        index_path = f"{work}/index_{amp}"
        build_ann_index(corpus, dim, index_path, num_planes=6)
        build_s = round(time.time() - t0, 3)

        brute_t, brute_steal = timed(lambda: cosine_topk(corpus, qvec, 20).collect())
        idx_t, idx_steal = timed(
            lambda: ann_topk_indexed(spark, index_path, qvec, k=20).collect()
        )
        # build amortization: probes until the one-time index build pays for
        # itself vs brute-forcing every query (None while the index loses)
        saved = brute_t - idx_t
        break_even = round(build_s / saved, 1) if saved > 0 else None
        rows.append(
            {
                "amp": amp,
                "n_vectors": n,
                "brute_sec": brute_t,
                "indexed_sec": idx_t,
                "index_build_sec": build_s,
                "speedup": round(brute_t / idx_t, 2),
                "break_even_probes": break_even,
                "steal_pct": {"brute": brute_steal, "indexed": idx_steal},
            }
        )
        sys.stderr.write(f"amp {amp}: n={n} brute={brute_t}s indexed={idx_t}s\n")


if __name__ == "__main__":
    main()
