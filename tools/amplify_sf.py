#!/usr/bin/env python
"""Measurement-only scale amplifier: key-shifted replicas of the sf0.1 base
tables (default x10 = the driver's sf1.0 row counts: 6M lineitem, 150k
customer).  Used in round 6 to A/B graph-path changes at driver scale after
the driver-generated sf1.0 directory was no longer present.

Replicas shift each table's key columns by a disjoint stride, so fixture id
formulas stay injective (uniqueness contract of the bulk builder holds) and
FK relationships stay intact within each replica.  region/nation are left
unamplified (account dimension unchanged); documents/embeddings are copied
as-is — their text/vectors reference base-replica entity ids, so ONLY the
graph/base-table paths are comparable at the amplified scale (dedup/ANN
workloads would be biased by exact-duplicate replicas and are NOT measured
against this directory).

Usage: python tools/amplify_sf.py [src_dir] [dst_dir] [amp]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cartography_spark.session import get_spark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SHIFTS = {
    "customer": {"c_custkey": 10_000_000},
    "supplier": {"s_suppkey": 10_000_000},
    "part": {"p_partkey": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "lineitem": {"l_orderkey": 100_000_000, "l_partkey": 10_000_000, "l_suppkey": 10_000_000},
    "events": {"event_id": 100_000_000, "user_id": 10_000_000},
}


def check_paths(src: str, dst: str) -> None:
    """Refuse a dst that is src or lies inside it: the writes below overwrite
    dst's parquet directories while Spark is still lazily scanning src's."""
    s, d = os.path.realpath(src), os.path.realpath(dst)
    if os.path.commonpath([s, d]) == s:
        raise SystemExit(f"amplify_sf: dst {dst!r} is or lies inside src {src!r}; refusing")


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/root/amp10"
    amp = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    check_paths(src, dst)
    os.makedirs(dst, exist_ok=True)
    spark = get_spark(app_name="amplify_sf", master="local[32]")

    for t in ["region", "nation", "documents", "embeddings"]:
        spark.read.parquet(f"{src}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )

    for t, shifts in SHIFTS.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        reps = []
        for i in range(amp):
            r = df
            for col, step in shifts.items():
                r = r.withColumn(col, F.col(col) + F.lit(i * step))
            reps.append(r)
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.repartition(16).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(t, spark.read.parquet(f"{dst}/{t}.parquet").count())


if __name__ == "__main__":
    main()
