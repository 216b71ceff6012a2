"""Batch-proportionality check for the partitioned pure-Parquet MERGE
(docs/SCALE.md).

Builds the stored table at Nx scale (lineitem replicated with disjoint
per-copy key spaces — table AND key cardinality grow Nx) with the
production bucket sizing rule: num_buckets grows with the table so a
bucket stays ~constant-sized (8 buckets per 1x copy here; the same rule
that picks 4096 buckets at 100 TB). Then merges one FIXED-size trickle
batch (the line items of 2 orders, newer shipdates) and times it:

- ``merge_into_partitioned``: should stay ~FLAT across table scale —
  the batch touches a handful of constant-sized buckets, so scan +
  rewrite cost is bounded by the batch's touched slice, not the table.
  The whole-table return resolves every bucket's version dir through
  the manifest; ``return_touched_only`` resolves only the touched ones.
- ``merge_into_sql`` (the full-rewrite runtime, same semantics): the
  contrast row — O(table) per batch, wall grows ~Nx.
- a WIDE batch touching every bucket: the other envelope end, timed
  twice (the second run reads the clustered one-file-per-bucket layout).

The seed build (first merge, whole table) is also timed: that is the
pay-once layout cost, analogous to the bucketed-flagship layout write.

Usage:
    python tools/bench_merge_scale.py [sf_dir] [N ...]   # default 1 16 64

Prints one JSON line:
    {"metric": "merge_scale", "batch_rows": B,
     "points": {N: {"table_rows": _, "num_buckets": _, "seed_s": _,
                    "merge_part_s": _, "touched": _, "merge_full_s": _,
                    "wide_batch_s": _, "wide_steady_s": _,
                    "wide_touched": _, "merge_part_touched_s": _}}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    scales = [int(a) for a in sys.argv[2:]] or [1, 16, 64]

    from transit_efficiency_analysis_spark.operators.upsert import (
        merge_into_partitioned,
        merge_into_sql,
    )
    from transit_efficiency_analysis_spark.session import get_spark
    from transit_efficiency_analysis_spark.sources.registry import load_table

    spark = get_spark("bench_merge_scale")
    spark.range(1).count()

    # lineitem, not events: 6x the rows and a wider payload, so the
    # full-rewrite contrast row measures data volume instead of fixed
    # job overheads
    base = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity",
        "l_extendedprice", "l_suppkey", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus",
    )
    keys = ["l_orderkey", "l_linenumber"]
    order_by = ["l_shipdate", "l_suppkey"]

    # fixed trickle batch: the line items of 2 orders, shipdate pushed
    # past everything stored so the merge is all matched-updates — a
    # trickle batch touches a handful of bucket partitions at every scale
    two_orders = [r[0] for r in base.select("l_orderkey").distinct().limit(2).collect()]
    batch = (
        base.where(F.col("l_orderkey").isin(two_orders))
        .withColumn("l_shipdate", F.date_add(F.col("l_shipdate"), 10_000))
        .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(100_000_000))
        .cache()
    )
    batch_rows = batch.count()

    points = {}
    work = tempfile.mkdtemp(prefix="bench_merge_scale_")
    try:
        for n in scales:
            table = None
            for i in range(n):
                c = base.withColumn(
                    "l_orderkey", F.col("l_orderkey") + F.lit(i * 100_000_000)
                )
                table = c if table is None else table.unionByName(c)
            table = table.cache()
            table_rows = table.count()
            buckets = 8 * n

            part_target = os.path.join(work, f"part_{n}")
            t0 = time.perf_counter()
            merge_into_partitioned(part_target, table, keys, order_by,
                                   num_buckets=buckets)
            seed_s = time.perf_counter() - t0

            t0 = time.perf_counter()
            merge_into_partitioned(part_target, batch, keys, order_by,
                                   num_buckets=buckets)
            part_s = time.perf_counter() - t0
            from transit_efficiency_analysis_spark.operators.upsert import (
                _bucket_expr,
            )

            touched = (
                batch.select(_bucket_expr(keys, buckets).alias("b"))
                .distinct()
                .count()
            )

            full_target = os.path.join(work, f"full_{n}")
            merge_into_sql(full_target, table, keys, order_by)
            t0 = time.perf_counter()
            merge_into_sql(full_target, batch, keys, order_by)
            full_s = time.perf_counter() - t0

            # the OTHER envelope end (worst case, recorded honestly): a
            # wide batch whose keys hash into every bucket forces a
            # read+rewrite of all partitions — expect ~the full-rewrite
            # wall plus partition bookkeeping, which is exactly what the
            # "trickle batches pay proportionally" claim excludes
            wide = (
                base.where(F.col("l_orderkey") % 100 == 0)
                .withColumn("l_shipdate", F.date_add(F.col("l_shipdate"), 20_000))
                .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(200_000_000))
            )
            wide_touched = (
                wide.select(_bucket_expr(keys, buckets).alias("b"))
                .distinct()
                .count()
            )
            # wide route: the first merge reads the trickle-written
            # layout; the second reads the one-file-per-bucket layout the
            # clustered write leaves — the steady state of a deployment
            # that takes wide batches
            t0 = time.perf_counter()
            merge_into_partitioned(part_target, wide, keys, order_by,
                                   num_buckets=buckets)
            wide_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            merge_into_partitioned(part_target, wide, keys, order_by,
                                   num_buckets=buckets)
            wide_steady_s = time.perf_counter() - t0

            # read-side overhead: the same trickle merge returning only
            # the touched slice vs the whole-table read-back above
            t0 = time.perf_counter()
            merge_into_partitioned(part_target, batch, keys, order_by,
                                   num_buckets=buckets,
                                   return_touched_only=True)
            part_touched_s = time.perf_counter() - t0

            table.unpersist()
            points[n] = {
                "table_rows": table_rows,
                "num_buckets": buckets,
                "seed_s": round(seed_s, 2),
                "merge_part_s": round(part_s, 2),
                "touched": touched,
                "merge_full_s": round(full_s, 2),
                "wide_batch_s": round(wide_s, 2),
                "wide_steady_s": round(wide_steady_s, 2),
                "wide_touched": wide_touched,
                "merge_part_touched_s": round(part_touched_s, 2),
            }
            print(
                f"# N={n}: table {table_rows} rows, {buckets} buckets, "
                f"seed {seed_s:.1f}s, partitioned merge {part_s:.2f}s "
                f"({touched} touched; touched-only return "
                f"{part_touched_s:.2f}s), full-rewrite merge {full_s:.2f}s, "
                f"wide batch {wide_s:.2f}s / steady {wide_steady_s:.2f}s "
                f"({wide_touched}/{buckets} touched)",
                file=sys.stderr,
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    la = os.getloadavg()
    print(json.dumps({
        "metric": "merge_scale",
        "sf_dir": sf_dir,
        "batch_rows": batch_rows,
        "points": points,
        "loadavg": [round(x, 2) for x in la],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
