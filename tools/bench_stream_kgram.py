"""Standing k-gram table growth envelope for streaming dedup-at-ingest.

Replays the documents table as B event-ordered batches through the
q_stream_dup_screen maintenance shape (screen batch against the standing
k-gram table, then append the batch's k-grams) and records, per batch,
the standing table's row count and the screen/maintain wall time — for
four maintenance policies:

- ``append``      — the demo's shape: append the batch's DISTINCT
                    k-grams unconditionally. Re-seen k-grams accumulate
                    one row per (batch, kgram): growth ∝ batches.
- ``merge_unique`` — append only k-grams NOT already standing
                    (``operators.spans.new_kgrams_for_append``, one
                    anti-join). Growth bounded by distinct k-grams.
- ``ttl``          — merge (kgram, last_seen=batch) via the pure-Parquet
                    MERGE runtime (``operators.upsert.merge_into_sql``)
                    and expire k-grams older than ``ttl`` batches
                    (``operators.spans.kgram_table_ttl``). Bounded by
                    the distinct k-grams of the last ttl+1 batches.
- ``ttl_manifest`` — the production shape: batch-proportional
                    partitioned MERGE of (kgram, last_seen) per batch
                    (``merge_into_partitioned``, manifest commit),
                    strict ttl semantics applied at SCREEN time through
                    the last_seen predicate, physical expiry deferred
                    to an occasional layout-preserving compaction
                    (``filter_partitioned``, every ttl+1 batches here).
                    Physical rows plateau at each compaction.

Screening results are policy-INVARIANT for append vs merge_unique (the
membership join deduplicates the set anyway — asserted per batch); ttl
intentionally narrows the horizon and is excluded from that assertion,
but ttl_manifest must screen exactly like ttl (asserted per batch):
deferring physical expiry never widens the dedup horizon.

Usage:
    python tools/bench_stream_kgram.py [sf_dir] [n_batches] [ttl] [policy ...]

Prints one JSON line:
    {"metric": "stream_kgram_growth", "batches": B,
     "policies": {name: {"rows": [per-batch standing rows...],
                          "screen_s": [...], "maintain_s": [...]}}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K = 5


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    ttl = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    policies = sys.argv[4:] or ["append", "merge_unique", "ttl", "ttl_manifest"]

    from transit_efficiency_analysis_spark.operators.spans import (
        kgram_occurrences,
        kgram_table_ttl,
        new_kgrams_for_append,
        spans_against_kgram_set,
    )
    from transit_efficiency_analysis_spark.operators.upsert import merge_into_sql
    from transit_efficiency_analysis_spark.session import get_spark
    from transit_efficiency_analysis_spark.sources.registry import load_table

    spark = get_spark("bench_stream_kgram")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").cache()
    docs.count()

    def batch(i: int) -> DataFrame:
        return docs.where(F.col("doc_id") % n_batches == i)

    root = tempfile.mkdtemp(prefix="kgram_growth_")
    results: dict[str, dict] = {}
    try:
        for policy in policies:
            tbl = os.path.join(root, policy, "kgrams")
            os.makedirs(os.path.dirname(tbl), exist_ok=True)
            rows, screen_s, maintain_s, span_counts = [], [], [], []

            def standing() -> DataFrame:
                if os.path.exists(os.path.join(tbl, ".merge_meta.json")):
                    from transit_efficiency_analysis_spark.operators.upsert import (
                        read_partitioned,
                    )

                    return read_partitioned(spark, tbl)
                if os.path.isdir(tbl) and any(
                    p.startswith(("part-", "_")) for p in os.listdir(tbl)
                ) or os.path.islink(tbl):
                    return spark.read.parquet(tbl)
                return spark.createDataFrame([], "kgram long")

            for b in range(n_batches):
                bdf = batch(b)
                t0 = time.time()
                view = standing()
                if policy == "ttl_manifest" and "last_seen" in view.columns:
                    # physical expiry is deferred (compaction cadence), so
                    # the SCREEN applies the freshness predicate — exactly
                    # the rows the per-batch-expired ttl table contains at
                    # this point (last expiry ran as of batch b-1)
                    view = kgram_table_ttl(view, b - 1, ttl)
                n_spans = spans_against_kgram_set(
                    bdf, view.select("kgram"), k=K
                ).count()
                screen_s.append(round(time.time() - t0, 2))
                span_counts.append(n_spans)

                t0 = time.time()
                if policy == "append":
                    kgram_occurrences(bdf, K).select("kgram").distinct().write.mode(
                        "append"
                    ).parquet(tbl)
                elif policy == "merge_unique":
                    new_kgrams_for_append(bdf, standing(), k=K).write.mode(
                        "append"
                    ).parquet(tbl)
                elif policy == "ttl":
                    inc = (
                        kgram_occurrences(bdf, K)
                        .select("kgram")
                        .distinct()
                        .withColumn("last_seen", F.lit(b).cast("long"))
                    )
                    merged = merge_into_sql(
                        tbl, inc, keys=["kgram"], order_by=["last_seen"]
                    )
                    # expire inside the same commit cadence (occasional
                    # compaction in production; per-batch here so every
                    # recorded row count reflects the policy's bound)
                    from transit_efficiency_analysis_spark.sinks import (
                        overwrite_table,
                    )

                    overwrite_table(kgram_table_ttl(merged, b, ttl), tbl)
                elif policy == "ttl_manifest":
                    # batch-proportional partitioned MERGE of
                    # (kgram, last_seen) per batch; physical expiry only
                    # every ttl+1 batches via the layout-preserving
                    # compaction. The SCREEN above already applied strict
                    # ttl semantics through the standing() view, so
                    # deferred physical expiry never widens the dedup
                    # horizon.
                    from transit_efficiency_analysis_spark.operators.upsert import (
                        filter_partitioned,
                        merge_into_partitioned,
                    )

                    inc = (
                        kgram_occurrences(bdf, K)
                        .select("kgram")
                        .distinct()
                        .withColumn("last_seen", F.lit(b).cast("long"))
                    )
                    # maintenance-loop mode: the loop never consumes the
                    # merge's return, so only the touched slice is read
                    merge_into_partitioned(
                        tbl, inc, keys=["kgram"], order_by=["last_seen"],
                        num_buckets=32, return_touched_only=True,
                    )
                    if b > 0 and b % (ttl + 1) == 0:
                        filter_partitioned(
                            spark, tbl,
                            F.col("last_seen") >= F.lit(b - ttl),
                        )
                else:
                    raise SystemExit(f"unknown policy {policy!r}")
                maintain_s.append(round(time.time() - t0, 2))
                rows.append(standing().count())

            results[policy] = {
                "rows": rows,
                "screen_s": screen_s,
                "maintain_s": maintain_s,
                "spans": span_counts,
            }
            print(f"# {policy}: standing rows per batch {rows}", file=sys.stderr)

        # policy-invariance: append vs merge_unique must screen identically
        if "append" in results and "merge_unique" in results:
            if results["append"]["spans"] != results["merge_unique"]["spans"]:
                print("# SPAN MISMATCH append vs merge_unique", file=sys.stderr)
                return 1
        # deferred-expiry invariance: the manifest loop must screen
        # exactly like the per-batch-expired ttl loop
        if "ttl" in results and "ttl_manifest" in results:
            if results["ttl"]["spans"] != results["ttl_manifest"]["spans"]:
                print("# SPAN MISMATCH ttl vs ttl_manifest", file=sys.stderr)
                return 1
        print(
            json.dumps(
                {
                    "metric": "stream_kgram_growth",
                    "batches": n_batches,
                    "ttl": ttl,
                    "policies": results,
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
