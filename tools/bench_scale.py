"""Scale-point validation for the three LSH pipelines (docs/SCALE.md §LSH).

Synthesizes an Nx corpus from sf0.1 by unioning perturbed copies (new doc
ids; per-copy token/offset so shingles, fingerprints, and bucket signs
differ — realistic growth, not N identical clones) and times each pipeline
at 1x and Nx. A bucketed pipeline should scale roughly linearly in rows +
candidate pairs; quadratic blowup would mean the blocking is broken.

Usage:
    python tools/bench_scale.py [sf_dir] [copies] [family ...]

With no family args every family runs; naming families (substring match
against result keys: minhash, simhash, sim_lsh, derived, storm, incr,
dup_spans, affinity, budget, semantic, gapfill, funnel, maintenance, pagerank, triangles, rebuild_delays, ivf_assign) runs just
those —
the 64x stretch points re-run only the heaviest pipelines.

Prints one JSON line:
    {"metric": "lsh_scale_check", "copies": N,
     "pipelines": {name: {"t1": s, "tN": s, "ratio": r, "rows1": _, "rowsN": _}},
     "max_ratio": worst}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: A row count past every assignment knee: passed as ``n_rows`` it makes
#: the engine pick the arrow forms, which is how the A/B arms force them.
_ARROW_ROWS = 10**12


def _union_copies(df: DataFrame, id_col: str, n: int, perturb) -> DataFrame:
    out = None
    for i in range(n):
        c = df.withColumn(id_col, F.col(id_col) + F.lit(i * 10_000_000))
        c = perturb(c, i)
        out = c if out is None else out.unionByName(c)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    families = [a.lower() for a in sys.argv[3:]]

    def want(key: str) -> bool:
        return not families or any(f in key.lower() for f in families)

    from transit_efficiency_analysis_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from transit_efficiency_analysis_spark.operators.similarity import lsh_topk
    from transit_efficiency_analysis_spark.session import get_spark
    from transit_efficiency_analysis_spark.sources.registry import load_table

    spark = get_spark("bench_scale")
    spark.range(1).count()

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").cache()
    embs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").cache()
    docs.count(), embs.count()

    def perturb_text(df: DataFrame, i: int) -> DataFrame:
        # per-copy vocabulary remap: prefix every word with the copy id.
        # Copy i's shingle space is isomorphic to the original corpus
        # (identical within-copy similarity structure) and disjoint from
        # every other copy's — Nx data => ~Nx output pairs, the clean
        # "corpus grew" experiment. (Tail-marker copies instead make every
        # doc a near-dup of its clones => ~N^2 x pairs; gap-interleaved
        # markers create corpus-wide shared shingles that collapse all
        # minhash buckets => all-pairs blowup. Both tested, both wrong.)
        return df.withColumn(
            "text", F.regexp_replace(F.col("text"), r"(\S+)", f"c{i}$1")
        )

    def perturb_vec(df: DataFrame, i: int) -> DataFrame:
        # constant offset rotates each vector a little: bucket signs differ
        return df.withColumn(
            "embedding",
            F.transform("embedding", lambda x: x + F.lit(0.003 * i)),
        )

    # 1x baseline goes through the same perturbation (copy 0) so both scale
    # points run byte-comparable text shapes
    docs_1 = _union_copies(docs, "doc_id", 1, perturb_text)
    embs_1 = _union_copies(embs, "vec_id", 1, perturb_vec)
    docs_n = _union_copies(docs, "doc_id", copies, perturb_text)
    embs_n = _union_copies(embs, "vec_id", copies, perturb_vec)

    from transit_efficiency_analysis_spark.operators.affinity import (
        domain_affinity_scores,
    )
    from transit_efficiency_analysis_spark.operators.budget import running_total
    from transit_efficiency_analysis_spark.operators.spans import duplicated_spans

    def _token_budget(d: DataFrame) -> DataFrame:
        w = F.split(F.col("text"), " ")
        scored = d.select(
            "doc_id",
            F.size(w).cast("long").alias("n_tokens"),
            (F.size(F.array_distinct(w)) / F.size(w)).alias("quality"),
        )
        budget = scored.agg(
            (F.sum("n_tokens") / F.lit(4)).cast("long").alias("budget")
        )
        return (
            running_total(
                scored,
                order_by=[F.col("quality").desc(), F.col("doc_id").asc()],
                weight="n_tokens",
                cum_col="cum_tokens",
                n_buckets=32,
                bucket_by=-F.col("quality"),
            )
            .join(F.broadcast(budget))
            .where(F.col("cum_tokens") <= F.col("budget"))
        )

    pipelines = {
        "minhash_lsh": lambda d: minhash_lsh_pairs(d, "doc_id", "text", threshold=0.5),
        "simhash": lambda d: simhash_pairs(d, "doc_id", "text", max_hamming=6),
        # exact-substring dedup at k-gram granularity: the vocabulary
        # remap keeps copies' k-gram spaces disjoint, so Nx corpus =>
        # ~Nx duplicated spans (within-copy structure isomorphic).
        "dup_spans": lambda d: duplicated_spans(d, k=5),
        # domain affinity: the bucket-ratio table is bounded at 64 rows
        # whatever the corpus — time must track the bigram explode.
        # Target = copy-0 docs (prefix marker from the vocab remap).
        "domain_affinity": lambda d: domain_affinity_scores(
            d, F.col("text").startswith("c0"), n_buckets=64
        ),
        # token-budget selection: distributed prefix sum; output rows
        # track the budget fraction of the corpus (~25% of docs).
        "token_budget": lambda d: _token_budget(d),
    }
    results = {}
    for name, fn in pipelines.items():
        if not want(name):
            continue
        t0 = time.time(); r1 = fn(docs_1).count(); t1 = time.time() - t0
        t0 = time.time(); rn = fn(docs_n).count(); tn = time.time() - t0
        results[name] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
        }
        print(f"# {name}: 1x {t1:.1f}s ({r1} pairs) -> {copies}x {tn:.1f}s "
              f"({rn} pairs), ratio {tn/t1:.1f}", file=sys.stderr)

    if want("sim_lsh_topk"):
        # Fixed planes=8 — the demo/oracle mode. Bucket occupancy grows
        # linearly with the corpus at constant 2^8 buckets, so candidate
        # volume grows QUADRATICALLY: this mode is expected to hit the
        # cliff at large N (measured: 147x cost at 64x data, r9) — it is
        # kept here as the measured evidence for why the scale path
        # derives planes from corpus size. Name your family filter
        # "sim_lsh_topk_derived" to run only the scale mode at big N.
        t0 = time.time(); r1 = lsh_topk(embs_1).count(); t1 = time.time() - t0
        t0 = time.time(); rn = lsh_topk(embs_n).count(); tn = time.time() - t0
        results["sim_lsh_topk"] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
        }
        print(f"# sim_lsh_topk: 1x {t1:.1f}s ({r1} rows) -> {copies}x {tn:.1f}s "
              f"({rn} rows), ratio {tn/t1:.1f}", file=sys.stderr)

    if want("semantic_dedup"):
        # SemDeDup at scale: with FIXED n_centroids the within-cell
        # pairing grows quadratically in cell size (the same cliff as
        # fixed-plane LSH); the documented scale mode derives cell count
        # from corpus size (n_centroids ~ n / target_cell_size) to hold
        # cell occupancy constant. Measure the scaled mode.
        from transit_efficiency_analysis_spark.operators.similarity import (
            semantic_dedup,
        )

        n1, nn = embs_1.count(), embs_n.count()

        def _sem(d: DataFrame, n: int) -> DataFrame:
            return semantic_dedup(
                d, "vec_id", "embedding",
                n_centroids=max(8, n // 64), lloyd_rounds=1, threshold=0.3,
            ).where(~F.col("kept"))

        t0 = time.time(); r1 = _sem(embs_1, n1).count(); t1 = time.time() - t0
        t0 = time.time(); rn = _sem(embs_n, nn).count(); tn = time.time() - t0
        results["semantic_dedup_scaled"] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
        }
        print(f"# semantic_dedup_scaled: 1x {t1:.1f}s ({r1} dups) -> "
              f"{copies}x {tn:.1f}s ({rn} dups), ratio {tn/t1:.1f}",
              file=sys.stderr)

    if want("semantic_arrow"):
        # The arrow twin on the SAME derived-K workload as
        # semantic_dedup_scaled, forced with a past-knee n_rows: the flat
        # form's measured ~5.6 16x ratio is O(n x K) assignment COMPUTE
        # (K ~ n/64) — the arrow assignment replaces the interpreted fold
        # dots with one numpy loop per batch in the final AND the
        # Lloyd-round assignment.
        from transit_efficiency_analysis_spark.operators.similarity import (
            semantic_dedup,
        )

        n1, nn = embs_1.count(), embs_n.count()

        def _sem_a(d: DataFrame, n: int) -> DataFrame:
            return semantic_dedup(
                d, "vec_id", "embedding",
                n_centroids=max(8, n // 64), lloyd_rounds=1, threshold=0.3,
                n_rows=_ARROW_ROWS,
            ).where(~F.col("kept"))

        t0 = time.time(); r1 = _sem_a(embs_1, n1).count(); t1 = time.time() - t0
        t0 = time.time(); rn = _sem_a(embs_n, nn).count(); tn = time.time() - t0
        results["semantic_dedup_scaled_arrow"] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
        }
        print(f"# semantic_dedup_scaled_arrow: 1x {t1:.1f}s ({r1} dups) -> "
              f"{copies}x {tn:.1f}s ({rn} dups), ratio {tn/t1:.1f}",
              file=sys.stderr)

    if want("semantic_auto"):
        # The engine's own pick on the SAME derived-K workload, passing
        # the catalog stat the way a deployment with statistics would: at
        # 1x (2000 x 31 cells = 62k dots) the knee must pick the fold, at
        # 16x (32000 x 500 = 16M dots — exactly the proven-win threshold)
        # the arrow twin — ONE series showing the resolver picking each
        # scale's measured optimum.
        # Identical results either way (bit-equal branches); compare
        # walls against semantic_dedup_scaled (fold) and
        # semantic_dedup_scaled_arrow (arrow) at each point.
        from transit_efficiency_analysis_spark.operators.similarity import (
            _resolve_assign,
            semantic_dedup,
        )

        n1, nn = embs_1.count(), embs_n.count()

        def _sem_auto(d: DataFrame, n: int) -> DataFrame:
            return semantic_dedup(
                d, "vec_id", "embedding",
                n_centroids=max(8, n // 64), lloyd_rounds=1, threshold=0.3,
                n_rows=n,
            ).where(~F.col("kept"))

        m1 = _resolve_assign(n1, max(8, n1 // 64))
        mn = _resolve_assign(nn, max(8, nn // 64))
        t0 = time.time(); r1 = _sem_auto(embs_1, n1).count(); t1 = time.time() - t0
        t0 = time.time(); rn = _sem_auto(embs_n, nn).count(); tn = time.time() - t0
        results["semantic_dedup_auto"] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
            "mode1": m1, "modeN": mn,
        }
        print(f"# semantic_dedup_auto: 1x {t1:.1f}s ({r1} dups, {m1}) -> "
              f"{copies}x {tn:.1f}s ({rn} dups, {mn}), ratio {tn/t1:.1f}",
              file=sys.stderr)

    if want("semantic_hier"):
        # Two-level assignment escape (r9 verdict #4): same derived cell
        # count as semantic_dedup_scaled, but vectors score C + K/C
        # centroids (C ~ sqrt(K)) instead of all K — the flat mode's 16x
        # ratio was dominated by the O(n x K) assignment join.
        import math as _math

        from transit_efficiency_analysis_spark.operators.similarity import (
            semantic_dedup_hier,
        )

        n1, nn = embs_1.count(), embs_n.count()

        def _semh(d: DataFrame, n: int) -> DataFrame:
            k = max(8, n // 64)
            return semantic_dedup_hier(
                d, "vec_id", "embedding",
                n_centroids=k,
                coarse_cells=max(2, int(_math.isqrt(k))),
                threshold=0.3,
            ).where(~F.col("kept"))

        t0 = time.time(); r1 = _semh(embs_1, n1).count(); t1 = time.time() - t0
        t0 = time.time(); rn = _semh(embs_n, nn).count(); tn = time.time() - t0
        results["semantic_hier_scaled"] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
        }
        print(f"# semantic_hier_scaled: 1x {t1:.1f}s ({r1} dups) -> "
              f"{copies}x {tn:.1f}s ({rn} dups), ratio {tn/t1:.1f}",
              file=sys.stderr)

    if want("semantic_hier_arrow"):
        # A/B for the hier twins: same derived workload as
        # semantic_hier_scaled, arrow forced with a past-knee n_rows
        # (coarse _arrow_assign + per-group _arrow_fine_assign). The two-level
        # dot envelope is only C + K/C per row, so the interpreted-
        # compute share the twin removes is much smaller than the flat
        # form's — expect a modest edge at best (compare against
        # semantic_hier_scaled at the same copies).
        import math as _math

        from transit_efficiency_analysis_spark.operators.similarity import (
            semantic_dedup_hier,
        )

        n1, nn = embs_1.count(), embs_n.count()

        def _semha(d: DataFrame, n: int) -> DataFrame:
            k = max(8, n // 64)
            return semantic_dedup_hier(
                d, "vec_id", "embedding",
                n_centroids=k,
                coarse_cells=max(2, int(_math.isqrt(k))),
                threshold=0.3, n_rows=_ARROW_ROWS,
            ).where(~F.col("kept"))

        t0 = time.time(); r1 = _semha(embs_1, n1).count(); t1 = time.time() - t0
        t0 = time.time(); rn = _semha(embs_n, nn).count(); tn = time.time() - t0
        results["semantic_hier_arrow"] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
        }
        print(f"# semantic_hier_arrow: 1x {t1:.1f}s ({r1} dups) -> "
              f"{copies}x {tn:.1f}s ({rn} dups), ratio {tn/t1:.1f}",
              file=sys.stderr)

    if want("semantic_hier_auto"):
        # the hier resolver end-to-end: footer-free corpus stat (the
        # battery knows n exactly) -> the knee picks fold at 1x (22k
        # envelope dots) and arrow at 16x (1.4M — the measured hier
        # knee, _AUTO_ARROW_MIN_NK_HIER). Identical outputs either way.
        import math as _math

        from transit_efficiency_analysis_spark.operators.similarity import (
            _AUTO_ARROW_MIN_NK_HIER,
            _resolve_assign,
            semantic_dedup_hier,
        )

        n1, nn = embs_1.count(), embs_n.count()

        def _semh_auto(d: DataFrame, n: int) -> DataFrame:
            k = max(8, n // 64)
            return semantic_dedup_hier(
                d, "vec_id", "embedding",
                n_centroids=k,
                coarse_cells=max(2, int(_math.isqrt(k))),
                threshold=0.3, n_rows=n,
            ).where(~F.col("kept"))

        def _mode(n: int) -> str:
            k = max(8, n // 64)
            c = max(2, int(_math.isqrt(k)))
            return _resolve_assign(
                n, c + max(1, k // c), min_nk=_AUTO_ARROW_MIN_NK_HIER
            )

        t0 = time.time(); r1 = _semh_auto(embs_1, n1).count(); t1 = time.time() - t0
        t0 = time.time(); rn = _semh_auto(embs_n, nn).count(); tn = time.time() - t0
        results["semantic_hier_auto"] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
            "mode1": _mode(n1), "modeN": _mode(nn),
        }
        print(f"# semantic_hier_auto: 1x {t1:.1f}s ({r1} dups, {_mode(n1)}) "
              f"-> {copies}x {tn:.1f}s ({rn} dups, {_mode(nn)}), "
              f"ratio {tn/t1:.1f}", file=sys.stderr)

    if want("lsh_bucket_ab"):
        # A/B for the int64-matmul LSH bucket twin: BUCKET
        # ASSIGNMENT ONLY (the per-plane interpreted long folds vs one
        # exact matmul per batch), derived plane count, checksum-
        # compared arms (sum(bucket) identical = bit-equal ids).
        from transit_efficiency_analysis_spark.operators.similarity import (
            _arrow_lsh_base,
            derive_planes,
            lsh_bucket_expr,
            quantize_vec,
        )

        n1, nn = embs_1.count(), embs_n.count()

        def _bk_expr(d: DataFrame, n: int) -> DataFrame:
            pl = derive_planes(n, 64)
            return d.select(
                "vec_id", quantize_vec(F.col("embedding")).alias("__q")
            ).select(
                "vec_id", lsh_bucket_expr(F.col("__q"), pl, 64).alias("bucket")
            )

        def _bk_arrow(d: DataFrame, n: int) -> DataFrame:
            pl = derive_planes(n, 64)
            return _arrow_lsh_base(d, "vec_id", "embedding", pl, 64).select(
                "vec_id", "bucket"
            )

        # the SHIPPED path — the engine picking on the row×plane knee
        # from n_rows, through the bucket-only twin (emit_vectors=False:
        # no vectors cross the Arrow boundary)
        from transit_efficiency_analysis_spark.operators.similarity import (
            lsh_bucket_assignments,
        )

        def _bk_auto(d: DataFrame, n: int) -> DataFrame:
            return lsh_bucket_assignments(
                d, planes=None, dims=64, target_bucket_size=64, n_rows=n
            )

        for mode, fn in (
            ("expr", _bk_expr),
            ("arrow", _bk_arrow),
            ("auto", _bk_auto),
        ):
            t0 = time.time()
            a1 = fn(embs_1, n1).agg(F.sum("bucket"), F.count("*")).collect()[0]
            t1 = time.time() - t0
            t0 = time.time()
            an = fn(embs_n, nn).agg(F.sum("bucket"), F.count("*")).collect()[0]
            tn = time.time() - t0
            results[f"lsh_bucket_{mode}"] = {
                "t1": round(t1, 2), "tN": round(tn, 2),
                "ratio": round(tn / t1, 2),
                "rows1": a1[1], "rowsN": an[1],
                "sum1": a1[0], "sumN": an[0],
            }
            print(f"# lsh_bucket_{mode}: 1x {t1:.1f}s ({a1[1]} rows) -> "
                  f"{copies}x {tn:.1f}s ({an[1]} rows), ratio {tn/t1:.1f}",
                  file=sys.stderr)

    if want("sim_lsh_topk_derived"):
        # The 100 TB mode: planes derived from corpus size
        # (target_bucket_size=64 -> planes = ceil(log2(n/64))), holding
        # per-bucket candidate work ~constant as the corpus grows.
        t0 = time.time()
        r1 = lsh_topk(embs_1, planes=None, target_bucket_size=64).count()
        t1 = time.time() - t0
        t0 = time.time()
        rn = lsh_topk(embs_n, planes=None, target_bucket_size=64).count()
        tn = time.time() - t0
        results["sim_lsh_topk_derived"] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
        }
        print(f"# sim_lsh_topk_derived: 1x {t1:.1f}s ({r1} rows) -> "
              f"{copies}x {tn:.1f}s ({rn} rows), ratio {tn/t1:.1f}",
              file=sys.stderr)

    # Derived-planes check: with target_bucket_size driving the plane
    # count, mean bucket occupancy must stay ~constant across the 10x
    # growth (a fixed plane count would let it grow 10x — the quadratic
    # candidate cliff).
    from transit_efficiency_analysis_spark.operators.similarity import (
        lsh_bucket_assignments,
    )

    if want("derived_planes"):
        target = 64
        occ = {}
        for tag, e in (("1x", embs_1), ("Nx", embs_n)):
            asg = lsh_bucket_assignments(e, planes=None, target_bucket_size=target)
            row = asg.groupBy("bucket").count().agg(
                F.avg("count").alias("mean"), F.count(F.lit(1)).alias("buckets")
            ).first()
            occ[tag] = {"mean_bucket": round(row["mean"], 1), "buckets": row["buckets"]}
        results["derived_planes_occupancy"] = {"target": target, **occ}
        print(f"# derived_planes: target {target} -> mean bucket "
              f"1x {occ['1x']['mean_bucket']} vs {copies}x {occ['Nx']['mean_bucket']}",
              file=sys.stderr)

    # Round-17 s-curve series (VERDICT r16 #7): rows_per_band r=1 vs
    # r=2 on the SAME corpus/bands/threshold. r=2 requires BOTH of a
    # band's families to agree before a pair becomes a candidate —
    # collision probability s^r per band — slashing low-similarity
    # candidate mass BEFORE the |candidates| exact-Jaccard verify join.
    # Recorded per arm: wall time, verified pair count, and the actual
    # pair SET so the arms' agreement above threshold is a measured
    # fact, not theory (near-dup corpora sit far above s=0.5, where
    # 1-(1-s^r)^b keeps recall ~1; threshold-boundary pairs are where
    # r=2 may trade recall — any difference prints).
    if want("minhash_scurve"):
        sc_sets: dict[int, set] = {}
        for r in (1, 2):
            t0 = time.time()
            got = minhash_lsh_pairs(
                docs_n, "doc_id", "text", threshold=0.5, rows_per_band=r
            ).collect()
            tr = time.time() - t0
            sc_sets[r] = {(row.doc_a, row.doc_b) for row in got}
            results[f"minhash_scurve_r{r}"] = {
                "t": round(tr, 2), "pairs": len(sc_sets[r]),
            }
            print(f"# minhash_scurve_r{r}: {copies}x {tr:.1f}s "
                  f"({len(sc_sets[r])} pairs)", file=sys.stderr)
            # drop the reuse persist between arms so r=2 cannot reuse
            # r=1's cached shingle relation (same canonicalized plan)
            # — then RE-WARM the module-level docs/embs caches, which
            # clearCache also dropped: without the re-warm, arm r=2
            # (and every series after this one) re-reads parquet cold,
            # biasing the A/B and inflating later families (review r17)
            spark.catalog.clearCache()
            docs.cache().count()
            embs.cache().count()
        only1, only2 = sc_sets[1] - sc_sets[2], sc_sets[2] - sc_sets[1]
        results["minhash_scurve_agreement"] = {
            "common": len(sc_sets[1] & sc_sets[2]),
            "only_r1": len(only1), "only_r2": len(only2),
        }
        print(f"# minhash_scurve agreement: {len(sc_sets[1] & sc_sets[2])} "
              f"common, {len(only1)} only-r1, {len(only2)} only-r2",
              file=sys.stderr)

    # Round-18 (VERDICT r17 #5): the shipped decision tool for the r
    # knob — minhash_recall_sweep runs all arms in ONE call (shared
    # shingle persist, one full-outer join per arm) and reports the
    # recall ledger. Measured here so its cost relative to the two
    # separate scurve arms above is a recorded fact: the sweep should
    # land near the SUM of its arms minus the shared shingle work.
    if want("minhash_recall_sweep"):
        from transit_efficiency_analysis_spark.operators.dedup import (
            minhash_recall_sweep,
        )

        t0 = time.time()
        ledger = {
            int(row["rows_per_band"]): row.asDict()
            for row in minhash_recall_sweep(
                docs_n, "doc_id", "text", threshold=0.5, rs=(1, 2)
            ).collect()
        }
        tr = time.time() - t0
        results["minhash_recall_sweep"] = {
            "t": round(tr, 2),
            "r1_pairs": ledger[1]["n_pairs"],
            "r2_pairs": ledger[2]["n_pairs"],
            "r2_only_r1": ledger[2]["n_only_r1"],
            "r2_min_jaccard_lost": ledger[2]["min_jaccard_lost"],
        }
        print(f"# minhash_recall_sweep: {copies}x {tr:.1f}s — r1 "
              f"{ledger[1]['n_pairs']} pairs, r2 {ledger[2]['n_pairs']} "
              f"(lost {ledger[2]['n_only_r1']}, min sim lost "
              f"{ledger[2]['min_jaccard_lost']})", file=sys.stderr)
        spark.catalog.clearCache()
        docs.cache().count()
        embs.cache().count()

    # Boilerplate-storm scenario: a shared marker shingle in EVERY doc
    # collapses a large corpus fraction into one minhash bucket per band
    # (the gap-interleaved-marker failure that went disk-full uncapped —
    # docs/SCALE.md). With the bucket cap on, the candidate join is
    # bounded at cap^2 per band bucket and the pipeline must complete.
    if want("minhash_storm_capped"):
        storm = docs_n.withColumn(
            "text", F.concat(F.col("text"), F.lit(" zq zq zq zq"))
        )
        t0 = time.time()
        rs = minhash_lsh_pairs(
            storm, "doc_id", "text", threshold=0.5, max_bucket_size=50
        ).count()
        ts = time.time() - t0
        results["minhash_storm_capped"] = {"t": round(ts, 2), "pairs": rs, "cap": 50}
        print(f"# minhash_storm_capped: {copies}x storm corpus {ts:.1f}s ({rs} pairs, "
              f"cap=50; uncapped = all-pairs blowup)", file=sys.stderr)

    # Incremental near-dup (round-8 ask): the SCALE.md claim "per-batch
    # cost ∝ batch — the corpus is never self-paired" measured directly,
    # varying batch size and corpus size SEPARATELY. Batch copies reuse
    # the corpus copies' vocabularies (batch copy i near-dups only with
    # corpus copy i) on a disjoint doc-id space, so:
    #   * batch-growth @ fixed Nx corpus: output pairs grow with the
    #     batch; time ratio ≲ batch ratio (the fixed corpus-side
    #     signature cost amortizes).
    #   * corpus-growth @ fixed 1x batch: output pairs stay CONSTANT
    #     (no corpus self-pairing); time grows only with the corpus-side
    #     signature recompute — a maintained table in production, paid
    #     here because the demo rebuilds it from raw text.
    from transit_efficiency_analysis_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        simhash_pairs_incremental,
    )

    def _batch_docs(n: int) -> DataFrame:
        b = _union_copies(docs, "doc_id", n, perturb_text)
        return b.withColumn("doc_id", F.col("doc_id") + F.lit(500_000_000))

    bgrow = min(copies, 4)
    inc_ops = {
        "minhash_incr": lambda c, b: minhash_lsh_pairs_incremental(
            c, b, "doc_id", "text", threshold=0.5, max_bucket_size=50
        ),
        "simhash_incr": lambda c, b: simhash_pairs_incremental(
            c, b, "doc_id", "text", max_hamming=6
        ),
    }
    for name, fn in inc_ops.items():
        if not want(name):
            continue
        # batch-growth: corpus fixed at Nx, batch 1 copy vs `bgrow` copies
        t0 = time.time(); r1 = fn(docs_n, _batch_docs(1)).count(); t1 = time.time() - t0
        t0 = time.time(); rn = fn(docs_n, _batch_docs(bgrow)).count(); tn = time.time() - t0
        results[f"{name}_batchgrow"] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
            "batch_copies": bgrow, "corpus_copies": copies,
        }
        print(f"# {name} batch-growth @ {copies}x corpus: batch 1x {t1:.1f}s "
              f"({r1} pairs) -> {bgrow}x {tn:.1f}s ({rn} pairs), "
              f"ratio {tn/t1:.1f}", file=sys.stderr)
        # corpus-growth: batch fixed at 1 copy, corpus 1x vs Nx
        t0 = time.time(); r1 = fn(docs_1, _batch_docs(1)).count(); t1 = time.time() - t0
        t0 = time.time(); rn = fn(docs_n, _batch_docs(1)).count(); tn = time.time() - t0
        results[f"{name}_corpusgrow"] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
            "batch_copies": 1, "corpus_copies": copies,
        }
        print(f"# {name} corpus-growth @ 1x batch: corpus 1x {t1:.1f}s "
              f"({r1} pairs) -> {copies}x {tn:.1f}s ({rn} pairs), "
              f"ratio {tn/t1:.1f} (pairs must stay constant)", file=sys.stderr)

    # Event-keyed families (round-5): Nx disjoint-user copies — rows AND
    # key count grow Nx, the clean "tenant base grew" experiment.
    from transit_efficiency_analysis_spark.demo.analytics import (
        events_funnel,
        incremental_maintenance,
    )
    from transit_efficiency_analysis_spark.demo.windowed import gapfill_ffill

    ev = load_table(spark, sf_dir, "events").cache()
    ev.count()
    ident = lambda df, i: df
    ev_1 = _union_copies(ev, "user_id", 1, ident)
    ev_n = _union_copies(ev, "user_id", copies, ident)
    for name, fn in (
        ("gapfill_ffill", gapfill_ffill),
        ("events_funnel", events_funnel),
        ("incr_maintenance", incremental_maintenance),
    ):
        if not want(name):
            continue
        t0 = time.time(); r1 = fn(ev_1).count(); t1 = time.time() - t0
        t0 = time.time(); rn = fn(ev_n).count(); tn = time.time() - t0
        results[name] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
        }
        print(f"# {name}: 1x {t1:.1f}s ({r1} rows) -> {copies}x {tn:.1f}s "
              f"({rn} rows), ratio {tn/t1:.1f}", file=sys.stderr)

    # PageRank: Nx disjoint copies of the trade graph (offset node ids)
    from transit_efficiency_analysis_spark.operators.graph import pagerank_ppm

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    supp = (F.lit(1_000_000_000) + F.col("s")).cast("long")
    edges = pairs.select(F.col("c").alias("src"), supp.alias("dst")).unionByName(
        pairs.select(supp.alias("src"), F.col("c").alias("dst"))
    ).cache()
    if want("pagerank"):
        edges.count()

    def _edge_copies(n: int) -> DataFrame:
        out = None
        for i in range(n):
            off = F.lit(i * 100_000_000_000)
            c = edges.select(
                (F.col("src") + off).alias("src"), (F.col("dst") + off).alias("dst")
            )
            out = c if out is None else out.unionByName(c)
        return out

    for tag, n in (("1", 1), ("N", copies)) if want("pagerank") else ():
        t0 = time.time()
        rows = pagerank_ppm(_edge_copies(n), n_iters=2, persist=False).count()
        dt = time.time() - t0
        if tag == "1":
            pr1, prr1 = dt, rows
        else:
            results["pagerank_2iter"] = {
                "t1": round(pr1, 2), "tN": round(dt, 2),
                "ratio": round(dt / pr1, 2), "rows1": prr1, "rowsN": rows,
            }
            print(f"# pagerank_2iter: 1x {pr1:.1f}s ({prr1} nodes) -> {copies}x "
                  f"{dt:.1f}s ({rows} nodes), ratio {dt/pr1:.1f}", file=sys.stderr)

    # Triangle counting: Nx disjoint copies of the co-supply graph.
    # Rows, edges, and triangles all grow Nx; degree-ordered wedge
    # closure should track it ~linearly (disjoint components never
    # produce cross-copy wedges).
    from transit_efficiency_analysis_spark.operators.graph import triangle_counts

    ls = li.distinct()
    a, b = ls.alias("a"), ls.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 6)  # the demo's scale-invariant floor at sf0.1
        .select("src", "dst")
        .cache()
    )
    if want("triangles"):
        co.count()

    def _tri_copies(n: int) -> DataFrame:
        out = None
        for i in range(n):
            off = F.lit(i * 100_000_000_000)
            c = co.select(
                (F.col("src") + off).alias("src"), (F.col("dst") + off).alias("dst")
            )
            out = c if out is None else out.unionByName(c)
        return out

    for tag, n in (("1", 1), ("N", copies)) if want("triangles") else ():
        t0 = time.time()
        rows = triangle_counts(_tri_copies(n)).count()
        dt = time.time() - t0
        if tag == "1":
            tr1, trr1 = dt, rows
        else:
            results["triangles"] = {
                "t1": round(tr1, 2), "tN": round(dt, 2),
                "ratio": round(dt / tr1, 2), "rows1": trr1, "rowsN": rows,
            }
            print(f"# triangles: 1x {tr1:.1f}s ({trr1} nodes) -> {copies}x "
                  f"{dt:.1f}s ({rows} nodes), ratio {dt/tr1:.1f}", file=sys.stderr)

    # Flagship compute_delays (VERDICT r9 #7 / r10 #6): Nx disjoint-trip
    # copies of BOTH join sides (prefixing trip_id keeps copies' key
    # spaces disjoint — Nx inputs => Nx matched rows, the clean "feed
    # history grew" experiment). Two layouts:
    #   * shuffle join (plain views): both sides exchange on the
    #     composite key per query — must scale ~linearly;
    #   * bucketed layout at Nx: both sides pre-bucketed AND pre-sorted
    #     on the FULL composite key, with tu.stop_id normalized to long
    #     at write (the reference keeps it string and casts inside the
    #     join condition; a storage layout designed for the join
    #     normalizes the type once so the join keys are plain columns
    #     and the cast folds away). With the full key bucketed the
    #     4-key SortMergeJoin needs no exchange AND no per-task sort
    #     under default confs (count_shuffles == 0 — asserted). A
    #     trip_id-only bucket layout also reaches 0 exchanges but only
    #     under spark.sql.requireAllClusterKeysForCoPartition=false
    #     (subset co-partitioning), and still pays the 4-key sort —
    #     measured slower than the full-key layout; the full-key form
    #     is the one docs/SCALE.md records. The layout write is
    #     reported separately (it amortizes over every later query);
    #     the join wall-clock is what a rebuild costs.
    if want("rebuild_delays"):
        import shutil

        from transit_efficiency_analysis_spark.operators.delay import (
            compute_delays,
        )
        from transit_efficiency_analysis_spark.operators.testdata_adapter import (
            gtfs_data_view,
            trip_updates_view,
        )
        from transit_efficiency_analysis_spark.plans import count_shuffles

        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        gd0 = gtfs_data_view(orders, lineitem).cache()
        tu0 = trip_updates_view(orders, lineitem).cache()
        gd0.count(), tu0.count()

        def _trip_copies(df: DataFrame, n: int) -> DataFrame:
            out = None
            for i in range(n):
                c = df.withColumn(
                    "trip_id", F.concat(F.lit(f"c{i}_"), F.col("trip_id"))
                )
                out = c if out is None else out.unionByName(c)
            return out

        t0 = time.time()
        r1 = compute_delays(
            _trip_copies(tu0, 1), _trip_copies(gd0, 1), sort=False
        ).count()
        t1 = time.time() - t0
        t0 = time.time()
        rn = compute_delays(
            _trip_copies(tu0, copies), _trip_copies(gd0, copies), sort=False
        ).count()
        tn = time.time() - t0
        results["rebuild_delays"] = {
            "t1": round(t1, 2), "tN": round(tn, 2),
            "ratio": round(tn / t1, 2), "rows1": r1, "rowsN": rn,
        }
        print(f"# rebuild_delays: 1x {t1:.1f}s ({r1} rows) -> {copies}x "
              f"{tn:.1f}s ({rn} rows), ratio {tn/t1:.1f}", file=sys.stderr)

        spark.sql("CREATE DATABASE IF NOT EXISTS scale_bench")
        for t in ("tu_b", "gd_b"):
            spark.sql(f"DROP TABLE IF EXISTS scale_bench.{t}")
        shutil.rmtree("/tmp/teas_warehouse/scale_bench.db", ignore_errors=True)
        keys = ["trip_id", "start_date", "stop_sequence", "stop_id"]
        t0 = time.time()
        (
            _trip_copies(tu0, copies)
            .withColumn("stop_id", F.col("stop_id").cast("long"))
            .write.mode("overwrite")
            .bucketBy(32, *keys).sortBy(*keys)
            .saveAsTable("scale_bench.tu_b")
        )
        (
            _trip_copies(gd0, copies).write.mode("overwrite")
            .bucketBy(32, *keys).sortBy(*keys)
            .saveAsTable("scale_bench.gd_b")
        )
        t_layout = time.time() - t0
        joined_b = compute_delays(
            spark.table("scale_bench.tu_b"),
            spark.table("scale_bench.gd_b"),
            sort=False,
        )
        n_shuf = count_shuffles(joined_b)
        t0 = time.time()
        rb = joined_b.count()
        tb = time.time() - t0
        if n_shuf != 0:
            print(f"# rebuild_delays_bucketed: expected 0 shuffles, got "
                  f"{n_shuf}", file=sys.stderr)
            return 1
        results["rebuild_delays_bucketed"] = {
            "tN": round(tb, 2), "layout_s": round(t_layout, 2),
            "shuffles": n_shuf, "rowsN": rb,
            "speedup_vs_shuffle": round(tn / tb, 2) if tb > 0 else None,
        }
        print(f"# rebuild_delays_bucketed @ {copies}x: join {tb:.1f}s "
              f"({rb} rows, {n_shuf} shuffles; layout write {t_layout:.1f}s, "
              f"pay-once) vs shuffle-join {tn:.1f}s", file=sys.stderr)
        if rb != rn:
            print(f"# rebuild_delays_bucketed ROW MISMATCH: {rb} != {rn}",
                  file=sys.stderr)
            return 1

    if want("ivf_assign"):
        # ivf_topk / ivf_pq_topk assignment A/B: the engine's pick from
        # the footer stat ("auto") vs the arrow and fold forms, forced
        # through n_rows (a past-knee count / none), at Nx rows and
        # K=500 coarse cells. Each
        # (op, mode) cell runs in its OWN SUBPROCESS, so an arm that
        # OOMs the bench heap (a hard JVM death that takes the py4j
        # gateway with it, unrecoverable in-process) is recorded as a
        # result row and the battery and its session are untouched.
        # The cell's Nx synthesis mirrors _union_copies + perturb_vec
        # (keep in sync).
        import subprocess

        cell_src = """
import json, sys, time
sys.path.insert(0, sys.argv[5])
from pyspark.sql import functions as F
from transit_efficiency_analysis_spark.session import get_spark
from transit_efficiency_analysis_spark.sources.registry import (
    load_table, parquet_rows)
from transit_efficiency_analysis_spark.operators.similarity import (
    _AUTO_ARROW_MIN_NMK_PQ, _resolve_assign, ivf_topk, ivf_pq_topk)
op_name, mode, sfd, n = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
spark = get_spark("bench_ivf_cell")
e = load_table(spark, sfd, "embeddings").select("vec_id", "embedding")
out = None
for i in range(n):
    c = e.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
    c = c.withColumn(
        "embedding", F.transform("embedding", lambda x: x + F.lit(0.003 * i)))
    out = c if out is None else out.unionByName(c)
op = ivf_topk if op_name == "ivf_topk" else ivf_pq_topk
# n_rows is the only input that moves the form: the auto arm threads
# the FREE catalog stat end-to-end the way the canonical parquet path
# does (footer row count x copies, no corpus scan) and records what the
# knee picked, so the battery row shows the resolver picking each
# scale's winner; the arrow arm passes a count past every knee, the
# fold arm none
n_rows = {"auto": parquet_rows(sfd, "embeddings") * n,
          "arrow": 10**12, "fold": None}[mode]
spark.range(1).count()
t0 = time.time()
r = op(out, n_centroids=500, n_probe=2, k=3, n_rows=n_rows).count()
row = {"t": round(time.time() - t0, 2), "rows": r}
if mode == "auto":
    # ivf_pq_topk picks on its own knee (default m=4, ks=16)
    row["resolved"] = (
        _resolve_assign(n_rows, 500) if op is ivf_topk
        else _resolve_assign(n_rows, 4 * 16, min_nk=_AUTO_ARROW_MIN_NMK_PQ)
    )
print("CELL " + json.dumps(row))
"""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

        def _cell(op_name: str, mode: str) -> dict:
            try:
                proc = subprocess.run(
                    [sys.executable, "-c", cell_src,
                     op_name, mode, sf_dir, str(copies), repo],
                    capture_output=True, text=True, timeout=1200,
                )
            except subprocess.TimeoutExpired:
                # a GC-thrashing arm that never dies hard must not take
                # the whole battery's results with it — the timeout is a
                # result row like the OOM
                return {"t": None, "rows": None, "error": "timeout=1200s"}
            for line in proc.stdout.splitlines():
                if line.startswith("CELL "):
                    return json.loads(line[5:])
            tail = (proc.stderr or "").strip().splitlines()
            return {"t": None, "rows": None,
                    "error": f"exit={proc.returncode} "
                             f"{tail[-1][:120] if tail else ''}"}

        def _fmt(cell) -> str:
            if cell.get("t") is not None:
                res = cell.get("resolved")
                tag = f"->{res}" if res else ""
                return f"{cell['t']}s{tag} ({cell['rows']} rows)"
            return f"FAILED[{cell.get('error')}]"

        # SPARK_GRAFT_IVF_MODES=auto,fold trims arms
        _sel = os.environ.get("SPARK_GRAFT_IVF_MODES")
        _arms = tuple(_sel.split(",")) if _sel else ("auto", "arrow", "fold")
        modes = {
            "ivf_topk": _arms,
            "ivf_pq_topk": _arms,
        }
        for op_name, mlist in modes.items():
            ab = {m: _cell(op_name, m) for m in mlist}
            results[f"{op_name}_assign_ab"] = ab
            print(f"# {op_name} @ {copies}x K=500: "
                  + " vs ".join(f"{m} {_fmt(ab[m])}" for m in mlist),
                  file=sys.stderr)


    ratios = [v["ratio"] for v in results.values() if "ratio" in v]
    worst = max(ratios) if ratios else 0.0
    print(json.dumps({
        "metric": "lsh_scale_check", "copies": copies,
        "pipelines": results, "max_ratio": worst,
    }))
    # sub-quadratic bar: 10x data must cost far less than 100x time
    return 0 if worst < copies * 3 else 1


if __name__ == "__main__":
    raise SystemExit(main())
