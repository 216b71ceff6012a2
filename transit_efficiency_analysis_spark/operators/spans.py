"""Cross-document duplicated-span detection and removal.

Exact-substring deduplication at word-k-gram granularity — the
"Deduplicating Training Data Makes Language Models Better" (Lee et al.,
ACL 2022) ExactSubstr operator re-expressed for Spark. The paper builds a
single-machine suffix array; a suffix array is not a distributed-friendly
structure, so the Spark-first formulation works at k-gram granularity:

1. explode each document into its word k-grams with start positions
   (pure JVM: ``split`` + higher-order ``transform``/``slice``);
2. one map-side-combinable ``groupBy(kgram)`` finds k-grams that occur in
   **two or more distinct documents** (within-doc repetition is a
   different signal — see ``q_text_repetition``) and the canonical
   (minimum) doc_id per k-gram;
3. join the occurrence relation back on the k-gram — the shuffle carries
   (doc_id, pos, kgram-hash)-sized rows, never document text;
4. per-document gaps-and-islands window merges overlapping k-gram hits
   ``[pos, pos+k-1]`` into maximal duplicated spans (partitioned by
   doc_id — no global sort).

A duplicated run of L >= k tokens shared by two documents produces
L-k+1 overlapping duplicated k-grams that merge back into one span of
exactly L tokens, so span boundaries are exact for runs >= k; runs
shorter than k are invisible (the paper's min-match-length knob, its
suffix-array threshold of 50 tokens plays the same role).

Scale notes (100 TB): the only wide exchanges are the k-gram groupBy
(partial aggregation first, so the shuffle carries one row per distinct
k-gram per map partition) and the occurrence join keyed on the k-gram.
Both shuffle fingerprint-sized rows. The span-merge window shuffles by
doc_id once. Nothing here is ever quadratic in corpus size: cost is
linear in total k-gram occurrences, i.e. linear in corpus tokens.

Not present in the reference repo (BASELINE.json north star): this is
part of the LLM-training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.functions.text import word_shingles, words


def kgram_occurrences(docs: DataFrame, k: int, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """(id, pos, kgram) — every word-k-gram start position per document.

    ``pos`` is the 0-based token index of the k-gram's first token.
    Documents shorter than ``k`` tokens contribute no rows.

    ``kgram`` is the 64-bit xxhash of the k-gram text, not the string:
    every downstream consumer groups or joins on the k-gram but only
    ever OUTPUTS positions/counts, so the heaviest exchanges carry
    8-byte keys instead of ~k·word-length strings (3-10x shuffle-volume
    reduction, measured ~40% cold / ~8% warm at sf0.1). A hash collision
    would fabricate a duplicate pair; at 64 bits that needs ~2^32
    distinct k-grams to reach even-odds — the same negligible-collision
    budget as the SimHash 64-bit fingerprints (docs/SCALE.md). The
    repo-wide md5 convention is about ORACLE-reproducible derived
    values; these keys never appear in any output.
    """
    # single-small-file inputs otherwise run the interpreted shingling
    # lambda on one core (round 18 — measured 2.65 s → 0.41 s for this
    # stage at sf0.1/local[32]; no-op for streaming micro-batches and
    # for any input with splits ≥ cores)
    from transit_efficiency_analysis_spark.operators.parallel import (
        ensure_min_parallelism,
    )

    docs = ensure_min_parallelism(docs)
    return docs.select(
        F.col(id_col),
        F.posexplode(word_shingles(words(text_col), k)).alias("pos", "_kg"),
    ).select(id_col, "pos", F.xxhash64("_kg").alias("kgram"))


def duplicated_kgrams(occ: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(kgram, canonical_id) for k-grams seen in >= 2 distinct docs.

    One groupBy over the occurrence relation; partial aggregation makes
    the shuffle carry per-map-partition distinct k-grams only. The
    ">= 2 distinct documents" test is ``min(id) != max(id)`` — exact for
    the threshold 2 and a single-phase aggregate, where
    ``count_distinct(id) >= 2`` would expand into a second
    (kgram, id)-keyed exchange just to count ids we don't need.

    Use this form when the duplicated-kgram SET is the product (the
    incremental/streaming screens ship it across a batch boundary). The
    in-corpus consumers (:func:`duplicated_spans`,
    :func:`remove_duplicated_spans`, :func:`novelty_scores`) use
    :func:`_flag_occurrences` instead — joining this relation back to
    the occurrences it came from re-scans and re-shuffles the corpus;
    the window form pays ONE kgram exchange total (r11, measured ~2x at
    sf0.1).
    """
    return (
        occ.groupBy("kgram")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.max(id_col).alias("_max_id"),
        )
        .where(F.col("canonical_id") != F.col("_max_id"))
        .drop("_max_id")
    )


def _flag_occurrences(occ: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The occurrence relation with per-kgram ``canonical_id`` (min doc)
    and ``is_dup`` (seen in >= 2 distinct docs) attached IN PLACE.

    One exchange on the kgram — a ``min/max`` window over each kgram's
    (tiny) occurrence group — where the groupBy-then-join-back form
    costs two wide stages: the partial-agg shuffle of ~distinct k-grams
    PLUS a second scan/explode of the corpus shuffled into the join
    (and, if the dup set broadcasts, a driver-side collect that grows
    with the corpus — exactly what must not happen at 100 TB). Same
    single-phase ``min != max`` distinct-docs test as
    :func:`duplicated_kgrams`.
    """
    w = Window.partitionBy("kgram")
    return (
        occ.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_dup", F.col("canonical_id") != F.max(id_col).over(w))
    )


def _merge_islands(hits: DataFrame, k: int, id_col: str) -> DataFrame:
    """Merge k-token intervals starting at ``pos`` into maximal spans.

    Classic gaps-and-islands: a hit opens a new island when its start
    exceeds the running max end of all earlier hits in the same document.
    """
    end = (F.col("pos") + F.lit(k - 1)).alias("end")
    h = hits.select(id_col, "pos", end)
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islanded = h.withColumn(
        "island",
        F.sum(
            F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1)
            .otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islanded.groupBy(id_col, "island").agg(
        F.min("pos").cast("long").alias("span_start"),
        F.max("end").cast("long").alias("span_end"),
        (F.max("end") - F.min("pos") + 1).cast("long").alias("span_tokens"),
        F.count(F.lit(1)).alias("n_dup_starts"),
    )


def duplicated_spans(docs: DataFrame, k: int = 5, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Maximal cross-document duplicated spans per document.

    Returns (id, span_start, span_end, span_tokens, n_dup_starts), one
    row per maximal run of tokens covered by k-grams that also occur in
    at least one other document. ``n_dup_starts`` counts the duplicated
    k-gram start positions merged into the span (L-k+1 for a clean run
    of L tokens).
    """
    occ = kgram_occurrences(docs, k, text_col, id_col)
    hits = (
        _flag_occurrences(occ, id_col)
        .where(F.col("is_dup"))
        .select(id_col, "pos")
    )
    return _merge_islands(hits, k, id_col).drop("island")


def remove_duplicated_spans(docs: DataFrame, k: int = 5,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Rewrite each document with non-canonical duplicated spans removed.

    Keep-first semantics at document granularity: for every duplicated
    k-gram, the minimum doc_id containing it is canonical and keeps its
    text; every other document drops the tokens covered by that k-gram's
    occurrences. The rewrite explodes each non-canonical duplicated
    start into its k covered positions (bounded: k x duplicated starts,
    linear in corpus tokens) and anti-joins the token relation on
    (id, position) — no range join.

    Returns (id, n_tokens, n_removed, text_clean); documents whose every
    token is covered come back with ``text_clean = ''``.
    """
    occ = kgram_occurrences(docs, k, text_col, id_col)
    covered = (
        _flag_occurrences(occ, id_col)
        .where(F.col("is_dup") & (F.col(id_col) != F.col("canonical_id")))
        .select(
            F.col(id_col).alias("_cid"),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("_cp"),
        )
        .distinct()
    )
    toks = docs.select(
        id_col, F.posexplode(words(text_col)).alias("pos", "t")
    )
    kept = toks.join(
        covered,
        (F.col(id_col) == F.col("_cid")) & (F.col("pos") == F.col("_cp")),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "t"))),
                lambda s: s["t"],
            ),
            " ",
        ).alias("text_clean"),
    )
    base = docs.select(
        id_col, F.size(words(text_col)).cast("long").alias("n_tokens")
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
    )


def duplicated_spans_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicated spans of an incoming BATCH against a standing corpus.

    A batch position is duplicated when its k-gram occurs anywhere in the
    corpus OR in >= 2 distinct batch documents. That criterion is exactly
    the full :func:`duplicated_spans` criterion over corpus ∪ batch,
    restricted to batch documents ("some other document has it" =
    "the corpus has it, or another batch doc has it") — the equality is
    property-tested, so dedup-at-ingest maintains the same invariant as
    a full recompute without ever re-pairing the corpus with itself.

    Per-batch cost: the batch-side k-gram explode is ∝ batch; the
    membership join shuffles on the k-gram. In production the corpus
    side is a MAINTAINED distinct-k-gram table (append the accepted
    batch's k-grams per tick) — this demo form recomputes it from the
    corpus documents, which is the one corpus-proportional scan a real
    deployment doesn't pay. Same maintenance shape as
    ``minhash_lsh_pairs_incremental`` (operators/dedup.py).
    """
    corpus_kgrams = kgram_occurrences(corpus, k, text_col, id_col).select(
        "kgram"
    )
    return spans_against_kgram_set(batch, corpus_kgrams, k, text_col, id_col)


def spans_against_kgram_set(
    batch: DataFrame,
    kgram_set: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch spans against an explicit corpus k-gram relation.

    The MAINTAINED-TABLE form of :func:`duplicated_spans_incremental`:
    ``kgram_set`` is any relation with a ``kgram`` column (64-bit xxhash
    of the k-gram text, the :func:`kgram_occurrences` convention) — in
    production the standing table a streaming ingest appends each
    accepted batch's k-grams to. Duplicate rows in the set are tolerated
    (it is de-duplicated before the membership join; at scale keep the
    table unique with MERGE instead and drop the distinct).

    The within-batch half uses :func:`_flag_occurrences` (round 12, the
    deferred r11 item): the batch occurrences exchange ONCE on the
    kgram for the min/max window, and the corpus-membership LEFT join
    reuses that same hash partitioning — only the (distinct) standing
    set shuffles in. The pre-r12 form paid the batch-side exchange
    TWICE per micro-batch (a ``duplicated_kgrams`` groupBy AND the
    membership join over the union-ed dup set) — the shape that matters
    at sustained ingest. Plan-pinned in tests/test_spans_budget.py:
    exactly one batch-side kgram exchange.
    """
    flagged = _flag_occurrences(
        kgram_occurrences(batch, k, text_col, id_col), id_col
    )
    member = kgram_set.select("kgram").distinct().withColumn(
        "_in_corpus", F.lit(True)
    )
    hits = (
        flagged.join(member, "kgram", "left")
        .where(F.col("is_dup") | F.col("_in_corpus").isNotNull())
        .select(id_col, "pos")
    )
    return _merge_islands(hits, k, id_col).drop("island")


def novelty_scores(docs: DataFrame, k: int = 5, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document novelty: share of its k-grams unseen in any other doc.

    (id, n_kgrams, n_dup, novelty) for documents with >= k tokens;
    novelty = 1 - n_dup / n_kgrams. The de-prioritization signal that
    ranks documents for the removal pass — computed from the same k-gram
    frequency relation as :func:`duplicated_spans`, one extra groupBy.
    """
    occ = kgram_occurrences(docs, k, text_col, id_col)
    flagged = _flag_occurrences(occ, id_col)
    n_dup = F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kgrams"),
        n_dup.alias("n_dup"),
        (1.0 - n_dup / F.count(F.lit(1))).alias("novelty"),
    )


# --- standing k-gram table maintenance (streaming dedup-at-ingest) ----------
#
# The q_stream_dup_screen demo appends each batch's DISTINCT k-grams to the
# standing table, which still accumulates one row per (batch, kgram) for
# k-grams re-seen across batches — unbounded growth proportional to ingested
# batches, not to distinct k-grams. The two retention rules docs/SCALE.md
# prescribes, as composable operators (measured by
# tools/bench_stream_kgram.py; growth rows in docs/SCALE.md):


def new_kgrams_for_append(
    batch: DataFrame, standing: DataFrame, k: int = 5,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """MERGE-unique append set: the batch's distinct k-grams NOT already
    in the standing table (one anti-join on the 8-byte kgram key).
    Appending exactly this relation per batch keeps the standing table
    unique without ever rewriting it — growth is bounded by the corpus's
    DISTINCT k-gram count, not by batches ingested. At scale bucket the
    standing table by ``kgram`` so both the membership join and this
    anti-join are shuffle-free on the standing side."""
    return (
        kgram_occurrences(batch, k, text_col, id_col)
        .select("kgram")
        .distinct()
        .join(standing.select("kgram"), "kgram", "left_anti")
    )


def kgram_table_ttl(standing: DataFrame, current_batch: int, ttl: int) -> DataFrame:
    """Bounded-horizon retention: keep k-grams last seen within ``ttl``
    batches of ``current_batch``. Requires a ``last_seen`` column —
    maintain it by MERGE-ing ``(kgram, last_seen=batch_id)`` per batch
    (``operators.upsert.merge_into_sql`` with ``keys=['kgram']``,
    ``order_by=['last_seen']`` is the pure-Parquet runtime; at scale
    use ``merge_into_partitioned`` for O(batch) maintenance with this
    filter applied at READ time and physical expiry deferred to
    ``operators.upsert.filter_partitioned`` compactions — measured
    semantics-identical in tools/bench_stream_kgram.py's
    ``ttl_manifest`` policy; Delta MERGE where available). Dropping
    a k-gram narrows dedup semantics to "duplicated against the last
    ``ttl`` batches" — a retention POLICY for horizon-bounded ingest
    (news feeds, logs), not an optimization of the exact rule. Run the
    physical expiry as an occasional compaction (O(table) rewrite),
    not per batch."""
    if ttl < 0:
        raise ValueError(f"kgram_table_ttl: ttl must be >= 0, got {ttl}")
    return standing.where(F.col("last_seen") >= F.lit(current_batch - ttl))
