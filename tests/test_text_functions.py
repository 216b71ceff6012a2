"""Unit/parity tests for the text + vector function layer."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.functions.text import (
    simhash32,
    simhash64,
    token_count_bpe_ish,
    token_count_ws,
    word_shingles,
    words,
)
from transit_efficiency_analysis_spark.functions.vectors import as_double, cosine, dot
from transit_efficiency_analysis_spark.operators.dedup import (
    shingles_exploded,
    simhash_fingerprints,
)


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("x y z",)], "text string")
    out = df.select(word_shingles(words("text"), 3).alias("sh")).collect()
    assert out[0]["sh"] == ["a b c", "b c d"]
    assert out[1]["sh"] == []  # shorter than k
    assert out[2]["sh"] == ["x y z"]


def test_shingles_exploded_matches_array_form(spark):
    df = spark.createDataFrame(
        [(1, "a b c d a b c"), (2, "x y"), (3, "p q r")], "doc_id long, text string"
    )
    set_based = {
        (r["doc_id"], r["s"]) for r in shingles_exploded(df, "doc_id", "text", 3).collect()
    }
    array_based = set()
    for r in df.select(
        "doc_id", F.array_distinct(word_shingles(words("text"), 3)).alias("sh")
    ).collect():
        for s in r["sh"]:
            array_based.add((r["doc_id"], s))
    assert set_based == array_based


def _py_simhash32(tokens: list[str]) -> int:
    votes = [0] * 32
    for t in tokens:
        h = hashlib.md5(t.encode()).hexdigest()
        for j in range(32):
            votes[j] += 1 if h[j] >= "8" else -1
    return sum(1 << j for j in range(32) if votes[j] > 0)


def _py_simhash64(tokens: list[str]) -> int:
    """Signed-64 reference, one md5 per token: bit j from the top bit of
    nibble j%32 (j<32) or the second bit (j>=32); bit 63 weighted -2^63
    (two's complement, matches a JVM long)."""
    votes = [0] * 64
    for t in tokens:
        h = hashlib.md5(t.encode()).hexdigest()
        for j in range(64):
            nib = int(h[j % 32], 16)
            hit = (nib & 8) if j < 32 else (nib & 4)
            votes[j] += 1 if hit else -1
    u = sum(1 << j for j in range(64) if votes[j] > 0)
    return u - (1 << 64) if u >= (1 << 63) else u


@pytest.mark.parametrize("text", ["the fast key", "a", "merge sort join merge sort"])
def test_simhash_column_and_operator_match_reference_impl(spark, text):
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    col32 = df.select(simhash32(words("text")).alias("s")).collect()[0]["s"]
    assert col32 == _py_simhash32(text.split(" "))
    expected64 = _py_simhash64(text.split(" "))
    col64 = df.select(simhash64(words("text")).alias("s")).collect()[0]["s"]
    op_val = simhash_fingerprints(df, "doc_id", "text").collect()[0]["simhash"]
    assert col64 == expected64 == op_val


def test_token_counts(spark):
    df = spark.createDataFrame([("hello world, it's 42",)], "text string")
    r = df.select(
        token_count_ws("text").alias("ws"), token_count_bpe_ish("text").alias("bpe")
    ).collect()[0]
    assert r["ws"] == 4
    # hello | world | , | it | ' | s | 42
    assert r["bpe"] == 7


def test_cosine_matches_python(spark):
    a = [0.5, -1.25, 3.0, 0.0]
    b = [1.0, 0.5, -0.5, 2.0]
    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
    got = df.select(cosine(as_double(F.col("a")), as_double(F.col("b"))).alias("c")).collect()[
        0
    ]["c"]
    af = [float(__import__("numpy").float32(x)) for x in a]
    bf = [float(__import__("numpy").float32(x)) for x in b]
    num = sum(x * y for x, y in zip(af, bf))
    den = math.sqrt(sum(x * x for x in af)) * math.sqrt(sum(x * x for x in bf))
    assert got == pytest.approx(num / den, rel=1e-12)


def test_dot_is_left_fold(spark):
    # bit-exactness contract with DuckDB's list_inner_product: strict
    # left-to-right accumulation
    vals = [0.1, 0.2, 0.3, 0.7]
    df = spark.createDataFrame([(vals, [1.0] * 4)], "a array<double>, b array<double>")
    got = df.select(dot(F.col("a"), F.col("b")).alias("d")).collect()[0]["d"]
    acc = 0.0
    for v in vals:
        acc += v * 1.0
    assert got == acc  # exactly, not approx


def test_lsh_bucket_impls_agree(spark, sf_dir):
    from transit_efficiency_analysis_spark.functions.vectors import hyperplane_sign_bucket
    from transit_efficiency_analysis_spark.operators.similarity import lsh_bucket_assignments

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    col_impl = {
        r["vec_id"]: r["b"]
        for r in e.select(
            "vec_id", hyperplane_sign_bucket(F.col("embedding"), 8, 64).alias("b")
        ).collect()
    }
    set_impl = {r["vec_id"]: r["bucket"] for r in lsh_bucket_assignments(e).collect()}
    assert col_impl == set_impl
