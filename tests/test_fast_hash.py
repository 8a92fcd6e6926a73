"""r7 parity pins: the vectorized numpy hash kernels (fast_hash.py,
mapInArrow) produce the SAME integers as the original interpreted
higher-order-function forms, for the corpus AND adversarial edge cases.
These are the invariants that keep every DuckDB oracle hash-identical
after the optimization round."""

import datetime as dt

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from oracles import (minhash_signatures_expr, repetition_stats_expr,
                     simhash_expr, word_shingles_window)
from photohive_spark import dedup


EDGE_DOCS = [
    ("e0", "the quick brown fox jumps over it", "s"),
    ("e1", "", "s"),
    ("e2", "   ", "s"),
    ("e3", "one", "s"),
    ("e4", "two words", "s"),
    ("e5", "unicode café über straße done", "s"),
    ("e6", "dup dup dup dup dup", "s"),
    ("e7", " leading and trailing ", "s"),
    ("e8", None, "s"),
    ("e9", "a b", "s"),
    ("e10", "short " + "x" * 33 + " tail", "s"),
    ("e11", "y" * 70 + " mid " + "z" * 70, "s"),
]


def _edge_df(spark):
    return spark.createDataFrame(
        EDGE_DOCS, "doc_id string, text string, source string")


def test_simhash_arrow_matches_expr(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "source")
    fast = dedup.simhash(docs).orderBy("doc_id").collect()
    slow = simhash_expr(docs).orderBy("doc_id").collect()
    assert fast == slow and len(fast) > 0


def test_simhash_arrow_edge_cases(spark):
    docs = _edge_df(spark)
    fast = dedup.simhash(docs).orderBy("doc_id").collect()
    slow = simhash_expr(docs).orderBy("doc_id").collect()
    assert fast == slow
    # empty/null docs are dropped in both forms
    ids = {r.doc_id for r in fast}
    assert "e1" not in ids and "e2" not in ids and "e8" not in ids


def test_minhash_sig_arrow_matches_expr(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "source")
    fast = dedup.minhash_signatures(docs, k=3).orderBy("doc_id").collect()
    slow = minhash_signatures_expr(docs, k=3).orderBy("doc_id").collect()
    assert len(fast) == len(slow) > 0
    for a, b in zip(fast, slow):
        assert a.doc_id == b.doc_id and list(a.sig) == list(b.sig)


def test_minhash_sig_arrow_edge_cases(spark):
    docs = _edge_df(spark)
    for k in (1, 2, 3, 5):
        fast = dedup.minhash_signatures(docs, k=k).orderBy("doc_id").collect()
        slow = minhash_signatures_expr(docs, k=k) \
            .orderBy("doc_id").collect()
        assert len(fast) == len(slow) == len(EDGE_DOCS)
        for a, b in zip(fast, slow):
            assert a.doc_id == b.doc_id and list(a.sig) == list(b.sig), k


def test_minhash_sig_plan_has_no_shuffle(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "source")
    plan = dedup.minhash_signatures(docs, k=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "Exchange" not in plan


def test_word_shingles_arrow_matches_window_form(spark, sf_dir):
    """The vectorized distinct-shingle builder == the window+distinct
    form, as a row SET, on the corpus and on edge docs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "source")
    for frame in (docs, _edge_df(spark)):
        for k in (1, 3):
            fast = dedup.word_shingles(frame, k=k)
            # non-distinct window form + global distinct
            slow = word_shingles_window(frame, k=k).distinct()
            assert fast.exceptAll(slow).count() == 0, k
            assert slow.exceptAll(fast).count() == 0, k


def test_word_shingle_arrays_matches_row_form(spark, sf_dir):
    """Per-doc shingle ARRAYS == the row-form shingle sets, doc by doc."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "source") \
        .limit(200)
    for frame in (docs, _edge_df(spark)):
        arr = {r.doc_id: (sorted(r.shingles), r.n_sh)
               for r in dedup.word_shingle_arrays(frame, k=3).collect()}
        rows = {}
        for r in dedup.word_shingles(frame, k=3).collect():
            rows.setdefault(r.doc_id, []).append(r.shingle)
        assert set(arr) == set(rows)
        for d in rows:
            assert arr[d][0] == sorted(rows[d]), d
            assert arr[d][1] == len(rows[d]), d


def test_repetition_arrow_one_word_batches(spark):
    """A single Arrow batch whose docs all have fewer than two words has
    no bigrams; repetition_arrow used to index an empty bigram array and
    fail the task. One-word-only and mixed batches, each coalesced into
    one batch, must match the explode+groupBy parity form."""
    from photohive_spark import text

    one_word = [("o0", "one"), ("o1", "two"), ("o2", "three"),
                ("o3", "  four  "), ("o4", ""), ("o5", None)]
    mixed = one_word + [("m0", "a b a b"), ("m1", "solo"),
                        ("m2", "x y z x y")]
    for rows in (one_word, mixed):
        src = spark.createDataFrame(rows, "doc_id string, text string") \
            .coalesce(1)
        fast = text.repetition_stats(src, id_col="doc_id")
        ref = repetition_stats_expr(src, id_col="doc_id")
        got = sorted(map(tuple, fast.collect()))
        assert got == sorted(map(tuple, ref.collect()))
    assert [r[0] for r in got] == ["m0", "m2"]


def test_xxh64_flat_matches_spark_xxhash64(spark):
    """The numpy XXH64 == F.xxhash64 (seed 42) on random words of 0-90
    bytes, which cover the 1-byte, 4-byte, 8-byte and 32-byte-stripe
    branches, and on non-ASCII words (hashed as their UTF-8 bytes)."""
    from photohive_spark.fast_hash import _string_buffers, xxh64_flat
    rng = np.random.default_rng(5)
    alpha = list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789")
    words = ["".join(rng.choice(alpha, n)) for n in rng.integers(1, 91, 600)]
    words += ["a" * n for n in range(0, 70)]
    words += ["café", "über", "straße", "日本語のテキスト", "ü" * 20, "é" * 33]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    want = [r.h for r in df.select(F.xxhash64("w").alias("h")).collect()]
    data, starts, lens = _string_buffers(pa.array(words))
    assert xxh64_flat(data, starts, lens).tolist() == want


@pytest.mark.parametrize("k", [1, 3, 5])
def test_minhash_fast_arrow_matches_catalyst(spark, sf_dir, k):
    """hash_fn="fast" signatures from the Arrow stage == the Catalyst
    posexplode + window + groupBy form, on the corpus and edge docs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "source")
    for frame in (_edge_df(spark), docs):
        fast = dedup.minhash_signatures(frame, k=k, hash_fn="fast") \
            .orderBy("doc_id").collect()
        slow = minhash_signatures_expr(frame, k=k, hash_fn="fast") \
            .orderBy("doc_id").collect()
        assert len(fast) == len(slow) > 0
        for a, b in zip(fast, slow):
            assert a.doc_id == b.doc_id and list(a.sig) == list(b.sig), k


def test_simhash_fast_arrow_matches_catalyst(spark, sf_dir):
    """hash_fn="fast" simhash from the Arrow stage == the explode +
    groupBy form; docs with no words are dropped by both."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "source")
    for frame in (_edge_df(spark), docs):
        fast = dedup.simhash(frame, hash_fn="fast").orderBy("doc_id").collect()
        slow = simhash_expr(frame, hash_fn="fast").orderBy("doc_id").collect()
        assert fast == slow and len(fast) > 0
    ids = {r.doc_id for r in dedup.simhash(_edge_df(spark), hash_fn="fast")
           .collect()}
    assert not ids & {"e1", "e2", "e8"}
