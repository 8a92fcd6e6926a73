"""Parity oracles: the Catalyst (explode / window / groupBy / HOF) and
pure-Python forms of operators whose production form is one vectorized
Arrow stage. Only tests call them; each pins the package's values to a
plain-SQL or plain-Python definition."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from photohive_spark.config import VOCAB_SIZE
from photohive_spark.dedup import (MERSENNE, NUM_PERM, SIMHASH_BITS, _A, _B,
                                   _word_gram_rows, poly_hash_expr)
from photohive_spark.tokenize import SPARK_TOKENS_EXPR, TOKEN_MULT, TOKEN_SEED


def word_token(word: str) -> int:
    """The engine's token hash of one word, in pure Python."""
    acc = TOKEN_SEED
    for ch in word:
        acc = (acc * TOKEN_MULT + ord(ch)) % VOCAB_SIZE
    return acc


def tokenize_text(text: str) -> np.ndarray:
    """Pure-Python tokenization of one document."""
    return np.array([word_token(w) for w in text.split(" ") if w],
                    dtype=np.int32)


def tokens_table_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenize.tokens_table with the token hash as SPARK_TOKENS_EXPR
    (interpreted per-character HOFs) instead of the numpy Arrow stage."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        df.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.expr(SPARK_TOKENS_EXPR).alias("tokens"),
            F.col("source"),
            (F.to_timestamp(F.lit("2026-01-01 00:00:00"))
             + F.make_interval(secs=F.col("doc_id") * 37)).alias("event_ts"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
        .select("doc_id", "tokens", "n_tok", "source", "event_ts")
    )


def repetition_stats_expr(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """text.repetition_stats as explode(bigrams) -> groupBy(doc, bigram)
    count -> groupBy(doc) max/sum. Docs with fewer than two words have no
    bigram, so the explode drops them (as the DuckDB oracle does)."""
    words = f"filter(split({text_col}, ' '), w -> length(w) > 0)"
    bigrams = (f"case when size({words}) < 2 then array() "
               f"else transform(sequence(1, size({words}) - 1), "
               f"i -> concat(element_at({words}, i), ' ', "
               f"element_at({words}, i + 1))) end")
    base = docs.select(
        F.col(id_col),
        F.size(F.expr(words)).alias("n_words"),
        F.size(F.expr(f"array_distinct({words})")).alias("n_distinct"),
        F.explode(F.expr(bigrams)).alias("bg"))
    counts = (base.groupBy(id_col, "n_words", "n_distinct", "bg")
              .agg(F.count("*").alias("cnt")))
    top = (counts.groupBy(id_col, "n_words", "n_distinct")
           .agg(F.max("cnt").alias("top_bg"), F.sum("cnt").alias("n_bg")))
    return top.select(
        id_col, "n_words",
        F.round(F.col("top_bg") / F.col("n_bg"), 6).alias("top_bigram_frac"),
        F.round(1.0 - F.col("n_distinct") / F.col("n_words"), 6)
         .alias("dup_word_frac"))


def word_shingles_window(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(doc_id, shingle) word k-grams of dedup.word_shingles, NOT distinct
    per doc: posexplode the words, assemble each k-gram with window
    lead()s + concat_ws (which skips the null leads of a short doc,
    giving its single all-words shingle; an empty doc's all-null row
    becomes the "" shingle)."""
    rows = _word_gram_rows(docs, text_col, id_col, k)
    win = Window.partitionBy(id_col).orderBy("_pos")
    parts = [F.col("_w")] + [F.lead("_w", j).over(win) for j in range(1, k)]
    return (rows.withColumn("shingle", F.concat_ws(" ", *parts))
            .where("_keep").select(id_col, "shingle"))


def fast_shingle_hashes(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(doc_id, h) hashed word-k-gram shingles of ``hash_fn="fast"``:
    posexplode the words, pmod(xxhash64(word), 2^31-1) each, and combine
    the k word hashes with window lead()s as (acc*31 + h) mod 2^31-1.

    Not distinct per doc (MinHash's min() is multiset-invariant). Short
    docs (< k words) give one shingle combining all words, and an empty
    or null doc one constant hash, xxhash64(null) = its seed 42."""
    rows = _word_gram_rows(docs, text_col, id_col, k).withColumn(
        "_h", F.pmod(F.xxhash64("_w"), F.lit(MERSENNE)))
    win = Window.partitionBy(id_col).orderBy("_pos")
    comb = F.col("_h")
    for j in range(1, k):
        hj = F.lead("_h", j).over(win)
        comb = F.when(hj.isNotNull(),
                      F.pmod(comb * 31 + hj, F.lit(MERSENNE))).otherwise(comb)
    return (rows.withColumn("h", F.coalesce(comb, F.lit(0)))
            .where("_keep").select(id_col, "h"))


def minhash_signatures_expr(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 3,
                            num_perm: int = NUM_PERM,
                            hash_fn: str = "poly") -> DataFrame:
    """dedup.minhash_signatures as explode + groupBy(doc) with num_perm
    min() aggregates: "poly" hashes the shingle strings with the
    interpreted per-character HOF, "fast" uses fast_shingle_hashes."""
    if hash_fn == "fast":
        hashed = fast_shingle_hashes(docs, text_col, id_col, k)
    else:
        hashed = word_shingles_window(docs, text_col, id_col, k) \
            .withColumn("h", F.expr(poly_hash_expr("shingle")))
    mins = [F.min((F.lit(_A[j]) * F.col("h") + F.lit(_B[j])) % F.lit(MERSENNE))
            .alias(f"m{j}") for j in range(num_perm)]
    agg = hashed.groupBy(id_col).agg(*mins)
    return agg.select(F.col(id_col),
                      F.array(*[f"m{j}" for j in range(num_perm)]).alias("sig"))


def simhash_expr(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", bits: int = SIMHASH_BITS,
                 hash_fn: str = "poly") -> DataFrame:
    """dedup.simhash as explode words -> groupBy(doc) with ``bits`` sum()
    aggregates -> bit-assemble projection. Word hashes: "poly" = the
    interpreted per-character poly hash, "fast" = the lower ``bits`` of
    xxhash64. Docs with no words emit no row."""
    words = docs.select(
        F.col(id_col),
        F.explode(F.expr(f"filter(split({text_col}, ' '), w -> length(w) > 0)"))
         .alias("w"))
    if hash_fn == "fast":
        h = F.xxhash64("w").bitwiseAND(F.lit((1 << bits) - 1))
    else:
        h = F.expr(poly_hash_expr("w"))
    sums = words.withColumn("h", h).groupBy(id_col).agg(*[
        F.sum(((F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))) * 2 - 1))
        .alias(f"s{b}") for b in range(bits)])
    return sums.select(
        F.col(id_col),
        sum((F.when(F.col(f"s{b}") > 0, F.lit(1)).otherwise(F.lit(0))
             .cast("bigint") * F.lit(1 << b)) for b in range(bits))
        .alias("simhash"))
