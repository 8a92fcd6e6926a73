"""Parity oracles: the Catalyst (explode / window / groupBy) forms of
operators whose production form is one vectorized Arrow stage. Only
tests call them; each pins the package's integers to a plain-SQL
definition."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from photohive_spark.dedup import (MERSENNE, NUM_PERM, SIMHASH_BITS, _A, _B,
                                   _word_gram_rows, poly_hash_expr,
                                   word_shingles)


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
        hashed = word_shingles(docs, text_col, id_col, k, distinct=False) \
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
