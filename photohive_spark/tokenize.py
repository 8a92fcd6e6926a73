"""Deterministic tokenizer: documents(text) -> tokens table.

Produces the BASELINE input_hint schema
``(doc_id string, tokens array<int32>, n_tok int32, source string,
event_ts timestamp)`` from the driver's ``documents.parquet``.

The token function is a polynomial rolling hash over character codes —
``acc0=7; acc=(acc*31 + ascii(c)) % VOCAB_SIZE`` — chosen because it is
expressible with *built-in higher-order functions* in BOTH Spark SQL and
DuckDB (the correctness oracle), and in numpy for kernel-side goldens.
The engine runs the numpy form (``fast_hash``) in one shuffle-free Arrow
stage (``tokens_from_documents``); the scan in front of it still prunes to
(doc_id, text, source) with predicate pushdown intact, and everything
around the hash (casts, ``event_ts``, ``n_tok``) stays Catalyst.

Reference analog: the ingest normalization boundary
(``utils.py:30-46`` pil->numpy/255; ``src/image_processing.c:122-173``
read_image) — raw modality -> fixed numeric arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from .config import VOCAB_SIZE

TOKEN_SEED = 7
TOKEN_MULT = 31

# Spark SQL expression for tokens (identical semantics to DUCKDB_TOKENS_SQL
# and the pure-Python word_token in tests/oracles.py — parity is pinned by
# tests/test_tokenize.py).
SPARK_TOKENS_EXPR = f"""
transform(
  filter(split(text, ' '), w -> length(w) > 0),
  w -> cast(aggregate(transform(sequence(1, length(w)), i -> ascii(substr(w, i, 1))),
                      {TOKEN_SEED}, (a, b) -> (a * {TOKEN_MULT} + b) % {VOCAB_SIZE}) as int)
)
"""

# DuckDB equivalent (used by oracle_sql strings).
DUCKDB_TOKENS_SQL = f"""
list_transform(
  list_filter(string_split(text, ' '), w -> len(w) > 0),
  w -> cast(list_reduce(
         list_prepend({TOKEN_SEED},
                      list_transform(range(1, len(w)+1), i -> ascii(substr(w, i, 1)))),
         (a, b) -> (a * {TOKEN_MULT} + b) % {VOCAB_SIZE}) as int)
)
"""


def tokens_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet -> input_hint-shaped tokens DataFrame.

    ``event_ts`` is deterministic (epoch 2026-01-01 + doc_id*37s) so
    point-in-time tests are reproducible.

    The token hash itself runs as a vectorized numpy kernel inside ONE
    ``mapInArrow`` stage (photohive_spark.fast_hash) — bit-identical
    integers to SPARK_TOKENS_EXPR (parity pinned by tests/test_tokenize
    against the HOF form in tests/oracles.py),
    ~100x faster than the interpreted higher-order-function form (Spark
    HOF lambdas are CodegenFallback; optimization guide §4.2). The scan
    reads only (doc_id, text, source); everything around the hash
    (event_ts, n_tok, casts) stays Catalyst."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tokens_from_documents(df)


def tokens_from_documents(df: DataFrame) -> DataFrame:
    """Tokenize any (doc_id, text, source) documents DataFrame into the
    input_hint shape (see tokens_table)."""
    from .arrow_stage import arrow_stage
    from .skew import rebalance_small_scan

    def tok(batch):
        from .fast_hash import tokenize_arrow_batch
        return None, {"tokens": tokenize_arrow_batch(batch.column("text"))}

    src = rebalance_small_scan(df.select("doc_id", "text", "source"))
    mapped = arrow_stage(src, "tokens array<int>", tok,
                         carry=("doc_id", "source"))
    return (
        mapped.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("tokens"),
            F.col("source"),
            (F.to_timestamp(F.lit("2026-01-01 00:00:00"))
             + F.make_interval(secs=F.col("doc_id") * 37)).alias("event_ts"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
        .select("doc_id", "tokens", "n_tok", "source", "event_ts")
    )


def validate_tokens(df: DataFrame, min_tok: int, max_tok: int,
                    check_range: bool = False) -> DataFrame:
    """Row-validity predicate — analog of ``pre_compute_error_checks``
    (reference ``src/utilities.c:64-87``: min size, MAX_NUM_PIXELS cap,
    and read_image's out-of-range value rejection,
    ``src/image_processing.c:122-173``). A plain Catalyst filter.

    ``check_range`` additionally asserts every token is in [0, VOCAB_SIZE)
    — a JVM-side forall, for untrusted upstream tables."""
    out = df.filter((F.col("n_tok") >= min_tok) & (F.col("n_tok") <= max_tok)
                    & F.col("tokens").isNotNull())
    if check_range:
        out = out.filter(F.forall(
            "tokens", lambda t: (t >= 0) & (t < VOCAB_SIZE)))
    return out
