"""Skew handling: salted aggregation + cost-aware row spreading.

North_rule demands explicit skew handling for the long-tail ``n_tok``
distribution (feature-extraction cost is O(n_tok log n_tok), so a handful
of million-token docs can pin one task while thousands of short docs
finish). Two tools:

- ``two_stage_agg``: salted partial+final aggregation for hot groupBy keys
  (the salt lives in its own column — never string-concatenated into the
  key, so keys containing any separator are safe);
- ``rebalance_by_cost``: hash-repartition that spreads heavy rows
  uniformly across partitions before a cost-skewed map stage.

The reference has no multi-item balancing at all (single-image threading
setup, ``src/utilities.c:127-129``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from .config import DEFAULT_CONFIG, EngineConfig


def deterministic_salt(buckets: int, *cols) -> F.Column:
    """Content-derived salt in [0, buckets): ``pmod(xxhash64(cols), n)``.

    Deterministic across runs AND task retries — a salt derived from
    ``monotonically_increasing_id()`` re-rolls whenever the partition
    layout changes (retry, different file split), which silently changes
    per-partition lineage row counts between attempts. Content hashing
    makes the salted partitioning a pure function of the data, so resumed
    /retried jobs reproduce identical partition lineage."""
    return F.pmod(F.xxhash64(*cols), F.lit(buckets))


def two_stage_agg(df: DataFrame, key: str, buckets: int, aggs: dict,
                  salt_cols: list[str] | None = None):
    """Salted two-stage aggregation for additive aggregates.

    ``aggs`` maps output name -> (partial_expr, final_fn) where partial_expr
    is applied in the salted stage and final_fn recombines. Example:
    ``{"cnt": (F.count("*"), F.sum), "total": (F.sum("x"), F.sum)}``.

    The salt is content-derived (``salt_cols``, default: every column), so
    the partial-stage partitioning is reproducible across retries. Two
    caveats: (1) byte-identical duplicate rows share a salt — harmless here
    because groupBy's MAP-SIDE partial aggregation collapses duplicates
    before the shuffle, so reduce-side volume per (key, salt) is bounded by
    the map-task count either way; (2) xxhash64 cannot hash MapType
    columns — pass explicit hashable ``salt_cols`` for such schemas.
    """
    salted = df.withColumn(
        "_salt_bucket",
        deterministic_salt(buckets, *(salt_cols or df.columns)))
    partial = salted.groupBy(key, "_salt_bucket").agg(
        *[expr.alias(f"_p_{name}") for name, (expr, _) in aggs.items()])
    final = (partial
             .groupBy(key)
             .agg(*[fn(F.col(f"_p_{name}")).alias(name)
                    for name, (_, fn) in aggs.items()]))
    return final


def rebalance_by_cost(df: DataFrame, cost_col: str = "n_tok",
                      num_partitions: int | None = None,
                      cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Spread heavy rows across partitions so no task pins on the long tail.

    Hash-repartition on a full-width per-row key (hash of doc_id + cost —
    NOT pre-modded to n values, which would double-hash n balls into n bins
    and leave ~1/e of partitions empty): each doc lands in a pseudo-random
    partition, so the few docs with a long-tail ``cost_col`` spread
    ~uniformly instead of clumping wherever the input file layout put them.
    (A range partition on a cost tier would do the OPPOSITE — sort all
    heavy rows into the same final range.) One shuffle, paid only when the
    caller knows the downstream map is cost-skewed; AQE cannot fix map-side
    cost skew because row counts look balanced.
    """
    n = num_partitions or cfg.shuffle_partitions
    stripe = F.hash(F.col("doc_id"), F.col(cost_col))
    return (df.withColumn("_stripe", stripe)
              .repartition(n, "_stripe")
              .drop("_stripe"))


def rebalance_small_scan(df: DataFrame,
                         min_parallelism: int | None = None) -> DataFrame:
    """Scale-adaptive parallelism floor for SMALL scans (r7).

    A parquet table written as one file/row group scans as ONE task, so
    every downstream narrow stage (tokenize, per-doc hashing, feature
    kernels) serializes on a single core no matter how many the cluster
    has. At real scale (files >> cores) this never happens — the guard
    below makes the fix a provable NO-OP there: only when the scan's
    partition count is below the cluster's default parallelism does it
    insert one repartition of the (small, by construction) input.

    The repartition hashes a full-width deterministic key
    (``xxhash64(first column)`` — doc_id/media_id in every caller, unique
    by construction so the spread is uniform) instead of round-robin:
    keyless ``repartition(n)`` pays a local sort of its input
    (sortBeforeRepartition) to make retries deterministic, while a
    content-derived hash key is retry-deterministic for free (guide
    §2.5). Row order is irrelevant to every consumer (aggregates /
    canonicalized outputs).
    """
    try:
        n = df.rdd.getNumPartitions()
        target = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return df
    if n < target:
        key = F.xxhash64(F.col(df.columns[0]))
        return (df.withColumn("_rb", key)
                  .repartition(target, "_rb")
                  .drop("_rb"))
    return df
