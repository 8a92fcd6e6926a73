"""Mergeable frequency sketches over token streams: CountMin.

A CountMin sketch [Cormode & Muthukrishnan 2005, "An improved data
stream summary: the count-min sketch and its applications"] summarizes
item frequencies in a FIXED ``depth x width`` counter table:
``h_d(t) = ((a_d * t + b_d) mod P) mod width`` with one universal-family
hash row per depth, and ``estimate(t) = min_d cnt[d][h_d(t)]``. The
estimate never undercounts, and overcounts by more than ``(e/width) * N``
(N = total items) with probability at most ``e^-depth``.

Why this matters at 100 TB: exact frequencies via ``groupBy(token)``
are fine while the key space is a bounded vocab, but n-grams, URLs, or
hashed feature crosses have UNBOUNDED key spaces — the exact answer is
itself petabyte-shaped. The sketch is a constant-size summary that:

- partial-aggregates perfectly: every map task emits at most
  ``depth x width`` rows regardless of input size, so the one shuffle
  moves ``tasks x depth x width`` tiny rows, never the token stream;
- merges by element-wise addition (``cms_merge``), so per-day / per-split
  sketches combine without re-reading data — the same property that
  makes it streaming-compatible (sum sketches across micro-batches);
- answers point queries from ``depth x width`` numbers on the driver.

Everything is Catalyst built-ins (explode + integer arithmetic +
groupBy): no Python in the hot path, and the hash family is plain
``(a*t + b) mod P mod width`` over int64 so a SQL oracle can recompute
the whole sketch exactly (P = 2^31 - 1 keeps ``a*t`` far inside int64
for 31-bit hash multipliers and token ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

CMS_P = 2_147_483_647          # 2^31 - 1 (Mersenne prime)
CMS_DEPTH = 4
CMS_WIDTH = 256


def cms_hash_params(depth: int = CMS_DEPTH) -> list[tuple[int, int]]:
    """Deterministic universal-family (a_d, b_d) pairs — powers of two
    small primes mod P, so Spark, the SQL oracle, and driver-side python
    all derive the identical family with no shipped state."""
    return [(pow(31, d + 1, CMS_P), pow(37, d + 1, CMS_P))
            for d in range(depth)]


def cms_bucket(token_col: F.Column, a: int, b: int,
               width: int = CMS_WIDTH) -> F.Column:
    """h(t) = ((a*(t mod P) + b) mod P) mod width, all bigint JVM
    arithmetic. ``pmod`` (floor-mod) everywhere: Spark's ``%`` follows
    the dividend's sign, so negative ids (xxhash64 outputs, hashed
    feature crosses) would otherwise land in negative buckets the
    probe side never looks at — a silent undercount. Reducing t mod P
    first also keeps ``a*t`` inside int64 for the full 64-bit id range
    (a < 2^31, t mod P < 2^31 -> product < 2^62)."""
    t = F.pmod(token_col.cast("bigint"), F.lit(CMS_P))
    return F.pmod(F.lit(a) * t + F.lit(b), F.lit(CMS_P)) % F.lit(width)


def _py_bucket(t: int, a: int, b: int, width: int) -> int:
    """Driver-side mirror of cms_bucket (Python % is already floor-mod)."""
    return ((a * (int(t) % CMS_P) + b) % CMS_P) % width


def countmin(df: DataFrame, tokens_col: str = "tokens",
             depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> DataFrame:
    """Token arrays -> sparse CountMin table (d:int, bucket:int,
    cnt:long); absent (d, bucket) cells are zero.

    Plan: explode tokens -> explode the ``depth`` (d, bucket) keys ->
    groupBy(d, bucket).count(). The groupBy key space is at most
    ``depth x width``, so partial aggregation collapses each task to a
    bounded row count before the (tiny) shuffle — the whole token stream
    is consumed map-side.

    On a stream (outputMode 'update' or 'complete') the state stays at
    most ``depth x width`` counter rows with no watermark, and each
    snapshot's counters are CUMULATIVE, equal to the batch sketch over
    every row seen so far. So never cms_merge two snapshots of the SAME
    stream (that double-counts); merge sketches over disjoint row sets
    and, within one stream, take the latest snapshot."""
    tok = df.select(F.explode(tokens_col).alias("t"))
    keys = tok.select(F.explode(F.array(*[
        F.struct(F.lit(d).cast("int").alias("d"),
                 cms_bucket(F.col("t"), a, b, width)
                 .cast("int").alias("bucket"))
        for d, (a, b) in enumerate(cms_hash_params(depth))])).alias("k"))
    return (keys.groupBy(F.col("k.d").alias("d"),
                         F.col("k.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Element-wise sum of CountMin tables — the mergeability that lets
    per-partition / per-day / per-stream sketches combine without
    touching the underlying data. Exact: counters are plain sums."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (out.groupBy("d", "bucket")
            .agg(F.sum("cnt").alias("cnt")))


def cms_estimate(cms: DataFrame, tokens: list[int],
                 depth: int = CMS_DEPTH,
                 width: int = CMS_WIDTH) -> DataFrame:
    """Point-query the sketch for literal ``tokens`` -> (token:long,
    est:long) with est = min over depths of the hashed counter (0 when
    the cell is absent). The probe side is ``len(tokens) x depth``
    literal rows — broadcast against the bounded sketch, never a scan of
    the source data."""
    params = cms_hash_params(depth)
    spark = cms.sparkSession
    probes = spark.createDataFrame(
        [(int(t), d, _py_bucket(t, a, b, width))
         for t in tokens for d, (a, b) in enumerate(params)],
        "token bigint, d int, bucket int")
    # the sketch is bounded (depth x width rows) — broadcast it so the
    # lookup is shuffle-free regardless of how the probes arrive
    return (probes.join(F.broadcast(cms), on=["d", "bucket"], how="left")
            .groupBy("token")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("bigint")))
                 .alias("est")))


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketches (Apache DataSketches via Spark 3.5+
# hll_sketch_agg / hll_union_agg / hll_sketch_estimate built-ins)
# ---------------------------------------------------------------------------

HLL_LG_K = 12  # 2^12 registers -> ~1.6% relative standard error


def hll_distinct(df: DataFrame, col: str,
                 group_cols: list[str] | None = None,
                 lg_k: int = HLL_LG_K) -> DataFrame:
    """Mergeable distinct-count sketch per group: the distinct-counting
    sibling of ``countmin`` (frequencies). Returns one ``hll`` binary
    column per group (or one global row).

    Why not exact countDistinct at 100 TB: exact distinct over an
    unbounded key space (n-grams, URLs, user ids) shuffles every
    distinct key; the HLL sketch is a FIXED 2^lg_k-register summary
    that partial-aggregates map-side (each task emits one sketch), so
    the shuffle moves ``tasks x ~(2^lg_k)`` bytes, never the keys — and
    per-day / per-source sketches union later via ``hll_merge`` without
    re-reading data (HLL union is lossless: the merged sketch is
    identical to sketching the concatenated input). JVM built-in
    (Apache DataSketches HllSketch), no Python in the plan."""
    agg = F.hll_sketch_agg(col, lg_k).alias("hll")
    return df.groupBy(*(group_cols or [])).agg(agg)


def hll_merge(*sketches: DataFrame,
              group_cols: list[str] | None = None) -> DataFrame:
    """Union HLL sketches (same groups across days / streams / tables)
    into one sketch per group — element-wise register max under the
    hood, so the result equals sketching the unioned raw data."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (out.groupBy(*(group_cols or []))
            .agg(F.hll_union_agg("hll").alias("hll")))


def hll_estimate(sk: DataFrame, out_col: str = "n_distinct") -> DataFrame:
    """Read the estimate out of a sketch table: replaces the ``hll``
    binary with a bigint estimate column."""
    return sk.withColumn(out_col,
                         F.hll_sketch_estimate("hll")).drop("hll")
