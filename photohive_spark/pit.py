"""Point-in-time relational layer: as-of join, backfill, lag/lead,
gap-based sessionization.

These are the operators the reference lacks entirely (it is a single-image
batch library — SURVEY §2.6); they are what makes the engine a
*point-in-time feature store* over the snapshot table. All four are pure
Catalyst window/join plans — no Python in the hot path — except
``asof_join_cogroup``, a cogrouped Arrow as-of join (one sort and one
binary search per key) that runs shuffle-free over bucketed tables and
cross-checks the window form's semantics.

Zero-temporal-leakage contract: a probe at time t only ever sees the
snapshot with the greatest snapshot_ts <= t (strictly < t with
``strict=True``). Property-tested in tests/test_pit.py.

Scale notes:
- union+window as-of costs ONE shuffle of (probes ∪ snapshots) on the key —
  optimal when both sides are large (the 100 TB case). The sort within
  partitions is (ts, is_probe), so ties resolve snapshot-first =>
  inclusive semantics without a self-join.
- when the snapshot side is small (dimension-like), ``asof_join_broadcast``
  avoids the shuffle entirely: broadcast + max_by aggregation.
- skew: hot keys are handled by AQE skew-join plus the explicit salting in
  skew.py (applied by callers before the window when one key dominates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F


def asof_join(probes: DataFrame, snapshots: DataFrame, key: str,
              probe_ts: str, snapshot_ts: str,
              value_cols: list[str], strict: bool = False) -> DataFrame:
    """Union + last-ignorenulls window as-of join.

    For every probe row, attach ``value_cols`` (and matched snapshot ts)
    from the latest snapshot with snapshot_ts <= probe_ts (or < with
    strict). Probes with no prior snapshot get nulls.

    Plan: Union -> Exchange(hash key) -> Sort(ts, side) -> Window(last
    ignorenulls, unbounded preceding) -> Filter(is_probe). One shuffle.
    """
    payload = F.struct(F.col(snapshot_ts).alias("matched_ts"),
                       *[F.col(c) for c in value_cols])
    # a snapshot of unknown time matches no probe (a null _ts sorts first)
    snaps = snapshots.where(F.col(snapshot_ts).isNotNull()).select(
        F.col(key).alias("_k"),
        F.col(snapshot_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        payload.alias("_payload"),
        *[F.lit(None).cast(t.dataType).alias(f"_p_{t.name}")
          for t in probes.schema.fields],
    )
    probe_cols = [f.name for f in probes.schema.fields]
    prb = probes.select(
        F.col(key).alias("_k"),
        F.col(probe_ts).alias("_ts"),
        # snapshot sorts before probe at equal ts => inclusive <=;
        # strict: probe sorts first => snapshot at equal ts NOT visible
        F.lit(-1 if strict else 1).alias("_side"),
        F.lit(None).cast(snaps.schema["_payload"].dataType).alias("_payload"),
        *[F.col(c).alias(f"_p_{c}") for c in probe_cols],
    )
    unioned = snaps.unionByName(prb)
    w = (Window.partitionBy("_k").orderBy(F.col("_ts").asc(), F.col("_side").asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    filled = unioned.withColumn("_fill", F.last("_payload", ignorenulls=True).over(w))
    out = filled.filter(F.col("_side") != 0).select(
        *[F.col(f"_p_{c}").alias(c) for c in probe_cols],
        F.col("_fill.matched_ts").alias("matched_ts"),
        *[F.col(f"_fill.{c}").alias(c) for c in value_cols],
    )
    return out


def asof_join_salted(probes: DataFrame, snapshots: DataFrame, key: str,
                     probe_ts: str, snapshot_ts: str,
                     value_cols: list[str], strict: bool = False,
                     salt_buckets: int = 8) -> DataFrame:
    """Skew-resistant as-of join for hot keys (north_rule: 'as-of merge over
    sorted, salted partitions').

    Probes are salted into ``salt_buckets`` sub-partitions of each key;
    the (small-per-key) snapshot side is replicated into every salt bucket,
    so each (key, salt) partition holds ALL snapshots for the key plus
    1/salt_buckets of its probes — identical semantics to
    :func:`asof_join`, but a key with 10^9 probes spreads over
    ``salt_buckets`` tasks instead of pinning one. Cost: snapshot side
    x salt_buckets (snapshots per key are bounded — feature snapshots, not
    events — so the replication is cheap relative to the probe side).

    The salt is content-derived (xxhash64 over EVERY probe column — probe
    rows normally carry a unique id, so a same-(key, ts) burst still
    spreads), so a task retry re-produces the exact same salted
    partitioning — per-partition lineage counts are reproducible, unlike an
    id-based salt. Fully-duplicate probe rows share a salt (the price of
    determinism); if an input can contain millions of byte-identical
    probes, give them an id column upstream.

    WHEN TO SALT (measured, BENCH/BASELINE.md round 4): salt when any
    single key holds more than ~1/n_cores of the probe volume — the plain
    window then pins that key to one task and the job runs at straggler
    speed (measured 4.7x win at 30% hot-key share, 10M probes, 32 cores:
    9.68 s plain vs 2.06 s salted). Below that threshold prefer plain
    :func:`asof_join`: salting costs a wider union and snapshot
    replication (x salt_buckets) for no straggler to remove. AQE does NOT
    substitute — its skew splitting applies to sort-merge joins, not
    window partitions. Size ``salt_buckets`` ~ n_cores for one hot key;
    hot_share * n_probes / salt_buckets should be ~ an average task."""
    from .skew import deterministic_salt
    salted_probes = probes.withColumn(
        "_salt", deterministic_salt(salt_buckets, *probes.columns)
    ).withColumn(
        "_k2", F.concat_ws("#", F.col(key), F.col("_salt")))
    salted_snaps = snapshots.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("_k2", F.concat_ws("#", F.col(key), F.col("_salt")))
    out = asof_join(salted_probes, salted_snaps, "_k2", probe_ts, snapshot_ts,
                    value_cols, strict=strict)
    return out.drop("_salt", "_k2")


def asof_join_broadcast(probes: DataFrame, snapshots: DataFrame, key: str,
                        probe_ts: str, snapshot_ts: str,
                        value_cols: list[str], strict: bool = False) -> DataFrame:
    """Broadcast variant for small snapshot sides (dimension-like).

    BroadcastHashJoin on key with the temporal predicate (no shuffle for
    the JOIN — the snapshot side broadcasts), then max_by(payload,
    snapshot_ts) per probe row. The aggregation costs one hash exchange of
    the joined rows on the probe row id — uniformly distributed, so unlike
    the union+window variant it is immune to hot-KEY skew.
    """
    cmp = (F.col(f"s.{snapshot_ts}") < F.col(f"p.{probe_ts}")) if strict else \
          (F.col(f"s.{snapshot_ts}") <= F.col(f"p.{probe_ts}"))
    probe_cols = [f.name for f in probes.schema.fields]
    # unique row id so DUPLICATE probe rows survive the groupBy (two
    # identical probes must yield two output rows, like asof_join)
    probes = probes.withColumn("_rid", F.monotonically_increasing_id())
    pid = F.struct(*[F.col(f"p.{c}") for c in probe_cols]).alias("_probe")
    payload = F.struct(F.col(f"s.{snapshot_ts}").alias("matched_ts"),
                       *[F.col(f"s.{c}") for c in value_cols])
    joined = (probes.alias("p")
              .join(F.broadcast(snapshots.alias("s")),
                    on=[F.col(f"p.{key}") == F.col(f"s.{key}"), cmp],
                    how="left")
              .select(F.col("p._rid").alias("_rid"), pid,
                      payload.alias("_payload"),
                      F.col(f"s.{snapshot_ts}").alias("_sts")))
    agg = (joined.groupBy("_rid")
           .agg(F.first("_probe").alias("_probe"),
                F.max_by("_payload", "_sts").alias("_best")))
    return agg.select(
        *[F.col(f"_probe.{c}").alias(c) for c in probe_cols],
        F.col("_best.matched_ts").alias("matched_ts"),
        *[F.col(f"_best.{c}").alias(c) for c in value_cols],
    )


def asof_join_cogroup(probes: DataFrame, snapshots: DataFrame, key: str,
                      probe_ts: str, snapshot_ts: str,
                      value_cols: list[str], strict: bool = False) -> DataFrame:
    """Cogrouped Arrow as-of join: per key, sort the snapshots once and
    binary-search every probe timestamp in them. A probe with a null
    timestamp or no earlier snapshot gets a null match, and (as in
    :func:`asof_join_broadcast`) a null-timestamp snapshot is never
    matched. One shuffle per side, none over bucketed tables
    (:func:`asof_join_bucketed`)."""
    import pyspark.sql.types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    out = T.StructType(
        [T.StructField(f.name, f.dataType) for f in probes.schema.fields]
        + [T.StructField("matched_ts", T.TimestampType())]
        + [T.StructField(c, snapshots.schema[c].dataType) for c in value_cols])
    # Spark accepts the zone it names (UTC), not the workers' Etc/UTC
    schema = to_arrow_schema(out)
    side = "left" if strict else "right"

    def merge(p, s):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        s = s.take(pc.sort_indices(s, [(snapshot_ts, "ascending")]))
        s = s.slice(0, s.num_rows - s.column(snapshot_ts).null_count)
        sts = pc.cast(s.column(snapshot_ts), pa.int64()).to_numpy()
        pts = p.column(probe_ts)
        idx = np.searchsorted(
            sts, pc.cast(pts, pa.int64()).fill_null(0).to_numpy(),
            side=side) - 1
        miss = (idx < 0) | pts.is_null().to_numpy()
        got = s.select([snapshot_ts, *value_cols]).take(
            pa.array(idx, mask=miss))
        return pa.Table.from_arrays(p.columns + got.columns,
                                    names=schema.names).cast(schema)

    snap_sel = snapshots.select(key, snapshot_ts, *value_cols)
    return (probes.groupBy(key).cogroup(snap_sel.groupBy(key))
            .applyInArrow(merge, out))


def write_bucketed(df: DataFrame, table: str, key: str, n_buckets: int,
                   sort_cols: tuple = (), mode: str = "overwrite") -> None:
    """Materialize a DataFrame as a BUCKETED (+ optionally sorted)
    parquet table — the co-located layout for repeated PIT work: pay the
    clustering shuffle ONCE at write time, then every subsequent as-of /
    backfill pass over the table joins shuffle-free (see
    :func:`asof_join_bucketed`). At 100 TB this is the difference
    between re-shuffling 10^12 probe rows per backfill run and reading
    pre-clustered buckets."""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, key)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def asof_join_bucketed(spark, probe_table: str, snapshot_table: str,
                       key: str, probe_ts: str, snapshot_ts: str,
                       value_cols: list[str],
                       strict: bool = False) -> DataFrame:
    """ZERO-shuffle point-in-time as-of join over two tables bucketed on
    ``key`` with the same bucket count (:func:`write_bucketed`): the
    bucketed scans report HashPartitioning(key), which already satisfies
    the cogroup's ClusteredDistribution on BOTH sides, so the physical
    plan contains NO Exchange at all (plan-asserted in
    tests/test_pit.py — the non-bucketed cogroup pays two). Same
    semantics as :func:`asof_join` / :func:`asof_join_cogroup`."""
    return asof_join_cogroup(spark.table(probe_table),
                             spark.table(snapshot_table),
                             key, probe_ts, snapshot_ts, value_cols,
                             strict)


def backfill(df: DataFrame, key: str, ts: str, cols: list[str]) -> DataFrame:
    """Forward-fill nulls with the latest prior non-null value per key —
    the ``last(ignorenulls) OVER (... ROWS UNBOUNDED PRECEDING)`` plan.
    """
    w = (Window.partitionBy(key).orderBy(F.col(ts).asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    out = df
    for c in cols:
        out = out.withColumn(f"{c}_filled", F.last(c, ignorenulls=True).over(w))
    return out


def lag_lead(df: DataFrame, key: str, ts: str, col: str, n: int = 1) -> DataFrame:
    """Previous/next value per key ordered by ts."""
    w = Window.partitionBy(key).orderBy(F.col(ts).asc())
    return (df
            .withColumn(f"{col}_lag{n}", F.lag(col, n).over(w))
            .withColumn(f"{col}_lead{n}", F.lead(col, n).over(w)))


def sessionize(df: DataFrame, key: str, ts: str,
               gap_seconds: int = 1800) -> DataFrame:
    """Gap-based session ids: a new session starts when the time since the
    previous event for the key exceeds ``gap_seconds``. session_id is
    0-based per key (cumulative sum of boundary flags).
    """
    w = Window.partitionBy(key).orderBy(F.col(ts).asc())
    # cast via timestamp_ltz: TIMESTAMP_NTZ (parquet default) has no direct
    # double cast in Spark 4; the tz shift cancels in the gap difference
    sec = F.col(ts).cast("timestamp_ltz").cast("double")
    gap = sec - F.lag(sec).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)


def session_stats(df: DataFrame, key: str, ts: str,
                  gap_seconds: int = 1800) -> DataFrame:
    """Per-session aggregates over sessionized events."""
    s = sessionize(df, key, ts, gap_seconds)
    sec = F.col(ts).cast("timestamp_ltz").cast("double")
    return (s.groupBy(key, "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min(ts).alias("session_start"),
                 F.max(ts).alias("session_end"),
                 (F.max(sec) - F.min(sec)).alias("duration_s")))


def temporal_split(df: DataFrame, ts: str, split_ts: str,
                   embargo_s: float = 0.0,
                   split_col: str = "split",
                   label_all: bool = False) -> DataFrame:
    """Event-time train/val split with an embargo gap — the PIT-correct
    alternative to a random split for time-ordered training data.

      train: rows with ts <  split_ts - embargo_s
      val:   rows with ts >= split_ts

    Rows inside the embargo window ``[split_ts - embargo_s, split_ts)``
    are dropped from BOTH sides: trailing-window features (lag/lead,
    rolling stats, as-of snapshots) computed on train rows near the
    boundary would otherwise summarize the same instants the val set is
    scored on — temporal leakage through window state, the exact failure
    mode the zero-leakage contract (module docstring) exists to prevent.

    Returns ``df`` with ``split_col`` in {'train','val'}, embargo rows
    (and rows with a NULL timestamp, which satisfy neither predicate)
    filtered out. With ``label_all=True`` NO rows are dropped: every
    row is labeled 'train' / 'val' / 'embargo' / 'null_ts' — the audit
    form, letting callers account for exactly what the filtering form
    discards in one aggregation instead of silently losing null-ts
    rows. 'null_ts' means no USABLE event time: a NULL column value or
    a value the timestamp cast cannot parse (string ts columns) — both
    satisfy neither split predicate, and classifying by the raw
    column's nullness would misreport unparseable rows as 'embargo'.
    Scale: a pure projection + filter — no shuffle, and the timestamp
    predicate pushes down to the parquet scan."""
    # try_cast, not cast: ANSI mode makes cast THROW on a malformed
    # string timestamp; the split must instead classify such rows as
    # unusable ('null_ts' under label_all, dropped otherwise)
    t = F.col(ts).try_cast("timestamp_ltz").cast("double")
    c = F.to_timestamp(F.lit(split_ts)).cast("timestamp_ltz").cast("double")
    label = (F.when(t < c - F.lit(float(embargo_s)), F.lit("train"))
             .when(t >= c, F.lit("val")))
    if label_all:
        return df.withColumn(
            split_col,
            F.when(t.isNull(), F.lit("null_ts"))
             .otherwise(F.coalesce(label, F.lit("embargo"))))
    return (df.withColumn(split_col, label)
            .where(F.col(split_col).isNotNull()))


def leakage_audit(joined: DataFrame, probe_ts: str, matched_ts: str,
                  group_cols: list[str] | None = None) -> DataFrame:
    """Audit the zero-temporal-leakage invariant over ANY feature-joined
    table: a row LEAKS when its matched feature/snapshot timestamp is
    strictly later than the probe event's own timestamp — i.e. the
    feature peeked at the future. Run it on every as-of output (must be
    all-zero) and on any externally produced feature table before
    training on it.

    Returns one row (per ``group_cols`` group, or one global row):
      n_rows      total probe rows audited
      n_matched   rows that matched some snapshot (nulls don't leak)
      n_leaks     rows with matched_ts > probe_ts
      max_lead_us worst future-peek in exact integer microseconds
                  (0 when clean)

    Scale: one partially-aggregated groupBy — every map task reduces to
    per-group counters before a tiny shuffle; timestamps compare as
    integer microseconds so the audit is exact, never float-rounded."""
    pu = F.unix_micros(F.col(probe_ts).cast("timestamp_ltz"))
    mu = F.unix_micros(F.col(matched_ts).cast("timestamp_ltz"))
    lead = mu - pu
    leak = (F.col(matched_ts).isNotNull() & (lead > 0)).cast("bigint")
    gb = joined.groupBy(*group_cols) if group_cols else joined.groupBy()
    return gb.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col(matched_ts)).alias("n_matched"),
        # coalesce: a global aggregate over an EMPTY table must report
        # 0 leaks, not null (sum over no rows is null) — a gate
        # asserting n_leaks == 0 would otherwise fail on empty input
        F.coalesce(F.sum(leak), F.lit(0).cast("bigint")).alias("n_leaks"),
        F.coalesce(F.max(F.when(lead > 0, lead)),
                   F.lit(0).cast("bigint")).alias("max_lead_us"))
