"""Structured Streaming layer: streaming feature extraction, watermarked
windowed aggregates, and stateful gap sessionization.

The reference is strictly batch-one-image (SURVEY §2.7); this module is the
engine's incremental-ingest path: new token sequences or media rows land as
files (or a Kafka topic in production) and late data is bounded by
event-time watermarks.

The batch operators need no stream twin: a stateless ``mapInArrow`` stage
lifts to Structured Streaming unchanged, so ``engine.extract_features_df``,
``multimodal.image_report`` and ``multimodal.media_features`` run on these
streams as they are, row-for-row equal to batch (tests/test_streaming.py),
and ``sketch.countmin`` runs as a streaming aggregation.

Scale notes: the feature stream is stateless => unbounded parallelism, no
state store; the windowed aggregate keeps O(windows x sources) state; the
sessionizer keeps one small state row per active key (its open sessions)
and emits a session once no in-bound late event can still extend it — all
standard Structured Streaming state-store behavior, checkpointed for
exactly-once restart.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T


TOKENS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
    T.StructField("event_ts", T.TimestampType()),
])


def read_tokens_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream of input_hint-shaped parquet (the sandbox stand-in
    for a Kafka/Iceberg CDC source)."""
    return (spark.readStream.schema(TOKENS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def windowed_source_stats(tokens_stream: DataFrame,
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked event-time windowed aggregate per source: row counts and
    mean n_tok. Late rows beyond the watermark are dropped (bounded state).
    """
    return (tokens_stream
            .withWatermark("event_ts", watermark)
            .groupBy(F.window("event_ts", window).alias("w"), "source")
            .agg(F.count("*").alias("n_docs"),
                 F.avg("n_tok").alias("avg_n_tok"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "source", "n_docs", "avg_n_tok"))


SESSION_OUT_SCHEMA = ("user_id bigint, session_start timestamp, "
                      "session_end timestamp, n_events bigint")
SESSION_STATE_SCHEMA = ("starts array<long>, lasts array<long>, "
                        "counts array<long>")


def sessionize_stream(events_stream: DataFrame, gap_seconds: int = 1800,
                      watermark: str = "1 hour") -> DataFrame:
    """Stateful gap sessionization via applyInPandasWithState: one state row
    per active user, holding that user's OPEN sessions. Same gap rule as the
    batch pit.sessionize.

    An open session [start, last] is emitted (closed) once no event that is
    still to arrive can reach it: when the watermark passes last+gap
    (decided on state timeout, or on the user's next batch), or when the
    user has already seen an event more than 2*gap past ``last``. The second
    rule closes sessions without waiting for the watermark, and is exact
    for any arrival order that deviates from event-time order by less than
    one gap: a later arrival is then more than one gap past ``last``. An
    event that still lands within gap of an already-emitted session opens a
    session of its own (the watermark tradeoff)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def fn(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        sessions: list[list[int]] = []
        if state.exists:
            starts, lasts, counts = state.get
            sessions = [list(x) for x in zip(starts, lasts, counts)]
        for pdf in pdfs:
            sessions.extend([t, t, 1] for t in (
                int(ts.value // 1000) for ts in pd.to_datetime(pdf["ts"])))
        # every open session is internally gap-connected, so merging the
        # sorted [start, last, n] runs whose distance is <= gap yields
        # exactly the batch sessions of the events in hand
        sessions.sort()
        merged: list[list[int]] = []
        for s in sessions:
            if merged and s[0] - merged[-1][1] <= gap_us:
                merged[-1][1] = max(merged[-1][1], s[1])
                merged[-1][2] += s[2]
            else:
                merged.append(s)
        wm_us = state.getCurrentWatermarkMs() * 1000
        max_seen = merged[-1][1] if merged else 0
        out, open_ = [], []
        for start, last, n in merged:
            if last + gap_us < wm_us or last + 2 * gap_us < max_seen:
                out.append({"user_id": user_id,
                            "session_start": pd.Timestamp(start, unit="us"),
                            "session_end": pd.Timestamp(last, unit="us"),
                            "n_events": n})
            else:
                open_.append((start, last, n))
        if open_:
            starts, lasts, counts = (list(c) for c in zip(*open_))
            state.update((starts, lasts, counts))
            # fires once the watermark passes the earliest open session's
            # last+gap; clamped to watermark+1, the earliest timestamp Spark
            # accepts (a group can trail a watermark driven by other groups)
            state.setTimeoutTimestamp(
                max((lasts[0] + gap_us) // 1000, wm_us // 1000 + 1))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out)

    return (events_stream
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(fn, SESSION_OUT_SCHEMA,
                                    SESSION_STATE_SCHEMA, "append",
                                    GroupStateTimeout.EventTimeTimeout))


def dedup_stream(docs_stream: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 watermark_col: str | None = None,
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: emit each content digest's FIRST arrival,
    drop every later duplicate — the incremental-ingest analog of
    dedup.exact_dedup (which keeps min id per digest in batch; a stream
    cannot know the eventual min, so first-arrival is the streaming
    contract, stable under replay because Structured Streaming's
    dropDuplicates state is checkpointed exactly-once).

    With ``watermark_col`` set, dropDuplicatesWithinWatermark bounds the
    digest state (late duplicates beyond the watermark may re-emit — the
    standard state-size/recall tradeoff at 10^12 docs, where unbounded
    digest state would hold one row per distinct doc forever); without it,
    state is exact and unbounded.
    """
    hashed = docs_stream.withColumn("digest", F.md5(F.col(text_col)))
    if watermark_col is not None:
        return (hashed.withWatermark(watermark_col, watermark)
                .dropDuplicatesWithinWatermark(["digest"]))
    return hashed.dropDuplicates(["digest"])


def asof_join_stream_static(probe_stream: DataFrame, snapshots: DataFrame,
                            key: str, probe_ts: str, snapshot_ts: str,
                            value_cols: list[str],
                            watermark: str = "1 hour") -> DataFrame:
    """Streaming point-in-time serving: each incoming probe row is joined to
    the latest snapshot (from a STATIC snapshot table) with
    snapshot_ts <= probe_ts — the online analog of pit.asof_join.

    Shape: stream-static left join on key + temporal predicate (the static
    side broadcasts if small), then a watermarked groupBy over the probe's
    identity taking max_by(payload, snapshot_ts). Zero temporal leakage by
    the same predicate as the batch path; state is bounded by the watermark.

    NOTE: byte-identical duplicate probe rows collapse to one output row
    (the groupBy key is the full probe row — a stable unique id can't be
    minted inside a restartable stream). Give probes a unique id column
    upstream if duplicates must be preserved.
    """
    cmp = F.col(f"s.{snapshot_ts}") <= F.col(f"p.{probe_ts}")
    probe_cols = [f.name for f in probe_stream.schema.fields]
    payload = F.struct(F.col(f"s.{snapshot_ts}").alias("matched_ts"),
                       *[F.col(f"s.{c}") for c in value_cols])
    joined = (probe_stream.withWatermark(probe_ts, watermark).alias("p")
              .join(snapshots.alias("s"),
                    on=[F.col(f"p.{key}") == F.col(f"s.{key}"), cmp],
                    how="left")
              .select(*[F.col(f"p.{c}").alias(c) for c in probe_cols],
                      payload.alias("_payload"),
                      F.col(f"s.{snapshot_ts}").alias("_sts")))
    agg = (joined.groupBy(*probe_cols)
           .agg(F.max_by("_payload", "_sts").alias("_best")))
    return agg.select(
        *probe_cols,
        F.col("_best.matched_ts").alias("matched_ts"),
        *[F.col(f"_best.{c}").alias(c) for c in value_cols])


def image_dedup_stream(media_stream: DataFrame,
                       on_error: str = "skip",
                       watermark_col: str | None = None,
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming VISUAL dedup at ingest: REAL decode -> 64-bit pHash
    (stateless mapInArrow) -> first-arrival dropDuplicates on the
    hash. Exact perceptual duplicates (same image re-scraped, or
    re-encoded closely enough to share a pHash) are dropped as they
    arrive — the image counterpart of dedup_stream. Near-dup CLUSTERING
    (hamming > 0) stays a batch job (jobs/run_image_dedup.py): a stream
    cannot retroactively merge clusters. on_error defaults to 'skip'
    (scraped streams contain corrupt payloads).

    With ``watermark_col`` set (an event-time column on the media
    stream, carried through the hash stage via image_phash passthrough),
    dropDuplicatesWithinWatermark bounds the state store — without it,
    dropDuplicates holds one state row per distinct pHash FOREVER, which
    on a long-running ingest stream grows monotonically (same
    state-size/recall tradeoff as dedup_stream).

    FALSE-POSITIVE CAVEAT: dedup is on exact 64-bit pHash equality, and
    pHash collapses visually flat / low-frequency images (solid fills,
    simple gradients, logos on plain backgrounds) onto a few hash
    values — DISTINCT images that collide are silently and permanently
    dropped. Where that matters, keep ingest dedup exact (digest-based
    dedup_stream) and leave perceptual dedup to the batch job, which
    verifies hamming and keeps a representative per CLUSTER instead of
    per hash value."""
    from .multimodal import image_phash

    hashed = image_phash(
        media_stream, mode="real", on_error=on_error,
        passthrough=(watermark_col,) if watermark_col else ())
    if watermark_col is not None:
        return (hashed.withWatermark(watermark_col, watermark)
                .dropDuplicatesWithinWatermark(["phash"]))
    return hashed.dropDuplicates(["phash"])


def read_media_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream of opaque-binary media rows (MEDIA_SCHEMA
    parquet) — the incremental-ingest face of the image pipeline: newly
    scraped/encoded images land as files and flow through the SAME
    decode + report kernels as the batch path."""
    from .multimodal import MEDIA_SCHEMA

    return (spark.readStream.schema(MEDIA_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "append"):
    """Drive a stream with availableNow into a memory sink (test harness)."""
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination(120)
    return q
