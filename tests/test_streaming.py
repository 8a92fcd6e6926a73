"""Structured Streaming: stream features == batch features, watermarked
windowed aggregates, stateful gap sessionization == batch sessionize."""

import datetime as dt

import pandas as pd
import pytest

from photohive_spark import pit, streaming
from photohive_spark.engine import extract_features_df
from photohive_spark.tokenize import tokens_table


def test_stream_features_equal_batch(spark, sf_dir, tmp_path):
    toks = tokens_table(spark, sf_dir).limit(60)
    src = str(tmp_path / "tok_stream")
    toks.repartition(3).write.parquet(src)

    stream = streaming.read_tokens_stream(spark, src, max_files_per_trigger=1)
    streaming.run_to_memory(extract_features_df(stream), "feat_stream")
    got = {r.doc_id: r for r in spark.sql("select * from feat_stream").collect()}

    want = {r.doc_id: r
            for r in extract_features_df(spark.read.parquet(src)).collect()}
    assert set(got) == set(want) and len(got) == 60
    for k in got:
        assert got[k].rms_mean == want[k].rms_mean
        assert list(got[k].tokens) == list(want[k].tokens)
        assert list(got[k].spectrum_bands) == list(want[k].spectrum_bands)


def test_windowed_source_stats(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F2
    toks = tokens_table(spark, sf_dir).limit(100).cache()
    src = str(tmp_path / "tok_stream2")
    # time-ordered file chunks: the watermark advances across microbatches
    # (file source processes oldest-mtime first), closing earlier windows
    for lo, hi in [(0, 20), (20, 40), (40, 60), (60, 80), (80, 100)]:
        (toks.filter((F2.col("doc_id").cast("long") >= lo)
                     & (F2.col("doc_id").cast("long") < hi))
         .coalesce(1).write.mode("append").parquet(src))
    stream = streaming.read_tokens_stream(spark, src, max_files_per_trigger=1)
    streaming.run_to_memory(
        streaming.windowed_source_stats(stream, window="10 minutes",
                                        watermark="1 second"),
        "win_stats", mode="append")
    # append mode + availableNow: windows at/after the final watermark stay
    # open, so compare only the emitted (closed) windows against batch
    got = spark.sql("select * from win_stats").collect()
    import pyspark.sql.functions as F
    want = {(r.window_start, r.source): (r.n_docs, r.avg_n_tok)
            for r in (spark.read.parquet(src)
                      .groupBy(F.window("event_ts", "10 minutes").alias("w"), "source")
                      .agg(F.count("*").alias("n_docs"),
                           F.avg("n_tok").alias("avg_n_tok"))
                      .select(F.col("w.start").alias("window_start"),
                              "source", "n_docs", "avg_n_tok")).collect()}
    assert got, "no closed windows emitted"
    for r in got:
        wn, wa = want[(r.window_start, r.source)]
        assert (r.n_docs, r.avg_n_tok) == (wn, pytest.approx(wa))


def test_sessionize_stream_matches_batch(spark, tmp_path):
    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for u in (1, 2):
        offs = [0, 10, 20, 4000, 4010, 9000, 9050, 50000]
        rows += [(u, t0 + dt.timedelta(seconds=s + u)) for s in offs]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    src = str(tmp_path / "ev_stream")
    df.orderBy("ts").coalesce(1).write.parquet(src)

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    streaming.run_to_memory(
        streaming.sessionize_stream(stream, gap_seconds=600),
        "sess_stream")
    got = {(r.user_id, r.session_start): (r.session_end, r.n_events)
           for r in spark.sql("select * from sess_stream").collect()}

    batch = pit.session_stats(spark.read.parquet(src), "user_id", "ts",
                              gap_seconds=600).collect()
    # the stream emits CLOSED sessions (gap exceeded or timed out before the
    # final watermark); every emitted session must match a batch session
    assert got, "no sessions emitted"
    want = {(r.user_id, r.session_start): (r.session_end, r.n_events)
            for r in batch}
    for k, v in got.items():
        assert k in want and want[k] == v, (k, v, want.get(k))


def test_asof_stream_static_matches_batch(spark, tmp_path):
    """Streaming PIT serving == batch as-of join on the same data."""
    import numpy as np
    rng = np.random.default_rng(21)
    t0 = dt.datetime(2026, 1, 1)
    probes = [(f"d{int(k)}", t0 + dt.timedelta(seconds=int(s)), int(i))
              for i, (k, s) in enumerate(zip(rng.integers(0, 6, 80),
                                             rng.integers(0, 50_000, 80)))]
    snaps = [(f"d{int(k)}", t0 + dt.timedelta(seconds=int(s)), float(x))
             for k, s, x in zip(rng.integers(0, 5, 40),
                                rng.integers(0, 50_000, 40),
                                rng.normal(size=40))]
    probes_df = spark.createDataFrame(
        probes, "doc_id string, probe_ts timestamp, probe_id long")
    snaps_df = spark.createDataFrame(
        snaps, "doc_id string, snapshot_ts timestamp, feat double")

    src = str(tmp_path / "probe_stream")
    probes_df.repartition(2).write.parquet(src)
    stream = (spark.readStream
              .schema("doc_id string, probe_ts timestamp, probe_id long")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = streaming.asof_join_stream_static(
        stream, snaps_df, "doc_id", "probe_ts", "snapshot_ts", ["feat"])
    streaming.run_to_memory(out, "asof_serve", mode="update")
    got = {r.probe_id: (r.matched_ts, r.feat)
           for r in spark.sql("select * from asof_serve").collect()}

    want = {r.probe_id: (r.matched_ts, r.feat)
            for r in pit.asof_join(probes_df, snaps_df, "doc_id", "probe_ts",
                                   "snapshot_ts", ["feat"]).collect()}
    assert len(got) == 80
    assert got == want


def test_sessionize_stream_backward_extension_fixpoint(spark, tmp_path):
    """Advisor r2 scenario: open session start=1000, gap=100; a later batch
    delivers [850, 950]. 950 merges and extends the session start to 950,
    after which 850 is ALSO within gap — the straggler classification must
    run against the extended start (fixpoint), yielding ONE session
    [850..1000] x3 like batch sessionize, not a spurious 850-only session."""
    import os
    import time as _t

    t0 = dt.datetime(2026, 1, 1)
    ev = lambda s: (1, t0 + dt.timedelta(seconds=s))
    src = str(tmp_path / "bw_stream")
    batches = [[ev(1000)], [ev(850), ev(950)], [ev(99999)]]
    for i, b in enumerate(batches):
        spark.createDataFrame(b, "user_id long, ts timestamp") \
             .coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.05)  # distinct mtimes => deterministic file-source order

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    streaming.run_to_memory(
        streaming.sessionize_stream(stream, gap_seconds=100), "bw_sess")
    got = [(r.session_start, r.session_end, r.n_events)
           for r in spark.sql("select * from bw_sess").collect()]

    s850 = t0 + dt.timedelta(seconds=850)
    s1000 = t0 + dt.timedelta(seconds=1000)
    assert (s850, s1000, 3) in got, got
    assert not any(st == en == s850 for st, en, _ in got), got


def test_sessionize_stream_property_matches_batch(spark, tmp_path):
    """Property (advisor r2 stretch): for random event streams whose
    arrival order deviates from event-time order by LESS THAN the session
    gap (so no event can land beyond an already-closed session — the
    regime where stream and batch semantics provably coincide), the
    stateful sessionizer emits EXACTLY the batch pit.sessionize sessions,
    excluding each user's sentinel-opened final session.

    Batch files are written with pyarrow under controlled mtimes (the file
    source processes oldest-mtime first), so each example runs in a couple
    of seconds with a deterministic microbatch order. Out-of-gap straggler
    arrivals (which legitimately diverge from batch — the watermark
    tradeoff) are covered by the example tests above instead."""
    import os
    import time as _t

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    GAP = 100
    SENTINEL = 100_000
    t0 = dt.datetime(2026, 1, 1)

    case_counter = [0]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(
        offsets=st.lists(
            st.tuples(st.sampled_from([1, 2]), st.integers(0, 3000)),
            min_size=1, max_size=30),
        jitters=st.lists(st.integers(-49, 49), min_size=31, max_size=31),
        sizes=st.lists(st.integers(1, 8), min_size=10, max_size=10),
    )
    def run_case(offsets, jitters, sizes):
        case_counter[0] += 1
        case = case_counter[0]
        users = sorted({u for u, _ in offsets})
        events = list(offsets) + [(u, SENTINEL + u) for u in users]
        jit = {i: jitters[i % len(jitters)] for i in range(len(events))}
        arrival = sorted(range(len(events)),
                         key=lambda i: (events[i][1] + jit[i], i))
        batches, pos = [], 0
        for s in sizes:
            if pos >= len(arrival):
                break
            batches.append(arrival[pos:pos + s])
            pos += s
        if pos < len(arrival):
            batches.append(arrival[pos:])

        src = str(tmp_path / f"prop_{case}")
        os.makedirs(src)
        base = _t.time() - 10_000
        for bi, idxs in enumerate(batches):
            tbl = pa.table({
                "user_id": pa.array([events[i][0] for i in idxs],
                                    type=pa.int64()),
                "ts": pa.array(
                    np.array([int((t0 + dt.timedelta(
                        seconds=events[i][1])).timestamp() * 1e6)
                        for i in idxs], dtype="datetime64[us]")),
            })
            f = os.path.join(src, f"b{bi:03d}.parquet")
            pq.write_table(tbl, f)
            os.utime(f, (base + bi * 2, base + bi * 2))

        stream = (spark.readStream.schema("user_id long, ts timestamp")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        sink = f"prop_sess_{case}"
        streaming.run_to_memory(
            streaming.sessionize_stream(stream, gap_seconds=GAP,
                                        watermark="10 minutes"), sink)
        got = sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.sql(f"select * from {sink}").collect())

        all_df = spark.createDataFrame(
            [(u, t0 + dt.timedelta(seconds=s)) for u, s in events],
            "user_id long, ts timestamp")
        sentinel_ts = {u: t0 + dt.timedelta(seconds=SENTINEL + u)
                       for u in users}
        want = sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in pit.session_stats(all_df, "user_id", "ts",
                                       gap_seconds=GAP).collect()
            if r.session_start != sentinel_ts[r.user_id])
        assert got == want, (got, want)

    run_case()


def test_dedup_stream_first_arrival(spark, tmp_path):
    """Streaming exact dedup: one row per distinct content, the FIRST
    arrival wins (microbatch order pinned via file mtimes), and the
    emitted digest set equals batch exact_dedup's."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import time as _t

    from photohive_spark import dedup

    src = str(tmp_path / "dedup_stream")
    os.makedirs(src)
    batches = [
        [("a1", "the quick brown fox"), ("b1", "jumps over the dog")],
        [("a2", "the quick brown fox"), ("c1", "entirely new content")],
        [("b2", "jumps over the dog"), ("c2", "entirely new content")],
    ]
    base = _t.time() - 1000
    for i, rows in enumerate(batches):
        tbl = pa.table({"doc_id": [r[0] for r in rows],
                        "text": [r[1] for r in rows]})
        f = os.path.join(src, f"b{i}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (base + i * 2, base + i * 2))

    stream = (spark.readStream.schema("doc_id string, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    streaming.run_to_memory(streaming.dedup_stream(stream), "dedup_s")
    got = {r.digest: r.doc_id
           for r in spark.sql("select * from dedup_s").collect()}
    # first arrivals win
    assert set(got.values()) == {"a1", "b1", "c1"}
    # digest set matches batch exact_dedup on the full corpus
    all_docs = spark.read.parquet(src)
    want = {r.digest for r in dedup.exact_dedup(all_docs).collect()}
    assert set(got.keys()) == want


def test_dedup_stream_watermark_bounded(spark, tmp_path):
    """Watermarked variant: duplicates within the watermark window are
    dropped; state stays bounded (the 10^12-doc configuration)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import numpy as np
    import time as _t

    src = str(tmp_path / "dedup_wm")
    os.makedirs(src)
    t0 = dt.datetime(2026, 1, 1)
    rows = [("x1", "same text", t0),
            ("x2", "same text", t0 + dt.timedelta(seconds=30)),
            ("y1", "other text", t0 + dt.timedelta(seconds=60))]
    tbl = pa.table({
        "doc_id": [r[0] for r in rows],
        "text": [r[1] for r in rows],
        "ts": pa.array(np.array([int(r[2].timestamp() * 1e6) for r in rows],
                                dtype="datetime64[us]"))})
    pq.write_table(tbl, os.path.join(src, "b0.parquet"))

    stream = (spark.readStream
              .schema("doc_id string, text string, ts timestamp")
              .parquet(src))
    streaming.run_to_memory(
        streaming.dedup_stream(stream, watermark_col="ts",
                               watermark="10 minutes"), "dedup_wm")
    got = sorted(r.doc_id for r in spark.sql("select * from dedup_wm").collect())
    assert got == ["x1", "y1"]


def test_sessionize_stream_group_far_behind_watermark(spark, tmp_path):
    """applyInPandasWithState does NOT auto-drop late rows (that is only
    automatic for aggregations), so a user's events can arrive DAYS behind
    a watermark advanced by other users — found by bench.py --streaming at
    2M rows. The natural timeout last+gap is then before the watermark and
    Spark rejects it; sessionize_stream must clamp to watermark+1 (the
    session is already expired — fire next microbatch), not crash."""
    import os
    import time as _t

    t0 = dt.datetime(2026, 1, 1)

    def ev(u, s):
        return (u, t0 + dt.timedelta(seconds=s))

    src = str(tmp_path / "behind_stream")
    # batch 1: user 1 opens a session at 1000s; user 9 pushes the max
    # event time to 50000s, so the watermark after batch 1 is ~46400s
    # batch 2: user 1 gets an event at 1200s — far behind that watermark,
    # beyond the 100s gap (old session emitted, new one opened at 1200,
    # whose natural timeout 1300s < watermark -> crash without the clamp)
    batches = [[ev(1, 1000), ev(9, 50_000)], [ev(1, 1200)],
               [ev(9, 999_999)]]
    for i, b in enumerate(batches):
        spark.createDataFrame(b, "user_id long, ts timestamp") \
             .coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.05)

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    streaming.run_to_memory(
        streaming.sessionize_stream(stream, gap_seconds=100), "behind_sess")
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in spark.sql("select * from behind_sess").collect()}
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    assert (1, s(1000), s(1000), 1) in got, got
    # the clamped timeout fires on the next batch -> the 1200s session
    # is emitted too (not stuck in state forever)
    assert (1, s(1200), s(1200), 1) in got, got


def test_image_report_stream_equals_batch(spark, tmp_path):
    """The image pipeline's incremental-ingest face: real mixed-codec
    payloads (PNG incl. Adam7, baseline + progressive JPEG) arriving as
    a file stream must produce row-for-row the SAME reports as the batch
    operator — the stateless-lift guarantee."""
    import numpy as np

    from photohive_spark import jpeg, multimodal, png

    rng = np.random.default_rng(23)
    rows = []
    for i in range(9):
        img = rng.integers(0, 256, (16 + 4 * i, 20, 3), dtype=np.uint8)
        payload = [
            lambda a: png.encode_png(a),
            lambda a: png.encode_png(a, filter_type=4, interlace=True),
            lambda a: jpeg.encode_jpeg(a, quality=92),
            lambda a: jpeg.encode_jpeg_progressive(a, quality=92),
        ][i % 4](img)
        rows.append((f"s{i}", "image", bytearray(payload),
                     img.shape[1], img.shape[0], None, None))
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    src = str(tmp_path / "media_stream")
    media.repartition(3).write.parquet(src)

    stream = streaming.read_media_stream(spark, src, max_files_per_trigger=1)
    streaming.run_to_memory(multimodal.image_report(stream, mode="real"),
                            "img_stream")
    got = {r.media_id: r
           for r in spark.sql("select * from img_stream").collect()}
    want = {r.media_id: r
            for r in multimodal.image_report(
                spark.read.parquet(src), mode="real").collect()}
    assert set(got) == set(want) and len(got) == 9
    for k in got:
        assert got[k].rms_mean == want[k].rms_mean
        assert got[k].hist_entropy == want[k].hist_entropy
        assert got[k].sharpness_avg == want[k].sharpness_avg
        assert got[k].palette == want[k].palette


def test_image_dedup_stream_first_arrival(spark, tmp_path):
    """Visual dedup at ingest: the same image arriving as PNG and as a
    pixel-identical PNG copy dedups to one row; corrupt payloads drop;
    distinct images all survive."""
    import numpy as np

    from photohive_spark import multimodal, png

    rng = np.random.default_rng(55)
    rows = []
    imgs = [rng.integers(0, 256, (24, 30, 3), dtype=np.uint8)
            for _ in range(3)]
    for i, img in enumerate(imgs):
        rows.append((f"a{i}", "image", bytearray(png.encode_png(img)),
                     30, 24, None, None))
        # pixel-identical re-encode (different filter => different bytes,
        # same pHash)
        rows.append((f"b{i}", "image",
                     bytearray(png.encode_png(img, filter_type=2)),
                     30, 24, None, None))
    rows.append(("bad", "image", b"garbage", None, None, None, None))
    src = str(tmp_path / "media_dedup_stream")
    spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA) \
        .repartition(2).write.parquet(src)

    stream = streaming.read_media_stream(spark, src)
    streaming.run_to_memory(streaming.image_dedup_stream(stream),
                            "img_dedup")
    got = spark.sql("select * from img_dedup").collect()
    assert len(got) == 3                     # one per distinct image
    assert len({r.phash for r in got}) == 3
    assert not any(r.media_id == "bad" for r in got)


def test_image_dedup_stream_watermark_bounds_state(spark, tmp_path):
    """Watermarked visual dedup: the ingest-ts column rides through the
    hash stage (image_phash passthrough), in-window pHash duplicates are
    dropped, and state for expired hashes is EVICTED — proven by a
    duplicate far past the watermark re-emitting (the documented
    state-size/recall tradeoff, same contract as dedup_stream)."""
    import os
    import time as _t

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from photohive_spark import multimodal, png
    import pyspark.sql.types as T

    rng = np.random.default_rng(77)
    img_a = rng.integers(0, 256, (20, 24, 3), dtype=np.uint8)
    img_b = rng.integers(0, 256, (20, 24, 3), dtype=np.uint8)
    img_c = rng.integers(0, 256, (20, 24, 3), dtype=np.uint8)
    t0 = dt.datetime(2026, 1, 1)

    def rec(mid, img, ftype, ts):
        return {"media_id": mid, "kind": "image",
                "payload": bytes(png.encode_png(img, filter_type=ftype)),
                "meta_width": None, "meta_height": None,
                "meta_sample_rate": None, "meta_n_frames": None,
                "ts": ts}

    batches = [
        # A + pixel-identical re-encode 30 s later: in-window dup drops
        [rec("a1", img_a, 0, t0),
         rec("a2", img_a, 2, t0 + dt.timedelta(seconds=30))],
        # B one hour on: advances the watermark past A's expiry
        [rec("b1", img_b, 0, t0 + dt.timedelta(hours=1))],
        # C: the batch whose END actually evicts A's expired state
        # (dropDuplicatesWithinWatermark checks dups BEFORE evicting)
        [rec("c1", img_c, 0, t0 + dt.timedelta(hours=1, minutes=1))],
        # A again, two hours on: its state expired -> re-emits
        [rec("a3", img_a, 1, t0 + dt.timedelta(hours=2))],
    ]
    src = str(tmp_path / "img_dedup_wm")
    os.makedirs(src)
    base = _t.time() - 1000
    for i, rows in enumerate(batches):
        tbl = pa.table({
            "media_id": [r["media_id"] for r in rows],
            "kind": [r["kind"] for r in rows],
            "payload": [r["payload"] for r in rows],
            "meta_width": pa.array([r["meta_width"] for r in rows],
                                   type=pa.int32()),
            "meta_height": pa.array([r["meta_height"] for r in rows],
                                    type=pa.int32()),
            "meta_sample_rate": pa.array([r["meta_sample_rate"]
                                          for r in rows], type=pa.int32()),
            "meta_n_frames": pa.array([r["meta_n_frames"] for r in rows],
                                      type=pa.int32()),
            "ts": pa.array(np.array([int(r["ts"].timestamp() * 1e6)
                                     for r in rows],
                           dtype="datetime64[us]"))})
        f = os.path.join(src, f"b{i}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (base + i * 2, base + i * 2))

    schema = T.StructType(list(multimodal.MEDIA_SCHEMA.fields)
                          + [T.StructField("ts", T.TimestampType())])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = streaming.run_to_memory(
        streaming.image_dedup_stream(stream, watermark_col="ts",
                                     watermark="10 minutes"), "img_wm")
    got = sorted(r.media_id
                 for r in spark.sql("select * from img_wm").collect())
    # a2 (in-window dup) dropped; a3 survives because A's state expired
    assert got == ["a1", "a3", "b1", "c1"]
    # and the ts column is really on the output (the watermark carrier)
    assert "ts" in spark.sql("select * from img_wm").columns
    q.stop()


def test_countmin_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streaming CMS: cumulative counters over micro-batches exactly
    equal the batch sketch over the same rows — and the state is bounded
    at depth x width by construction (no watermark needed)."""
    import pyspark.sql.functions as F2
    from photohive_spark import sketch
    toks = tokens_table(spark, sf_dir).limit(80).cache()
    src = str(tmp_path / "tok_cms_stream")
    for lo, hi in [(0, 30), (30, 60), (60, 80)]:
        (toks.filter((F2.col("doc_id").cast("long") >= lo)
                     & (F2.col("doc_id").cast("long") < hi))
         .coalesce(1).write.mode("append").parquet(src))
    stream = streaming.read_tokens_stream(spark, src, max_files_per_trigger=1)
    streaming.run_to_memory(
        sketch.countmin(stream, width=64),
        "cms_stream", mode="complete")
    got = {(r.d, r.bucket): r.cnt
           for r in spark.sql("select * from cms_stream").collect()}
    want = {(r.d, r.bucket): r.cnt
            for r in sketch.countmin(spark.read.parquet(src),
                                     width=64).collect()}
    assert got == want and len(got) <= 4 * 64
