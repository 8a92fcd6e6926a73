"""Regression tests for the round-1 code-review findings."""

import numpy as np
import pytest
import pyspark.sql.functions as F

from photohive_spark import kernels as K
from photohive_spark.batch_kernels import batch_extract
from photohive_spark.config import EngineConfig
from photohive_spark.engine import features_row


def test_batch_honors_downsample_rate():
    """Finding 1: downsample_rate must reach the batch path's hsv/palette
    stage (stats/FFT stay on the original sequence — src/interface.c:39-50)."""
    cfg = EngineConfig(downsample_rate=3)
    rng = np.random.default_rng(4)
    docs = [rng.integers(0, 50257, n, dtype=np.int32) for n in (100, 100, 55)]
    got = batch_extract(docs, cfg)
    for i, t in enumerate(docs):
        want = features_row(np.asarray(t, np.int32), cfg)
        assert got[i]["hist_counts"] == want["hist_counts"], i
        assert got[i]["mean_norm_value"] == pytest.approx(
            want["mean_norm_value"], rel=1e-12), i
        gp = [(p["h"], p["s"], p["v"], p["pct"]) for p in got[i]["palette"]]
        wp = [(p["h"], p["s"], p["v"], p["pct"]) for p in want["palette"]]
        assert np.allclose(gp, wp, rtol=1e-9), i
        # FFT path must use the ORIGINAL sequence
        assert np.allclose(got[i]["spectrum_bands"], want["spectrum_bands"],
                           rtol=1e-9), i


def test_hist_bin_ids_clamped_for_nondivisor_h_parts():
    """Finding 2: h_parts that doesn't divide 360 must not overflow the
    cell space (clamped into the last hue bin)."""
    cfg = EngineConfig(h_parts=7)
    rng = np.random.default_rng(9)
    t = rng.integers(0, 50257, 5000, dtype=np.int32)
    h, s, v = K.derive_hsv(t)
    g = K.hist_bin_ids(h, s, v, cfg)
    assert g.max() < cfg.hist_cells
    # full pipelines run without crashing, and batch == per-doc
    want = features_row(t, cfg)
    got = batch_extract([t], cfg)[0]
    assert got["hist_counts"] == want["hist_counts"]


def test_asof_broadcast_keeps_duplicate_probes(spark):
    """Finding 4: byte-identical duplicate probe rows must both survive."""
    import datetime as dt
    from photohive_spark import pit
    t0 = dt.datetime(2026, 1, 1)
    probes = spark.createDataFrame(
        [("a", t0), ("a", t0), ("b", t0)],  # two identical probes for 'a'
        "doc_id string, probe_ts timestamp")
    snaps = spark.createDataFrame(
        [("a", t0 - dt.timedelta(hours=1), 1.5)],
        "doc_id string, snapshot_ts timestamp, feat double")
    out = pit.asof_join_broadcast(probes, snaps, "doc_id", "probe_ts",
                                  "snapshot_ts", ["feat"]).collect()
    assert len(out) == 3
    assert sorted((r.doc_id, r.feat) for r in out) == [
        ("a", 1.5), ("a", 1.5), ("b", None)]


def test_rebalance_spreads_heavy_docs(spark):
    """Finding 5: long-tail docs must land in DIFFERENT partitions."""
    import datetime as dt
    from photohive_spark.skew import rebalance_by_cost
    rows = ([(f"heavy{i}", [1] * 3, 100_000, "w", dt.datetime(2026, 1, 1))
             for i in range(16)] +
            [(f"light{i}", [1] * 3, 50, "w", dt.datetime(2026, 1, 1))
             for i in range(200)])
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, "
              "event_ts timestamp")
    out = rebalance_by_cost(df, num_partitions=16)
    parts = (out.where(F.col("n_tok") == 100_000)
             .select(F.spark_partition_id().alias("pid"))
             .distinct().count())
    assert parts >= 8, f"16 heavy docs in only {parts} partitions"


def test_two_stage_agg_with_separator_in_key(spark):
    """Finding 7: keys containing '#' must not merge."""
    from photohive_spark.skew import two_stage_agg
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a#3", 10.0)], "k string, x double")
    out = {r.k: (r.n, r.total)
           for r in two_stage_agg(df, "k", buckets=4,
                                  aggs={"n": (F.count("*"), F.sum),
                                        "total": (F.sum("x"), F.sum)}).collect()}
    assert out == {"a": (2, 3.0), "a#3": (1, 10.0)}


def test_media_features_null_payload(spark):
    """Finding 9: a null binary payload must not kill the task."""
    from photohive_spark import multimodal
    rows = [("m0", "image", None, 8, 8, None, None),
            ("m1", "image", b"data", 8, 8, None, None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in multimodal.media_features(df).collect()}
    assert len(got) == 2 and got["m0"].n_samples == 64


def test_sessionize_stream_late_event_extends_start(spark, tmp_path):
    """Finding 3: a late (within-watermark, within-gap) event older than the
    open session's start must extend the session backward."""
    import datetime as dt
    from photohive_spark import streaming
    t0 = dt.datetime(2026, 1, 1)
    # file 1: 10:00:00 and 10:00:20; file 2 (late): 09:59:50; then a big gap
    # event at 12:00 to close the session
    f1 = [(1, t0.replace(hour=10)), (1, t0.replace(hour=10, second=20))]
    f2 = [(1, t0.replace(hour=9, minute=59, second=50))]
    f3 = [(1, t0.replace(hour=12))]
    src = str(tmp_path / "late_stream")
    for chunk in (f1, f2, f3):
        (spark.createDataFrame(chunk, "user_id long, ts timestamp")
         .coalesce(1).write.mode("append").parquet(src))
    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    streaming.run_to_memory(
        streaming.sessionize_stream(stream, gap_seconds=600,
                                    watermark="2 hours"), "late_sess")
    rows = spark.sql("select * from late_sess").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.session_start == t0.replace(hour=9, minute=59, second=50)
    assert r.n_events == 3


def test_sessionize_stream_late_cluster_merges(spark, tmp_path):
    """Second-pass finding: multiple same-batch stragglers within gap of
    EACH OTHER must form one session, not singletons."""
    import datetime as dt
    from photohive_spark import streaming
    t0 = dt.datetime(2026, 1, 1)
    f1 = [(1, t0.replace(hour=10)), (1, t0.replace(hour=10, second=20))]
    # two stragglers at 08:00 and 08:05, within 10-min gap of each other
    f2 = [(1, t0.replace(hour=8)), (1, t0.replace(hour=8, minute=5))]
    f3 = [(1, t0.replace(hour=12))]
    src = str(tmp_path / "late_cluster")
    for chunk in (f1, f2, f3):
        (spark.createDataFrame(chunk, "user_id long, ts timestamp")
         .coalesce(1).write.mode("append").parquet(src))
    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    streaming.run_to_memory(
        streaming.sessionize_stream(stream, gap_seconds=600,
                                    watermark="4 hours"), "late_cluster")
    rows = sorted(spark.sql("select * from late_cluster").collect(),
                  key=lambda r: r.session_start)
    # one merged straggler session [08:00, 08:05] x2 events, then the
    # 10:00 session closed by the 12:00 event
    assert [(r.session_start.hour, r.session_start.minute, r.n_events)
            for r in rows] == [(8, 0, 2), (10, 0, 2)]


# ---- round-2 review fixes ----

def test_run_resumable_empty_input(spark, tmp_path):
    """An all-empty wave (e.g. --min-tok filters every row) must commit
    rows=0 manifests, not crash on the schema-less metrics read."""
    from photohive_spark import lineage
    empty = spark.range(0).selectExpr("cast(id as string) as doc_id",
                                      "id as v")
    out_dir = str(tmp_path / "empty")
    entries = lineage.run_resumable(spark, empty, out_dir, n_buckets=3)
    assert len(entries) == 3
    assert all(e["rows"] == 0 for e in entries)
    assert lineage.completed_buckets(out_dir) == {0, 1, 2}


def test_run_resumable_rejects_bucket_column(spark, tmp_path):
    from photohive_spark import lineage
    import pytest as _pt
    df = spark.range(5).selectExpr("cast(id as string) as doc_id",
                                   "id as bucket")
    with _pt.raises(ValueError, match="reserved"):
        lineage.run_resumable(spark, df, str(tmp_path / "col"), n_buckets=2)


def test_connected_components_raises_when_unconverged(spark):
    from photohive_spark import dedup
    import pytest as _pt
    chain = [(f"c{i}", f"c{i+1}") for i in range(6)]
    pairs = spark.createDataFrame(chain, "id_a string, id_b string")
    nodes = spark.createDataFrame([(f"c{i}",) for i in range(7)],
                                  "doc_id string")
    with _pt.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, nodes, max_iters=2)
    # and converges with enough rounds
    got = {r.doc_id: r.component
           for r in dedup.connected_components(pairs, nodes,
                                               max_iters=10).collect()}
    assert set(got.values()) == {"c0"}


def test_sample_threshold_rounds_not_truncates():
    from photohive_spark.sampling import _thresh
    assert _thresh(0.29) == 2900          # 0.29*10000 = 2899.999... in fp64
    assert _thresh(0.25) == 2500
    assert _thresh(1.0) == 10000 and _thresh(0.0) == 0


def test_read_result_all_empty_buckets(spark, tmp_path):
    """read_result on a fully-empty committed output returns a typed empty
    DataFrame (from the schema recorded in meta.json), not a crash."""
    from photohive_spark import lineage
    empty = spark.range(0).selectExpr("cast(id as string) as doc_id",
                                      "id as v")
    out_dir = str(tmp_path / "empty_read")
    lineage.run_resumable(spark, empty, out_dir, n_buckets=2)
    got = lineage.read_result(spark, out_dir)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["doc_id", "v"]


def test_deterministic_salt_stable_across_runs(spark):
    """Salts are a pure function of row content: two independent
    evaluations (and a repartitioned layout, which re-rolls any
    monotonically_increasing_id-based salt) assign identical buckets."""
    from photohive_spark.skew import deterministic_salt
    df = spark.range(1000).selectExpr("cast(id % 37 as string) as k",
                                      "id * 13 as ts")
    run1 = {(r.k, r.ts): r.s for r in df.withColumn(
        "s", deterministic_salt(8, "k", "ts")).collect()}
    run2 = {(r.k, r.ts): r.s for r in df.repartition(17).withColumn(
        "s", deterministic_salt(8, "k", "ts")).collect()}
    assert run1 == run2
    assert set(run1.values()) == set(range(8))  # actually spreads


def test_read_result_legacy_meta_without_schema(spark, tmp_path):
    """A pre-schema_json meta.json on an all-empty output raises a clear
    error, not KeyError."""
    import json, os
    import pytest
    from photohive_spark import lineage
    empty = spark.range(0).selectExpr("cast(id as string) as doc_id",
                                      "id as v")
    out_dir = str(tmp_path / "legacy_empty")
    lineage.run_resumable(spark, empty, out_dir, n_buckets=2)
    meta_path = os.path.join(out_dir, "_lineage", "meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta.pop("schema_json")
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="legacy meta.json"):
        lineage.read_result(spark, out_dir)
