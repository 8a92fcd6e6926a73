"""Spark feature extraction == local numpy kernels, token equality in=out,
and no row-at-a-time Python in any plan."""

import numpy as np
import pytest

from photohive_spark import kernels as K
from photohive_spark.config import DEFAULT_CONFIG as CFG
from photohive_spark.engine import extract_features_df, features_row
from photohive_spark.tokenize import tokens_table


@pytest.fixture(scope="module")
def feats(spark, sf_dir):
    toks = tokens_table(spark, sf_dir)
    out = extract_features_df(toks, CFG)
    sample = out.orderBy("doc_id").limit(25).collect()
    inputs = {r.doc_id: r.tokens for r in toks.orderBy("doc_id").limit(25).collect()}
    return sample, inputs


def test_token_equality_invariant(feats):
    sample, inputs = feats
    for r in sample:
        assert list(r.tokens) == list(inputs[r.doc_id]), r.doc_id


def test_features_match_local_kernels(feats):
    sample, inputs = feats
    for r in sample:
        t = np.asarray(inputs[r.doc_id], dtype=np.int32)
        want = features_row(t, CFG)
        assert np.isclose(r.rms_mean, want["rms_mean"], rtol=1e-12)
        assert np.isclose(r.rms_std, want["rms_std"], rtol=1e-12)
        assert np.isclose(r.mean_norm_value, want["mean_norm_value"], rtol=1e-12)
        assert list(r.hist_counts) == want["hist_counts"]
        assert np.isclose(r.hist_entropy, want["hist_entropy"], rtol=1e-12)
        assert np.allclose(r.spectrum_bands, want["spectrum_bands"], rtol=1e-9)
        assert np.allclose(r.autocorr, want["autocorr"], rtol=1e-9)
        assert np.allclose(r.bandpass_energy, want["bandpass_energy"], rtol=1e-9)
        assert np.isclose(r.sharpness_avg, want["sharpness_avg"], rtol=1e-9)
        got_pal = [(p.h, p.s, p.v, p.pct) for p in r.palette]
        want_pal = [(p["h"], p["s"], p["v"], p["pct"]) for p in want["palette"]]
        assert np.allclose(got_pal, want_pal, rtol=1e-9)
        got_peaks = [(p.angle, p.magnitude) for p in r.spectral_peaks]
        want_peaks = [(p["angle"], p["magnitude"]) for p in want["spectral_peaks"]]
        assert got_peaks == pytest.approx(want_peaks)


def test_row_counts_preserved(spark, sf_dir):
    toks = tokens_table(spark, sf_dir)
    assert extract_features_df(toks, CFG).count() == toks.count()


def test_no_row_python_in_plan(spark, sf_dir):
    """SURVEY §7: everything Arrow-vectorized — BatchEvalPython forbidden."""
    plan = (extract_features_df(tokens_table(spark, sf_dir), CFG)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" in plan    # r7: Arrow-native kernel stage


def test_arrow_is_the_only_python_boundary(spark, sf_dir, tmp_path):
    """The streaming feature stage, every media operator and every
    per-batch text, dedup and vector stage cross into Python through
    mapInArrow — no mapInPandas twin in any plan."""
    from photohive_spark import (dedup, multimodal, png, similarity,
                                 streaming, text, tokenize)

    src = str(tmp_path / "tokens")
    tokens_table(spark, sf_dir).limit(8).write.parquet(src)
    q = streaming.run_to_memory(
        extract_features_df(streaming.read_tokens_stream(spark, src)),
        "plan_feats")
    plans = {"extract_features_df stream": q._jsq.explainInternal(False)}
    q.stop()

    payload = bytearray(png.encode_png(np.zeros((4, 4, 3), dtype=np.uint8)))
    media = spark.createDataFrame(
        [("m", "image", payload, 4, 4, None, None)], multimodal.MEDIA_SCHEMA)
    for op in (multimodal.media_features, multimodal.image_decode_stats,
               multimodal.image_phash, multimodal.image_report,
               multimodal.media_report):
        df = op(media)
        df.collect()
        plans[op.__name__] = \
            df._jdf.queryExecution().executedPlan().toString()

    docs = spark.createDataFrame(
        [(1, "the cat sat on the cat mat", "web"), (2, "a", "web")],
        "doc_id long, text string, source string")
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 2.0]) for i in range(4)],
        "vec_id long, embedding array<double>")
    cb = np.arange(8, dtype=np.float64).reshape(2, 2, 2)
    codes = similarity.pq_encode(emb, cb)
    stages = {
        "rp_project": similarity.rp_project(
            emb, similarity.rp_matrix_formula(2, 4)),
        "pq_encode": codes,
        "pq_topk": similarity.pq_topk(codes, cb, [1.0, 0.0, 0.0, 0.0], k=2),
        "ivf_assign": similarity.ivf_assign(
            emb, similarity.unit_hyperplanes(4, 2), assign_fn="pandas"),
        "pca_partials_df": similarity.pca_partials_df(emb),
        "word_shingles": dedup.word_shingles(docs),
        "minhash_signatures": dedup.minhash_signatures(docs),
        "simhash": dedup.simhash(docs),
        "repetition_stats": text.repetition_stats(docs),
        "tokens_from_documents": tokenize.tokens_from_documents(docs),
    }
    for name, df in stages.items():
        df.collect()
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
    for name, plan in plans.items():
        assert "MapInArrow" in plan, name
        assert "MapInPandas" not in plan, name


def test_long_tail_docs_through_spark(spark):
    """120k-token docs (the n_tok long tail) flow through the Arrow path
    and match local kernels — the skew-tail robustness check."""
    import datetime as dt
    rng = np.random.default_rng(5)
    rows = [(f"long{i}", rng.integers(0, 50257, 120_000, dtype=np.int32).tolist(),
             120_000, "web", dt.datetime(2026, 1, 1))
            for i in range(4)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, event_ts_ignore string"
        .replace("event_ts_ignore string", "source string, event_ts timestamp"))
    out = {r.doc_id: r for r in extract_features_df(df, CFG).collect()}
    assert len(out) == 4
    for doc_id, toks, *_ in rows:
        want = features_row(np.asarray(toks, dtype=np.int32), CFG)
        got = out[doc_id]
        assert np.isclose(got.rms_mean, want["rms_mean"], rtol=1e-12)
        assert np.allclose(got.spectrum_bands, want["spectrum_bands"], rtol=1e-9)
        assert len(got.tokens) == 120_000


def test_blur_direction_response():
    from photohive_spark import kernels as K2
    rng = np.random.default_rng(9)
    prof = rng.random((72, 40))
    peaks = [(-90, 0.5), (0, 0.2), (87, 0.9)]
    curves = K2.blur_direction_response(prof, peaks)
    assert len(curves) == 3
    for (angle, _), c in zip(peaks, curves):
        q = int(angle / (361.0 / 72) + 36) % 72
        assert (c == prof[q]).all()


def test_null_and_empty_tokens_are_safe(spark):
    import datetime as dt
    rows = [("a", None, 0, "web", dt.datetime(2026, 1, 1)),
            ("b", [], 0, "web", dt.datetime(2026, 1, 1)),
            ("c", [1, 2, 3], 3, "web", dt.datetime(2026, 1, 1))]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string, "
              "event_ts timestamp")
    out = {r.doc_id: r for r in extract_features_df(df, CFG).collect()}
    assert out["a"].rms_mean == 0.0 and out["b"].rms_mean == 0.0
    assert out["c"].rms_mean > 0.0
    assert list(out["c"].tokens) == [1, 2, 3]


def test_multi_snapshot_asof_monotone(spark, sf_dir):
    """feature_snapshots(n>1): snapshots are prefix-features at increasing
    ts; an as-of probe after the k-th snapshot must match snapshot k."""
    from photohive_spark.engine import feature_snapshots
    from photohive_spark import pit
    import pyspark.sql.functions as F2
    toks = tokens_table(spark, sf_dir).limit(10).cache()
    snaps = feature_snapshots(toks, n_snapshots=3, snapshot_interval_s=3600) \
        .select("doc_id", "snapshot_ts", "rms_mean", "n_tok")
    assert snaps.count() == 30
    # probe 90 minutes after event_ts -> must match the 2nd snapshot (k=1)
    probes = toks.select(
        "doc_id",
        (F2.col("event_ts") + F2.expr("interval 90 minutes")).alias("probe_ts"))
    j = pit.asof_join(probes, snaps, "doc_id", "probe_ts", "snapshot_ts",
                      ["rms_mean", "n_tok"])
    rows = j.collect()
    assert len(rows) == 10
    by_key = {(r.doc_id, r.snapshot_ts): r
              for r in snaps.collect()}
    for r in rows:
        assert r.matched_ts is not None
        assert (r.probe_ts - r.matched_ts).total_seconds() == 1800.0  # 2nd snap
        snap = by_key[(r.doc_id, r.matched_ts)]
        assert r.rms_mean == snap.rms_mean and r.n_tok == snap.n_tok


def test_roi_sharpness_end_to_end(spark, sf_dir):
    """ROI plumbing: ROI column -> engine -> per-ROI sharpness equals the
    local kernel on the same slices; no-ROI runs emit empty arrays; the
    10-ROI cap (README.md:137) is enforced."""
    import pyspark.sql.functions as F2
    from photohive_spark.config import VOCAB_SIZE

    rois = [(5, 25), (0, 60), (50, 55)]
    toks = tokens_table(spark, sf_dir).limit(15).withColumn(
        "rois", F2.array(*[
            F2.struct(F2.lit(s).alias("start"), F2.lit(e).alias("end"))
            for s, e in rois]))
    out = {r.doc_id: r for r in
           extract_features_df(toks, CFG, roi_col="rois").collect()}
    inputs = {r.doc_id: np.asarray(r.tokens, dtype=np.float64) / VOCAB_SIZE
              for r in toks.collect()}
    assert out
    for doc_id, row in out.items():
        expected = K.sharpness_rois(inputs[doc_id], rois)
        assert np.allclose(row.sharpness, expected, rtol=1e-9), doc_id
        assert len(row.sharpness) == 3

    # no roi_col -> empty sharpness arrays
    plain = extract_features_df(tokens_table(spark, sf_dir).limit(3), CFG)
    assert all(r.sharpness == [] for r in plain.collect())

    # cap at 10 ROIs
    many = [(i, i + 5) for i in range(15)]
    toks12 = tokens_table(spark, sf_dir).limit(2).withColumn(
        "rois", F2.array(*[
            F2.struct(F2.lit(s).alias("start"), F2.lit(e).alias("end"))
            for s, e in many]))
    capped = extract_features_df(toks12, CFG, roi_col="rois").collect()
    assert all(len(r.sharpness) == 10 for r in capped)
