"""DataFrame feature-extraction pipeline.

The Spark recast of the reference's entry point ``get_full_report_data``
(``src/interface.c:20-94``): one ``mapInArrow`` stage runs the full kernel
DAG per row (all-numpy, see kernels.py), emitting one feature
row per (doc_id, event_ts) — the ``Full_Report_Data`` analog
(``src/utilities.h:30-37``).

Scale notes (100 TB / 10^12 rows):
- the extraction is embarrassingly parallel: NO shuffle is introduced —
  mapInArrow runs straight over scan partitions, so throughput scales
  linearly with executors and the only data movement is the Arrow IPC hop
  JVM -> Python worker (the analog of the reference's ctypes FFI boundary,
  ``lib.py:22-34``);
- column pruning: the kernel stage selects only the 5 input columns;
- skew: per-row cost is O(n_tok log n_tok) (FFT) — the long n_tok tail is
  handled by ``skew.rebalance_by_cost`` (optional pre-pass) which
  repartitions by cumulative cost rather than row count;
- token-array equality in = out is an invariant: tokens pass through the
  kernel untouched (tested byte-exact in tests/test_engine.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
import pyspark.sql.types as T

from . import kernels as K
from .config import DEFAULT_CONFIG, EngineConfig

# Output schema — analog of Full_Report_Data (src/utilities.h:30-37) with
# the fixed-width flattening precedent of to_json (reference core.py:388-436):
# palette capped at 100, peaks at 10, sharpness at 10.
FEATURE_FIELDS = [
    T.StructField("rms_mean", T.DoubleType()),
    T.StructField("rms_std", T.DoubleType()),
    T.StructField("mean_norm_value", T.DoubleType()),
    T.StructField("hist_counts", T.ArrayType(T.LongType())),
    T.StructField("hist_entropy", T.DoubleType()),
    T.StructField("palette", T.ArrayType(T.StructType([
        T.StructField("h", T.DoubleType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("pct", T.DoubleType()),
    ]))),
    T.StructField("spectrum_bands", T.ArrayType(T.DoubleType())),
    T.StructField("spectral_peaks", T.ArrayType(T.StructType([
        T.StructField("angle", T.IntegerType()),
        T.StructField("magnitude", T.DoubleType()),
    ]))),
    T.StructField("autocorr", T.ArrayType(T.DoubleType())),
    T.StructField("bandpass_energy", T.ArrayType(T.DoubleType())),
    # per-ROI sharpness — the Sharpnesses analog (src/utilities.h:25-28,
    # set_bounding_boxes core.py:489-515); empty when no ROI column is
    # supplied, capped at 10 entries (README.md:137)
    T.StructField("sharpness", T.ArrayType(T.DoubleType())),
    T.StructField("sharpness_avg", T.DoubleType()),
]

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
    T.StructField("event_ts", T.TimestampType()),
    *FEATURE_FIELDS,
])


def features_row(tokens: np.ndarray, cfg: EngineConfig,
                 rois: list[tuple[int, int]] | None = None) -> dict:
    """One row's feature dict, shaped for the Arrow schema above."""
    f = K.extract_features(tokens, cfg, rois=rois)
    return {
        "rms_mean": f["rms_mean"],
        "rms_std": f["rms_std"],
        "mean_norm_value": f["mean_norm_value"],
        "hist_counts": f["hist_counts"].tolist(),
        "hist_entropy": f["hist_entropy"],
        "palette": [{"h": h, "s": s, "v": v, "pct": p}
                    for (h, s, v, p) in f["palette"][:100]],
        "spectrum_bands": f["spectrum_bands"].tolist(),
        "spectral_peaks": [{"angle": int(a), "magnitude": float(m)}
                           for (a, m) in f["spectral_peaks"][:10]],
        "autocorr": f["autocorr"].tolist(),
        "bandpass_energy": f["bandpass_energy"].tolist(),
        "sharpness": [float(v) for v in f["sharpness"]],
        "sharpness_avg": f["sharpness_avg"],
    }


KERNEL_STAGES = ("stats_s", "hist_s", "autocorr_s", "bandpass_s",
                 "blur_fft_s", "palette_s", "peaks_s")


def kernel_stage_accumulators(spark) -> dict:
    """One Spark accumulator per kernel family (KERNEL_STAGES) — pass as
    ``stage_accs`` to extract_features_df AND to lineage.run_resumable so
    each wave's manifest records per-stage kernel seconds."""
    return {n: spark.sparkContext.accumulator(0.0) for n in KERNEL_STAGES}


def extract_features_df(tokens_df: DataFrame,
                        cfg: EngineConfig = DEFAULT_CONFIG,
                        roi_col: str | None = None,
                        time_acc=None, stage_accs=None) -> DataFrame:
    """tokens table -> feature-snapshot table (one row per doc_id×event_ts).

    ``roi_col`` names an optional array<struct<start:int,end:int>> column of
    per-doc crop boundaries (Crop_Boundaries analog,
    ``src/interface.c:24-27``); when given, the output ``sharpness`` column
    carries one per-ROI sharpness per entry (cap 10), else it is empty.

    Stage shape: Scan -> [optional cost rebalance] -> MapInArrow, the
    token path's one Python stage (an arrow_stage; the streaming path
    calls this function too). No shuffle unless the caller opted into
    rebalancing. The kernel DAG runs straight off each record batch's
    tokens ListArray (flat values + offsets — no per-row ndarray, no
    pandas on either side) and the features come back as Arrow arrays
    built from flat numpy buffers (batch_kernels.batch_extract_arrow);
    the passthrough columns (doc_id, tokens, n_tok, source, event_ts)
    are carried zero-copy. Values are parity-pinned in tests.

    ``time_acc`` (optional Spark accumulator) collects TOTAL kernel wall
    seconds across all workers; ``stage_accs`` (optional dict name ->
    accumulator, keys from KERNEL_STAGES) splits it per kernel family —
    the per-stage analog of the reference's timing macros
    (``src/utilities.h:10-18``; README.md:63-75 times 11 stages),
    surfaced through lineage manifests. Accumulators updated in
    transformations are at-least-once: task retries / speculative
    duplicates overcount, so treat the timing as an advisory profile,
    not an exact meter.
    """
    from .arrow_stage import arrow_stage

    def extract(batch):
        import time as _time

        from .batch_kernels import batch_extract_arrow
        t0 = _time.perf_counter()
        rois_list = None
        if roi_col is not None:
            rois_list = [
                None if cell is None
                else [(int(r["start"]), int(r["end"])) for r in cell]
                for cell in batch.column(roi_col).to_pylist()]
        timings = {} if stage_accs is not None else None
        cols = batch_extract_arrow(batch.column("tokens"), cfg, rois_list,
                                   timings=timings)
        if stage_accs is not None:
            for name, secs in timings.items():
                if name in stage_accs:
                    stage_accs[name].add(secs)
        if time_acc is not None:
            time_acc.add(_time.perf_counter() - t0)
        return None, cols

    cols = ["doc_id", "tokens", "n_tok", "source", "event_ts"]
    src = tokens_df.select(*cols, *([roi_col] if roi_col is not None else []))
    return arrow_stage(src, FEATURE_SCHEMA, extract, carry=cols)


def flatten_features(features: DataFrame, n_palette: int = 100,
                     n_peaks: int = 10, n_rois: int = 10) -> DataFrame:
    """Fixed-width padded flat feature vector — the ``to_json`` export
    analog (reference ``core.py:388-436``: exactly 100 color entries, 10
    blur vectors, 10 ROI sharpnesses, zero-padded). Emits one array<double>
    column ``fvec`` plus the keys, so downstream ML ingest gets a stable
    dense layout. Pure Catalyst: concat of zero-padded slices, no Python."""
    def pad(col: str, n: int, width: int = 1) -> F.Column:
        zeros = F.array_repeat(F.lit(0.0), n * width)
        flat = F.col(col).cast("array<double>") if width == 1 else \
            F.flatten(F.transform(
                col, lambda st: F.array(*[st[f].cast("double")
                                          for f in _STRUCT_FIELDS[col]])))
        return F.slice(F.concat(flat, zeros), 1, n * width)

    _STRUCT_FIELDS = {"palette": ["h", "s", "v", "pct"],
                      "spectral_peaks": ["angle", "magnitude"]}
    fvec = F.concat(
        F.array(F.col("rms_mean"), F.col("rms_std"), F.col("mean_norm_value"),
                F.col("hist_entropy"), F.col("sharpness_avg")),
        F.col("spectrum_bands").cast("array<double>"),
        F.col("autocorr").cast("array<double>"),
        F.col("bandpass_energy").cast("array<double>"),
        F.col("hist_counts").cast("array<double>"),
        pad("palette", n_palette, 4),
        pad("spectral_peaks", n_peaks, 2),
        pad("sharpness", n_rois),
    )
    return features.select("doc_id", "event_ts", "n_tok", "source",
                           fvec.alias("fvec"))


def corpus_histogram(features: DataFrame, by: str | None = None) -> DataFrame:
    """Corpus/group-level token histogram + entropy — the PRODUCTION path
    that q_hist/q_entropy_by_source's docstrings promise: aggregates the
    per-doc fixed-width ``hist_counts`` arrays the kernel already emits
    (posexplode = hist_cells rows per doc REGARDLESS of n_tok) instead of
    exploding tokens (n_tok rows per doc — 10^4x more shuffle volume on an
    LLM corpus). One shuffle on (group, bin) with map-side partial sums.

    Returns (``by``?, bins array<struct<bin,cnt>> sorted by bin, total,
    entropy) — entropy via an ORDERED fold over the bin-sorted counts, the
    same determinism rule as the oracle-parity form (zero bins dropped, as
    in the explode form)."""
    key = [by] if by else []
    ex = features.select(*key,
                         F.posexplode("hist_counts").alias("bin", "cnt"))
    cnts = (ex.groupBy(*key, "bin").agg(F.sum("cnt").alias("cnt"))
            .where(F.col("cnt") > 0))
    arr = (cnts.groupBy(*key)
           .agg(F.sum("cnt").alias("total"),
                F.sort_array(F.collect_list(F.struct("bin", "cnt")))
                 .alias("bins")))
    ent = F.expr("""
      -aggregate(bins, cast(0.0 as double),
                 (a, b) -> a + (b.cnt / cast(total as double))
                             * ln(b.cnt / cast(total as double)))
    """)
    return arr.select(*key, "bins", "total", F.round(ent, 6).alias("entropy"))


def feature_snapshots(tokens_df: DataFrame, n_snapshots: int = 1,
                      snapshot_interval_s: int = 3600,
                      cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Feature table keyed (doc_id, snapshot_ts).

    For the point-in-time layer: each doc gets ``n_snapshots`` rows at
    event_ts + k*interval (deterministic), features computed on the
    token prefix visible at that snapshot (last 1/(n-k) truncation would be
    arbitrary; we use the full sequence for k=last and proportional
    prefixes before — a monotone 'state as of ts' semantics).
    """
    if n_snapshots == 1:
        return (extract_features_df(tokens_df, cfg)
                .withColumnRenamed("event_ts", "snapshot_ts"))
    frames = []
    for k in range(1, n_snapshots + 1):
        frac = k / n_snapshots
        prefix = tokens_df.withColumn(
            "tokens",
            F.slice("tokens", 1, F.greatest(
                F.lit(1), F.ceil(F.col("n_tok") * frac).cast("int"))),
        ).withColumn("n_tok", F.size("tokens").cast("int")).withColumn(
            "event_ts",
            F.col("event_ts") + F.make_interval(secs=F.lit((k - 1) * snapshot_interval_s)),
        )
        frames.append(extract_features_df(prefix, cfg))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.withColumnRenamed("event_ts", "snapshot_ts")
