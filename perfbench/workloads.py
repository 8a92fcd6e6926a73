"""The workloads: pipeline, per-pass digest, oracle and layer ladder.

Each workload drives the package only through its public functions. A
pass builds the pipeline afresh (plan building is part of what a caller
pays per action) and runs it to its sink; ``Observation`` collects a row
count and an order-independent digest of every output column during that
same action, so the passes of a run can be compared without another
action.

The digest's hashing is part of every pass's measured work (one
aggregate over the output the pass produces anyway).

``ladder()`` lists the pipeline prefixes the traced run noop-times: the
self time of a layer is the median wall of the prefix that ends with it
minus that of the prefix it builds on. ``layers`` names the per-layer
metrics a workload must read as non-zero; the traced run fails if one
reads 0, so a plan-shape change cannot pass as a plausible number.
"""

from __future__ import annotations

import math
import os
import shutil
from functools import cached_property

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Observation

from photohive_spark import (dedup, engine, kernels, lineage, multimodal, pit,
                             sketch, text, tokenize)
from photohive_spark.config import DEFAULT_CONFIG


def observed(df, *extra):
    """``df`` with a row count, a digest of every column and the
    ``extra`` aggregates attached to its next action."""
    obs = Observation()
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.observe(obs, F.count(F.lit(1)).alias("rows"),
                      F.bit_xor(h).alias("xor"),
                      F.sum(F.pmod(h, F.lit(1 << 31))).alias("sum"),
                      *extra), obs


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def close(a, b, rel: float = 1e-9, abs_: float = 1e-12) -> bool:
    """Recursive allclose over numbers, sequences and dicts."""
    if isinstance(a, dict):
        return (isinstance(b, dict) and a.keys() == b.keys()
                and all(close(a[k], b[k], rel, abs_) for k in a))
    if isinstance(a, (list, tuple, np.ndarray)):
        return (len(a) == len(b)
                and all(close(x, y, rel, abs_) for x, y in zip(a, b)))
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


def _row(r) -> dict:
    return r.asDict(recursive=True)


# per-layer metrics every workload reads from its plans and loops
RUNTIME = ("spark.python_bytes_sent_per_item", "spark.python_bytes_recv_per_item",
           "spark.python_total_s", "spark.scan_bytes_per_item",
           "trace.untraced_items_per_s", "trace.traced_items_per_s")
SHUFFLE = ("spark.exchange_records_per_item", "spark.exchange_bytes_per_item")
ENGINE = ("engine.kernel_core_s_per_kitem", "engine.kernel_share",
          *[f"engine.{k}" for k in engine.KERNEL_STAGES])


class Workload:
    """Base class; subclasses set ``item`` and fill in the hooks."""

    name = ""
    item = ""
    layers: tuple = RUNTIME
    # passes run in set-up, the cold one included: the JVM's JIT and the
    # Python workers take a few passes to settle
    warm_passes = 1
    # timed passes a run makes at least, however long they take
    min_passes = 1

    def __init__(self, spark, inp: str, props: dict, truth: dict,
                 tracer, work: str):
        self.spark, self.inp, self.props, self.truth = spark, inp, props, truth
        self.tr, self.work = tracer, work
        self.hooks: dict = {}     # public timing hooks, set by traced passes

    def read(self) -> None:
        """The input read: one DataFrame per input table."""

    def items(self) -> int:
        raise NotImplementedError

    def expected_rows(self) -> int | None:
        """Output rows of a correct pass, when known before the oracle."""
        return self.items()

    def run_pass(self) -> dict:
        """Run one pass to its sink; returns the observed digest."""
        raise NotImplementedError

    def check(self, last: dict) -> list[str]:
        """Oracle problems after the timed passes (empty when correct)."""
        return []

    def ladder(self) -> dict:
        """name -> callable running one pipeline prefix to its sink."""
        return {}

    def self_pairs(self) -> dict:
        """layer metric -> (prefix, parent prefix) from ``ladder()``."""
        return {}

    def layer_metrics(self, prefix_s: dict, prefix_nodes: dict) -> dict:
        """Workload-specific per-layer metrics measured in the traced run;
        ``prefix_nodes`` holds the executed plans of each ladder step."""
        return {}

    def _read(self, table: str):
        return self.spark.read.parquet(os.path.join(self.inp, table))

    def _sink(self, df, *extra) -> dict:
        out, obs = observed(df, *extra)
        with self.tr.span("action.noop_write"):
            noop(out)
        return obs.get


# ---------------------------------------------------------------- features
class FeaturesFull(Workload):
    """Pre-tokenized docs through the kernel DAG; every output column
    goes to the sink."""

    name, item = "features_full", "token rows"
    layers = RUNTIME + ENGINE
    warm_passes = 3

    def read(self):
        self.tokens = self._read("tokens")

    def items(self):
        return self.props["rows"]

    def features(self, tokens=None):
        with self.tr.span("engine.extract_features_df"):
            return engine.extract_features_df(
                self.tokens if tokens is None else tokens,
                time_acc=self.hooks.get("time_acc"),
                stage_accs=self.hooks.get("stage_accs"))

    def run_pass(self):
        return self._sink(self.features())

    def check(self, last):
        ids = self.truth["sample_doc_ids"]
        sample = self.tokens.where(F.col("doc_id").isin(ids))
        got = {r.doc_id: _row(r) for r in self.features(sample).collect()}
        want = {r.doc_id: r.tokens for r in sample.collect()}
        bad = []
        for d in ids:
            if d not in got or not _features_match(got[d], want[d]):
                bad.append(f"features mismatch for {d}")
        return bad

    def ladder(self):
        cols = ["doc_id", "tokens", "n_tok", "source", "event_ts"]
        return {"scan": lambda: noop(self.tokens.select(*cols)),
                "engine": lambda: noop(self.features())}

    def self_pairs(self):
        return {"engine.self_s": ("engine", "scan")}


def _features_match(row: dict, tokens) -> bool:
    """Spark output row vs the scalar ``kernels.extract_features`` spec."""
    f = kernels.extract_features(np.asarray(tokens, dtype=np.int32),
                                 DEFAULT_CONFIG)
    want = {
        "rms_mean": f["rms_mean"], "rms_std": f["rms_std"],
        "mean_norm_value": f["mean_norm_value"],
        "hist_counts": list(f["hist_counts"]),
        "hist_entropy": f["hist_entropy"],
        "palette": [list(p) for p in f["palette"][:100]],
        "spectrum_bands": list(f["spectrum_bands"]),
        "spectral_peaks": [list(p) for p in f["spectral_peaks"][:10]],
        "autocorr": list(f["autocorr"]),
        "bandpass_energy": list(f["bandpass_energy"]),
        "sharpness_avg": f["sharpness_avg"],
    }
    got = {k: row[k] for k in want}
    got["palette"] = [[p["h"], p["s"], p["v"], p["pct"]] for p in got["palette"]]
    got["spectral_peaks"] = [[p["angle"], p["magnitude"]]
                             for p in got["spectral_peaks"]]
    return close(got, want, rel=1e-7, abs_=1e-9)


class FeaturesAsof(FeaturesFull):
    """Kernel DAG whose consumer keeps two feature columns, then a
    point-in-time join of seeded probes onto those snapshots."""

    name, item = "features_asof", "probes"
    layers = RUNTIME + SHUFFLE + ENGINE + ("pit.matched_frac",)

    def read(self):
        self.tokens = self._read("tokens")
        self.probes = self._read("probes")

    def items(self):
        return self.props["probes"]

    def snapshots(self, tokens=None):
        return self.features(tokens).select(
            "doc_id", F.col("event_ts").alias("snapshot_ts"),
            "rms_mean", "hist_entropy")

    def joined(self, probes=None, tokens=None):
        snaps = self.snapshots(tokens)
        with self.tr.span("pit.asof_join"):
            return pit.asof_join(self.probes if probes is None else probes,
                                 snaps, "doc_id", "probe_ts", "snapshot_ts",
                                 ["rms_mean", "hist_entropy"])

    def run_pass(self):
        d = self._sink(self.joined(), F.count("matched_ts").alias("matched"))
        self.matched = d["matched"]
        return d

    def check(self, last):
        # a probe's answer depends only on its own doc's snapshots, so the
        # sample runs the pipeline over the sampled probes' docs only
        ids = self.truth["sample_probe_ids"]
        probes = self.probes.where(F.col("probe_id").isin(ids))
        docs = sorted({r.doc_id for r in probes.select("doc_id").collect()})
        tokens = self.tokens.where(F.col("doc_id").isin(docs))
        got = self.joined(probes, tokens).collect()
        snaps: dict[str, list] = {}
        for r in self.snapshots(tokens).collect():
            snaps.setdefault(r.doc_id, []).append(r)
        bad = [] if len(got) == len(ids) else ["probe sample rows missing"]
        for r in got:
            seen = [s for s in snaps.get(r.doc_id, ())
                    if s.snapshot_ts <= r.probe_ts]
            best = max(seen, key=lambda s: s.snapshot_ts, default=None)
            want = (None, None, None) if best is None else \
                (best.snapshot_ts, best.rms_mean, best.hist_entropy)
            if r.matched_ts != want[0] or not close(
                    [r.rms_mean, r.hist_entropy], list(want[1:])):
                bad.append(f"as-of mismatch for probe {r.probe_id}")
        if self.matched != self.truth["matched"]:
            bad.append(f"matched {self.matched} probes, oracle says "
                       f"{self.truth['matched']}")
        return bad

    def ladder(self):
        return {"scan": lambda: noop(self.tokens.select(
                    "doc_id", "tokens", "n_tok", "source", "event_ts")),
                "engine": lambda: noop(self.snapshots()),
                "pit": lambda: noop(self.joined())}

    def self_pairs(self):
        return {"engine.self_s": ("engine", "scan"),
                "pit.asof_join_self_s": ("pit", "engine")}

    def layer_metrics(self, prefix_s, prefix_nodes):
        return {"pit.matched_frac": self.matched / self.items()}


# ---------------------------------------------------------------- curation
class Curation(Workload):
    """Tokenize, score, sketch, exact + near dedup, write the kept docs."""

    name, item = "curation", "docs"
    layers = RUNTIME + SHUFFLE + ("tokenize.docs_per_s", "dedup.verify_yield",
                                  "lineage.bytes_written_per_item",
                                  "lineage.files_written")
    min_passes = 2

    def read(self):
        self.docs = self._read("docs")
        self.n_pass = self.n_ladder = 0

    def items(self):
        return self.props["rows"]

    def expected_rows(self):
        return None

    def stages(self) -> "_Stages":
        return _Stages(self.docs, self.tr)

    def out_dir(self, n: int) -> str:
        return os.path.join(self.work, "lineage", f"pass-{n:04d}")

    def run_pass(self):
        """Each pass writes to a fresh directory. The digest is read back
        from the written output by the returned callable, after the
        measured window; reading it removes the directory unless it is
        the newest one, which the oracle reads."""
        s = self.stages()
        with self.tr.span("action.countmin_collect"):
            cms = sorted((r.d, r.bucket, r.cnt) for r in s.countmin.collect())
        kept = s.kept
        self.n_pass += 1
        out, n = self.out_dir(self.n_pass), self.n_pass
        with self.tr.span("lineage.run_resumable"):
            lineage.run_resumable(self.spark, kept, out)
        return lambda: self._digest(out, n, cms)

    def _digest(self, out: str, n: int, cms: list) -> dict:
        written = lineage.read_result(self.spark, out).drop("bucket")
        d, obs = observed(written)
        noop(d)
        if n != self.n_pass:
            shutil.rmtree(out)
        return {**obs.get, "cms": cms}

    def check(self, last):
        bad = []
        totals = {}
        for d, _, cnt in last["cms"]:
            totals[d] = totals.get(d, 0) + cnt
        if set(totals.values()) != {self.props["tokens_total"]}:
            bad.append(f"countmin rows sum to {totals}, expected "
                       f"{self.props['tokens_total']} per depth")
        kept = {r.doc_id for r in lineage.read_result(
            self.spark, self.out_dir(self.n_pass)).select("doc_id").collect()}
        for orig, dup in self.truth["exact_pairs"]:
            if dup in kept:
                bad.append(f"exact duplicate {dup} of {orig} kept")
        # every near-duplicate variant is dropped (its original has the
        # smaller id), unless LSH legitimately missed the pair
        exact_dups = {d for _, d in self.truth["exact_pairs"]}
        near = {b: a for a, b in self.truth["near_pairs"]}
        missed = {b for b in near if b in kept}
        for b in sorted(missed):
            if self._shares_band((near[b], b)):
                bad.append(f"near duplicate {b} of {near[b]} kept")
        want = set(range(self.items())) - exact_dups - set(near) | missed
        if kept != want:
            bad.append(f"kept {len(kept)} docs, oracle keeps {len(want)} "
                       f"({len(kept ^ want)} differ)")
        return bad

    def _shares_band(self, pair) -> bool:
        """Whether LSH had to propose ``pair``: some band of the two
        MinHash signatures is equal and their shingle Jaccard passes."""
        sub = self.docs.where(F.col("doc_id").isin(list(pair)))
        sig = {r.doc_id: r.sig for r in dedup.minhash_signatures(
            sub, hash_fn="fast").collect()}
        a, b = sig[pair[0]], sig[pair[1]]
        rows = dedup.NUM_PERM // dedup.LSH_BANDS
        if not any(a[i:i + rows] == b[i:i + rows]
                   for i in range(0, dedup.NUM_PERM, rows)):
            return False
        sa, sb = (_shingles(r.text) for r in sub.orderBy("doc_id").collect())
        return len(sa & sb) / len(sa | sb) >= 0.5

    def ladder(self):
        def stage(name):
            return lambda: noop(getattr(self.stages(), name))

        def lineage_pass():
            self.n_ladder += 1
            lineage.run_resumable(
                self.spark, self.stages().kept,
                os.path.join(self.work, "lineage", f"ladder-{self.n_ladder}"))

        def lsh():
            out, obs = observed(self.stages().lsh)
            noop(out)
            self.verified = obs.get["rows"]

        steps = {n: stage(n) for n in ("scan", "tokenize", "quality",
                                       "unigram", "countmin", "exact")}
        steps["lsh"] = lsh
        steps["kept"] = stage("kept")
        steps["lineage"] = lineage_pass
        return steps

    def self_pairs(self):
        return {"tokenize.self_s": ("tokenize", "scan"),
                "text.quality_self_s": ("quality", "scan"),
                "text.unigram_logprob_self_s": ("unigram", "tokenize"),
                "sketch.countmin_self_s": ("countmin", "tokenize"),
                "dedup.exact_self_s": ("exact", "scan"),
                "dedup.minhash_lsh_self_s": ("lsh", "exact"),
                "dedup.cc_self_s": ("kept", "lsh"),
                "lineage.write_self_s": ("lineage", "kept")}

    def layer_metrics(self, prefix_s, prefix_nodes):
        files = nbytes = 0
        for root, _, names in os.walk(self.out_dir(self.n_pass)):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, n))
        # LSH candidates are checkpointed; the verify step scans them. No
        # such scan leaves the yield at 0, which fails the traced run.
        cands = max((n["metrics"].get("number of output rows", 0)
                     for n in prefix_nodes["lsh"] if "ExistingRDD" in n["node"]),
                    default=0)
        return {"tokenize.docs_per_s": self.items() / prefix_s["tokenize"],
                "dedup.verify_yield": self.verified / cands if cands else 0.0,
                "lineage.bytes_written_per_item": nbytes / self.items(),
                "lineage.files_written": files}


class _Stages:
    """The curation pipeline's DataFrames, each built through the public
    API on first use (building one can run Spark actions: connected
    components iterates to convergence)."""

    def __init__(self, docs, tracer):
        self.scan, self.tr = docs, tracer

    def _call(self, name, fn, *args, **kw):
        with self.tr.span(name):
            return fn(*args, **kw)

    @cached_property
    def tokenize(self):
        return self._call("tokenize.tokens_from_documents",
                          tokenize.tokens_from_documents, self.scan)

    @cached_property
    def quality(self):
        return self._call("text.quality_score", text.quality_score, self.scan)

    @cached_property
    def unigram(self):
        return self._call("text.unigram_logprob", text.unigram_logprob,
                          self.tokenize)

    @cached_property
    def countmin(self):
        return self._call("sketch.countmin", sketch.countmin, self.tokenize)

    @cached_property
    def exact(self):
        return self._call("dedup.exact_dedup", dedup.exact_dedup, self.scan)

    @cached_property
    def unique(self):
        return self.scan.join(self.exact.select("doc_id"), "doc_id",
                              "left_semi")

    @cached_property
    def lsh(self):
        return self._call("dedup.minhash_lsh_pairs", dedup.minhash_lsh_pairs,
                          self.unique, hash_fn="fast")

    @cached_property
    def kept(self):
        """Exact-unique docs that represent their near-dup component,
        with their quality and LM scores."""
        comp = self._call("dedup.connected_components",
                          dedup.connected_components, self.lsh,
                          self.unique.select("doc_id"))
        reps = comp.where(F.col("doc_id") == F.col("component")) \
                   .select("doc_id")
        lp = self.unigram.select(F.col("doc_id").cast("long").alias("doc_id"),
                                 "avg_logprob")
        return (self.unique.join(reps, "doc_id", "left_semi")
                .join(self.quality.select("doc_id", "quality"), "doc_id")
                .join(lp, "doc_id", "left"))


def _shingles(doc: str, k: int = 3) -> set:
    words = [w for w in doc.split(" ") if w]
    return {tuple(words[i:i + k]) for i in range(max(1, len(words) - k + 1))}


# ------------------------------------------------------------------ images
CODECS = ("jpeg_baseline", "jpeg_progressive", "png", "gif")


class Images(Workload):
    """Mixed-codec corpus through the full image report."""

    name, item = "images", "images"
    layers = RUNTIME + tuple(f"codec.{c}_ms_per_mp" for c in CODECS) + (
        "multimodal.report_ms_per_mp", "multimodal.decode_share")

    def read(self):
        self.media = self._read("media")

    def items(self):
        return self.props["rows"]

    def report(self, media=None, on_error="fail"):
        with self.tr.span("multimodal.image_report"):
            return multimodal.image_report(
                self.media if media is None else media, mode="real",
                on_error=on_error)

    def run_pass(self):
        return self._sink(self.report())

    def payloads(self, ids=None) -> list[dict]:
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(self.inp, "media"),
                          columns=["media_id", "payload"]).to_pylist()
        return [r for r in t if ids is None or r["media_id"] in ids]

    def check(self, last):
        ids = self.truth["sample_media_ids"]
        got = {r.media_id: _row(r) for r in self.report(
            self.media.where(F.col("media_id").isin(ids))).collect()}
        bad = []
        from photohive_spark import png
        for p in self.payloads(set(ids)):
            planes = png.decode_image_rgb(p["payload"])
            want = multimodal.report_image_arrays(
                planes["r"], planes["g"], planes["b"], DEFAULT_CONFIG)
            row = got.get(p["media_id"])
            if row is None or not close({k: row[k] for k in want}, want):
                bad.append(f"image report mismatch for {p['media_id']}")
        return bad

    def ladder(self):
        return {"scan": lambda: noop(self.media),
                "multimodal": lambda: noop(self.report())}

    def self_pairs(self):
        return {"multimodal.self_s": ("multimodal", "scan")}

    def layer_metrics(self, prefix_s, prefix_nodes):
        out = codec_timings(self.payloads(), self.truth["codecs"])
        out["multimodal.skipped_items"] = (
            self.items() - self.report(on_error="skip").count())
        return out


def codec_timings(payloads: list[dict], codecs: dict, per_codec: int = 4,
                  repeats: int = 3) -> dict:
    """Single-thread decode and report timings in this process: median
    of ``repeats`` over the first ``per_codec`` payloads of each codec
    (tall PNGs excluded, they have their own shape)."""
    import time
    from statistics import median

    from photohive_spark import png
    by_codec: dict[str, list] = {}
    for p in payloads:
        by_codec.setdefault(codecs[p["media_id"]], []).append(p["payload"])
    out, dec_s, rep_s, mp_all = {}, 0.0, 0.0, 0.0
    for kind in CODECS:
        blobs = by_codec.get(kind, [])[:per_codec]
        walls, planes = [], []
        for _ in range(repeats):
            t0 = time.perf_counter()
            planes = [png.decode_image_rgb(b) for b in blobs]
            walls.append(time.perf_counter() - t0)
        mp = sum(p["height"] * p["width"] for p in planes) / 1e6
        out[f"codec.{kind}_ms_per_mp"] = median(walls) * 1e3 / mp
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            for p in planes:
                multimodal.report_image_arrays(p["r"], p["g"], p["b"],
                                               DEFAULT_CONFIG)
            walls.append(time.perf_counter() - t0)
        dec_s += out[f"codec.{kind}_ms_per_mp"] * mp
        rep_s += median(walls) * 1e3
        mp_all += mp
    out["multimodal.report_ms_per_mp"] = rep_s / mp_all
    out["multimodal.decode_share"] = dec_s / (dec_s + rep_s)
    return out


# ---------------------------------------------------------------- composite
class FeaturesImages(Workload):
    """``features_asof`` then ``images``, one after the other in every
    pass, on one session: the engine, ``pit``, the Arrow boundary and the
    codecs in one workload. Each part keeps its own input, digest, oracle
    and prefix ladder; its ladder steps are named ``<part>.<step>``."""

    name, item = "features_images", "probes + images"
    parts = ("features_asof", "images")

    def __init__(self, spark, inp: dict, props: dict, truth: dict,
                 tracer, work: str):
        super().__init__(spark, inp, props, truth, tracer, work)
        self.members = [WORKLOADS[p](spark, inp[p], props[p], truth[p],
                                     tracer, work) for p in self.parts]
        for m in self.members:
            m.hooks = self.hooks          # one set of timing hooks
        self.layers = tuple(dict.fromkeys(
            k for m in self.members for k in m.layers))
        self.warm_passes = max(m.warm_passes for m in self.members)
        self.min_passes = max(m.min_passes for m in self.members)

    def read(self):
        for m in self.members:
            m.read()

    def items(self):
        return sum(m.items() for m in self.members)

    def expected_rows(self):
        rows = [m.expected_rows() for m in self.members]
        return None if None in rows else sum(rows)

    def run_pass(self):
        parts = [m.run_pass() for m in self.members]
        return {"rows": sum(d["rows"] for d in parts), "parts": parts}

    def check(self, last):
        return [p for m, d in zip(self.members, last["parts"])
                for p in m.check(d)]

    def ladder(self):
        return {f"{m.name}.{k}": step for m in self.members
                for k, step in m.ladder().items()}

    def self_pairs(self):
        return {layer: (f"{m.name}.{a}", f"{m.name}.{b}")
                for m in self.members
                for layer, (a, b) in m.self_pairs().items()}

    def layer_metrics(self, prefix_s, prefix_nodes):
        out = {}
        for m in self.members:
            own = f"{m.name}."
            out.update(m.layer_metrics(
                {k[len(own):]: v for k, v in prefix_s.items()
                 if k.startswith(own)},
                {k[len(own):]: v for k, v in prefix_nodes.items()
                 if k.startswith(own)}))
        return out


WORKLOADS = {w.name: w for w in (FeaturesFull, FeaturesAsof, Curation, Images,
                                 FeaturesImages)}
