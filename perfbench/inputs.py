"""Seeded input generators for the four workloads.

Every input is a pure function of (workload, seed, size): the same
arguments give byte-identical parquet files. Distributions are stratified:
every seed gets the same multiset of lengths, vocabulary widths, stopword
rates and junk count, and only which row gets which value and the
content change with the seed. Throughput then does not swing with the
seed (a free draw of the longest doc alone moved a pass by 10-20%),
while the data itself is fresh on every seed.

Where the repository documents an input domain, the generators follow
it; every other parameter is an assumption and is named as one below.

Inputs are written under ``<work>/inputs/<workload>-s<seed>-n<rows>/``
together with ``props.json`` (the input properties a run records) and
``truth.json`` (what the oracles need: planted duplicates, sample ids).
A finished directory is reused; a half-written one is never visible
because it is renamed into place only when complete.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
EPOCH_US = 1_767_225_600 * 1_000_000     # 2026-01-01T00:00:00Z
HOUR_US = 3600 * 1_000_000
SOURCES = ("web", "books", "code", "forum")

# base row counts at size 1.0 (features_asof counts docs, each with 1-5
# snapshot rows and 2 probes)
BASE_ROWS = {"features_full": 1_500, "features_asof": 200,
             "curation": 600, "images": 8}
# n_tok domain: lognormal long tail clipped to [350, 120000], as in
# FIXTURES.md section 1 (the reference's input floor and ceiling). The
# median and log-sigma are assumptions.
N_TOK_RANGE = (350, 120_000)
N_TOK_MEDIAN, N_TOK_SIGMA = 1024, 1.0
# every table arrives as this many parquet files, the way an upstream
# job leaves it; small files scan as one task each
FILES = 16


def _stratified_lognormal(rng, n: int, median: float, sigma: float,
                          lo: int, hi: int) -> np.ndarray:
    """n integers whose empirical quantiles are those of a clipped
    lognormal: the midpoint of each 1/n-wide stratum, in seeded order."""
    inv = NormalDist().inv_cdf
    z = np.array([inv((i + 0.5) / n) for i in range(n)])
    v = np.clip(np.round(median * np.exp(sigma * z)), lo, hi).astype(np.int64)
    return v[rng.permutation(n)]


def _spread(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """n values evenly spread over [lo, hi), in seeded order."""
    return rng.permutation(lo + (hi - lo) * np.arange(n) / n)


def _write_table(table: pa.Table, out_dir: str, files: int = FILES) -> int:
    """Write ``table`` as ``files`` part-NNNNN.parquet files; returns bytes
    written."""
    os.makedirs(out_dir)
    total = 0
    rows_per_file = -(-table.num_rows // files)
    for i, start in enumerate(range(0, max(table.num_rows, 1), rows_per_file)):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(start, rows_per_file), path)
        total += os.path.getsize(path)
    return total


def _quartiles(x: np.ndarray) -> list[float]:
    return [float(v) for v in np.percentile(x, [25, 50, 75])]


# ----------------------------------------------------------------- tokens
def _token_rows(rng, n: int):
    """Token arrays with the documented long-tail length distribution.
    Each doc draws from its own window of the vocabulary, so palettes and
    histograms differ from doc to doc."""
    n_tok = _stratified_lognormal(rng, n, N_TOK_MEDIAN, N_TOK_SIGMA,
                                  *N_TOK_RANGE)
    offs = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int64)
    base = np.repeat(rng.integers(0, VOCAB, n), n_tok)
    width = np.repeat(_spread(rng, 64, VOCAB, n).astype(np.int64), n_tok)
    flat = ((base + (rng.random(int(offs[-1])) * width).astype(np.int64))
            % VOCAB).astype(np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)),
                                      pa.array(flat))
    return tokens, n_tok


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us", tz="UTC"))


def gen_features_full(rng, n: int, out: str) -> tuple[dict, dict]:
    tokens, n_tok = _token_rows(rng, n)
    ids = np.arange(n)
    table = pa.table({
        "doc_id": pa.array([f"d{i:08d}" for i in ids]),
        "tokens": tokens,
        "n_tok": pa.array(n_tok.astype(np.int32)),
        "source": pa.array([SOURCES[i] for i in rng.integers(0, 4, n)]),
        "event_ts": _ts(EPOCH_US + ids * 37_000_000),
    })
    nbytes = _write_table(table, os.path.join(out, "tokens"))
    sample = sorted(int(i) for i in rng.choice(n, min(n, 24), replace=False))
    props = {"rows": n, "n_tok_quartiles": _quartiles(n_tok),
             "n_tok_max": int(n_tok.max()), "tokens_total": int(n_tok.sum()),
             "input_bytes": nbytes}
    return props, {"sample_doc_ids": [f"d{i:08d}" for i in sample]}


def gen_features_asof(rng, n_docs: int, out: str) -> tuple[dict, dict]:
    """1-5 versions (snapshots) per doc, as in FIXTURES.md section 2, and
    2 probes per doc. Probes are spread from 2 h before a doc's
    first version to 4 h after its last, so some see no snapshot at all.
    The probe rate, that spread and the 1-6 h gaps between versions are
    assumptions."""
    # stratified like the lengths: every seed has the same row count
    versions = rng.permutation(np.arange(n_docs) % 5 + 1)
    n = int(versions.sum())
    doc = np.repeat(np.arange(n_docs), versions)
    first = EPOCH_US + np.arange(n_docs) * 37_000_000
    start = np.cumsum(versions) - versions           # first row of each doc
    gaps = rng.integers(1, 7, n) * HOUR_US
    gaps[start] = 0
    cum = np.cumsum(gaps)
    snap_ts = np.repeat(first, versions) + cum - np.repeat(cum[start], versions)
    tokens, n_tok = _token_rows(rng, n)
    doc_ids = np.array([f"d{i:08d}" for i in range(n_docs)], dtype=object)
    table = pa.table({
        "doc_id": pa.array(doc_ids[doc].tolist()),
        "tokens": tokens,
        "n_tok": pa.array(n_tok.astype(np.int32)),
        "source": pa.array([SOURCES[i] for i in rng.integers(0, 4, n)]),
        "event_ts": _ts(snap_ts),
    })
    nbytes = _write_table(table, os.path.join(out, "tokens"))

    last = np.maximum.reduceat(snap_ts, start)
    n_probes = 2 * n_docs
    p_doc = rng.permutation(np.repeat(np.arange(n_docs), 2))
    lo = first[p_doc] - 2 * HOUR_US
    hi = last[p_doc] + 4 * HOUR_US
    p_ts = (lo + rng.random(n_probes) * (hi - lo)).astype(np.int64)
    probes = pa.table({"probe_id": pa.array(np.arange(n_probes)),
                       "doc_id": pa.array(doc_ids[p_doc].tolist()),
                       "probe_ts": _ts(p_ts)})
    nbytes += _write_table(probes, os.path.join(out, "probes"))
    matched = int((p_ts >= first[p_doc]).sum())
    sample = sorted(int(i) for i in rng.choice(n_probes, min(n_probes, 48),
                                                replace=False))
    props = {"rows": n, "docs": n_docs, "probes": n_probes,
             "n_tok_quartiles": _quartiles(n_tok), "n_tok_max": int(n_tok.max()),
             "probes_before_first_snapshot": n_probes - matched,
             "input_bytes": nbytes}
    return props, {"sample_probe_ids": sample, "matched": matched}


# --------------------------------------------------------------- curation
_STOP = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]


def _word_list(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    return ["".join(letters[rng.integers(0, 26, k)]) for k in lens]


def gen_curation(rng, n: int, out: str) -> tuple[dict, dict]:
    """Raw text with planted exact duplicates (6 %), near-duplicates
    (6 %, half whitespace-only variants, half with one word replaced) and
    a spread of quality: 10 % punctuation-heavy junk, the rest with
    stopword densities from 0 to 40 %. All of these rates, and the
    lognormal word counts (median 120, clipped to [20, 600]), are
    assumptions: the repository documents no raw-text corpus."""
    vocab = _word_list(rng, 4000)
    junk = ["$$", "###", "!!!", "@@", "%%", "&&&", "~~", "::"]
    n_exact = n_near = int(0.06 * n)
    n_orig = n - n_exact - n_near
    lens = _stratified_lognormal(rng, n_orig, 120, 0.6, 20, 600)
    stop_rate = _spread(rng, 0.0, 0.4, n_orig)
    is_junk = rng.permutation(n_orig) < round(0.10 * n_orig)
    texts: list[str] = []
    for i in range(n_orig):
        ws = rng.integers(0, len(vocab), lens[i])
        words = [vocab[w] for w in ws]
        sw = np.nonzero(rng.random(lens[i]) < stop_rate[i])[0]
        for j in sw:
            words[j] = _STOP[j % len(_STOP)]
        if is_junk[i]:
            for j in range(0, lens[i], 2):
                words[j] = junk[j % len(junk)]
        texts.append(" ".join(words))
    # planted copies take the highest ids, so the original always has the
    # smaller id and is the one dedup keeps
    srcs = rng.choice(n_orig, n_exact + n_near, replace=False)
    exact_pairs, near_pairs = [], []
    for j, s in enumerate(srcs[:n_exact]):
        texts.append(texts[s])
        exact_pairs.append((int(s), n_orig + j))
    for j, s in enumerate(srcs[n_exact:]):
        words = texts[s].split(" ")
        if j % 2 == 0:               # whitespace variant: same shingles
            variant = "  ".join(words) + " "
        else:                        # one word replaced mid-document
            pos = len(words) // 2
            words[pos] = vocab[int(rng.integers(0, len(vocab)))] + "x"
            variant = " ".join(words)
        texts.append(variant)
        near_pairs.append((int(s), n_orig + n_exact + j))
    ids = np.arange(n)
    table = pa.table({
        "doc_id": pa.array(ids.astype(np.int64)),
        "text": pa.array(texts),
        "source": pa.array([SOURCES[i] for i in rng.integers(0, 4, n)]),
    })
    nbytes = _write_table(table, os.path.join(out, "docs"))
    n_words = np.array([len(t.split()) for t in texts])
    props = {"rows": n, "words_quartiles": _quartiles(n_words),
             "words_max": int(n_words.max()),
             "tokens_total": int(n_words.sum()),
             "planted_exact_dup_rate": n_exact / n,
             "planted_near_dup_rate": n_near / n,
             "junk_rate": float(is_junk.mean()), "input_bytes": nbytes}
    return props, {"exact_pairs": exact_pairs, "near_pairs": near_pairs}


# ----------------------------------------------------------------- images
# (height, width): from the reference's 350x350 minimum
# (SURVEY.md, pre_compute_error_checks) up to bench.py's largest class
SIZE_CLASSES = [(350, 350), (360, 480), (420, 560), (480, 640)]
# tall Paeth PNG at the reference's extreme 5:1 aspect ratio
TALL = (1750, 350)
# codec cycle, from bench.py's image corpus (3 baseline JPEG, 2
# progressive JPEG, 2 Paeth PNG, 1 GIF in 8); that mix is an assumption
CODEC_BY_SLOT = ("jpeg_baseline", "jpeg_baseline", "jpeg_progressive", "png",
                 "jpeg_baseline", "gif", "jpeg_progressive", "png")
# slots per cycle; the last slot of each cycle is the tall PNG
IMAGE_SLOTS = 8


def _image(rng, h: int, w: int, hardness: int) -> np.ndarray:
    """A smooth gradient blended with noise; hardness 0..2 sets how much
    noise, i.e. how many bits the entropy decoder has to chew through
    (as in bench.py's corpus)."""
    yy, xx = np.mgrid[0:h, 0:w]
    phase = rng.integers(0, 256, 3)
    smooth = ((xx * 255) // w + (yy * 127) // h)[..., None] + phase
    noise = rng.integers(0, 256, (h, w, 3))
    return (((smooth * (2 - hardness) + noise * (hardness + 1)) // 3)
            % 256).astype(np.uint8)


def encode(kind: str, img: np.ndarray) -> bytes:
    from photohive_spark import gif, jpeg, png
    if kind == "jpeg_baseline":
        return jpeg.encode_jpeg(img, quality=85)
    if kind == "jpeg_progressive":
        return jpeg.encode_jpeg_progressive(img, quality=85)
    if kind in ("png", "png_tall"):
        return png.encode_png(img, filter_type=4)
    levels = np.array([0, 51, 102, 153, 204, 255])
    q = np.argmin(np.abs(img[..., None].astype(int) - levels), axis=3)
    return gif.encode_gif((q[..., 0] * 36 + q[..., 1] * 6 + q[..., 2])
                          .astype(np.uint8))


def gen_images(rng, n: int, out: str) -> tuple[dict, dict]:
    """Every payload is distinct. One image in ``IMAGE_SLOTS`` is a tall
    Paeth PNG; the others cycle through the codecs, size classes and
    hardness levels."""
    slots = rng.permutation(np.arange(n) % IMAGE_SLOTS)
    jobs, kinds, codecs, pixels = [], {}, {}, 0
    for i in range(n):
        s = int(slots[i])
        if s == IMAGE_SLOTS - 1:
            kind, (h, w) = "png_tall", TALL
        else:
            kind, (h, w) = CODEC_BY_SLOT[s % 8], SIZE_CLASSES[s % 4]
        jobs.append((kind, _image(rng, h, w, s % 3)))
        kinds[kind] = kinds.get(kind, 0) + 1
        codecs[f"m{i:06d}"] = kind
        pixels += h * w
    # the encoders are pure numpy and slow; encode on all cores (forked
    # before any Spark or sampler thread exists)
    with multiprocessing.get_context("fork").Pool(
            min(n, len(os.sched_getaffinity(0)))) as pool:
        payloads = pool.starmap(encode, jobs)
        pool.close()
        pool.join()
    rows = [(f"m{i:06d}", payloads[i], img.shape[1], img.shape[0])
            for i, (_, img) in enumerate(jobs)]
    table = pa.table({
        "media_id": pa.array([r[0] for r in rows]),
        "kind": pa.array(["image"] * n),
        "payload": pa.array([r[1] for r in rows], type=pa.binary()),
        "meta_width": pa.array([r[2] for r in rows], type=pa.int32()),
        "meta_height": pa.array([r[3] for r in rows], type=pa.int32()),
        "meta_sample_rate": pa.array([None] * n, type=pa.int32()),
        "meta_n_frames": pa.array([None] * n, type=pa.int32()),
    })
    # one image per file: per-image cost varies 10x across codecs and
    # sizes, so small tasks keep the cores evenly loaded
    nbytes = _write_table(table, os.path.join(out, "media"), files=n)
    sample = sorted(int(i) for i in rng.choice(n, min(n, 3), replace=False))
    props = {"rows": n, "codec_mix": dict(sorted(kinds.items())),
             "pixels_total": pixels, "input_bytes": nbytes}
    return props, {"sample_media_ids": [f"m{i:06d}" for i in sample],
                   "codecs": codecs}


GENERATORS = {"features_full": gen_features_full,
              "features_asof": gen_features_asof,
              "curation": gen_curation, "images": gen_images}


# a composite workload reads the inputs of its parts, made from its seed
PARTS = {"features_images": ("features_asof", "images")}


def rows_for(workload: str, size: float) -> int:
    return max(8, int(round(BASE_ROWS[workload] * size)))


def materialize(work: str, workload: str, seed: int, size: float):
    """Generate (or reuse) the input; returns (dir, props, truth). For a
    composite workload each of the three is a dict keyed by part."""
    if workload in PARTS:
        got = {p: materialize(work, p, seed, size) for p in PARTS[workload]}
        return tuple({p: g[i] for p, g in got.items()} for i in range(3))
    n = rows_for(workload, size)
    final = os.path.join(work, "inputs", f"{workload}-s{seed}-n{n}")
    if not os.path.exists(os.path.join(final, "props.json")):
        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
        props, truth = GENERATORS[workload](rng, n, tmp)
        props.update(workload=workload, seed=seed, size=size)
        with open(os.path.join(tmp, "truth.json"), "w") as fh:
            json.dump(truth, fh)
        with open(os.path.join(tmp, "props.json"), "w") as fh:
            json.dump(props, fh)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    with open(os.path.join(final, "props.json")) as fh:
        props = json.load(fh)
    with open(os.path.join(final, "truth.json")) as fh:
        truth = json.load(fh)
    return final, props, truth
