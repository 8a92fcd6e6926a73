"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exactness baseline, all JVM-side
  (``F.aggregate``/``F.zip_with`` dot products inside whole-stage codegen);
- LSH-bucketed ANN: deterministic random-hyperplane signatures restrict
  the search to bucket-mates — the scale path (a query probes one bucket
  by default, or the ``n_probe`` lowest-margin multiprobe buckets, so a
  10^12-row corpus is never fully scanned);
- IVF ANN: sample-trained k-means cells, the data-adaptive index that
  holds recall on corpora whose neighbors are not angular-close;
- PQ (product quantization): m-byte codes instead of 4*dim-byte vectors
  (32x at dim 64 / m=8) with asymmetric-distance scoring and optional
  exact re-rank — the memory-bound scale path at 10^12 vectors;
- choose_ann_index: sampled recall probe that picks the index + probe
  budget per corpus (LSH for angular-close, IVF otherwise).

The SQL paths use no Python (the hyperplanes are a broadcast literal
array); the GEMM paths (IVF assign_fn="pandas", PQ encode/score,
random projection, PCA) cross into Python through Arrow stages only.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity between two array<double> columns, JVM-side."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def brute_force_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k vs a literal query vector.

    Plan: scan -> project(cosine) -> TakeOrderedAndProject (Spark's
    distributed top-k: per-partition heap then driver merge — no full sort,
    no shuffle of the corpus)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = emb.select(
        F.col(id_col),
        F.round(cosine_expr(F.col(vec_col).cast("array<double>"), q), 6)
         .alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH."""
    return np.random.default_rng(seed).normal(size=(n_planes, dim))


def unit_hyperplanes(dim: int, n: int, seed: int = 42) -> np.ndarray:
    """Unit-normalized seeded hyperplanes — used as data-independent IVF
    centroids (a random-projection coarse quantizer), so the correctness
    oracle can inline them as SQL literals."""
    h = hyperplanes(dim, n, seed)
    return h / np.linalg.norm(h, axis=1, keepdims=True)


def lsh_bucket_expr(vec_col: str, planes: np.ndarray) -> Column:
    """Bucket id = sign bits of <v, p_j> packed into a bigint (JVM-side:
    one zip_with dot product per plane over a literal plane array)."""
    bits = []
    for j, p in enumerate(planes):
        lit = F.array(*[F.lit(float(x)) for x in p])
        dot = F.aggregate(F.zip_with(vec_col, lit, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("bigint")


def ivf_assign(emb: DataFrame, centroids: np.ndarray,
               id_col: str = "vec_id", vec_col: str = "embedding",
               assign_fn: str = "sql") -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (argmax cosine). For the scale path, feed this through
    ``write_ivf_index`` — the output is written partitioned by
    ``ivf_cell`` so ``ivf_topk_indexed`` probes scan only n_probe
    partition directories (true partition pruning); ``ivf_topk`` below
    recomputes the assignment on the fly instead.

    ``assign_fn``: "sql" = per-centroid zip_with dot products, exactly
    reproducible in the DuckDB oracle BUT interpreted (HOF lambdas are
    CodegenFallback — measured 465 s to assign 1M x 64 cells); "pandas"
    (the value's name predates the Arrow boundary) = one numpy GEMM per
    Arrow batch in an arrow_stage (the engine's kernel pattern; measured
    ~20x faster): cell = argmax over V @ C^T (the per-row norm is a
    positive scalar, so it cannot change the argmax — centroids are
    unit-norm by construction), tie-broken like F.greatest(struct)
    (largest cell wins) though FP summation order can flip true
    near-ties vs sql.
    """
    if assign_fn == "pandas":
        from .arrow_stage import arrow_stage, fixed_list

        C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64).T)

        def assign(batch):
            V = _dense(batch.column(vec_col), C.shape[0])
            return None, {"v": fixed_list(V),
                          "ivf_cell": _ivf_cells(V, C).astype(np.int32)}

        return arrow_stage(emb.select(id_col, vec_col),
                           "v array<double>, ivf_cell int", assign,
                           carry=[id_col])
    if assign_fn != "sql":
        raise ValueError(f"unknown assign_fn {assign_fn!r}")
    v = F.col(vec_col).cast("array<double>")
    scores = []
    for ci, c in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        scores.append(F.struct(cosine_expr(v, lit).alias("s"),
                               F.lit(ci).alias("cell")))
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return emb.select(F.col(id_col), v.alias("v"),
                      best["cell"].alias("ivf_cell"))


def _dense(col, dim: int | None = None) -> np.ndarray:
    """Arrow list column of n vectors -> (n, dim) float64 matrix. A row
    that is null or does not hold exactly ``dim`` values (default: the
    widest row) raises ValueError instead of being broadcast."""
    import pyarrow.compute as pc

    lens = pc.fill_null(pc.list_value_length(col), -1).to_numpy()
    dim = int(lens.max()) if dim is None else dim
    bad = lens[lens != dim]
    if bad.size:
        raise ValueError(f"vector width mismatch: expected {dim} values, "
                         f"got {'null' if bad[0] < 0 else bad[0]} "
                         f"({bad.size} such rows)")
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(col), dim)


def _unit_rows(V: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm (all-zero rows stay zero)."""
    return V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)


def _ivf_cells(V: np.ndarray, centroids_t: np.ndarray) -> np.ndarray:
    """IVF cell per row: argmax over V @ C^T (``centroids_t`` is C^T).
    Ties pick the LARGEST cell, matching the sql path's
    F.greatest(struct(s, cell)) semantics."""
    S = V @ centroids_t
    return (S.shape[1] - 1) - np.argmax(S[:, ::-1], axis=1)


def _code_bytes(unit: np.ndarray, codebooks: np.ndarray) -> list[bytes]:
    """One m-byte PQ code per unit row (see _pq_codes)."""
    return [c.tobytes() for c in _pq_codes(unit, codebooks).astype(np.uint8)]


def _pq_codes(unit: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, m) nearest-codeword index per PQ subspace of unit rows. Only
    -2<x,c> of the expanded L2 distance depends on x, so each subspace
    is one matmul plus the codewords' ||c||^2."""
    m, _, dsub = codebooks.shape
    cb = codebooks.astype(np.float64)
    c_sq = (cb ** 2).sum(axis=2)                      # (m, n_codes)
    return np.stack([
        np.argmin(c_sq[j][None, :]
                  - 2.0 * (unit[:, j * dsub:(j + 1) * dsub] @ cb[j].T),
                  axis=1)
        for j in range(m)], axis=1)


def _kmeans_unit(sample: np.ndarray, n_cells: int,
                 iters: int = 5) -> np.ndarray:
    """Deterministic spherical mini k-means over L2-normalized rows."""
    sample = _unit_rows(sample)
    cents = sample[:n_cells].copy()
    for _ in range(iters):
        assign = np.argmax(sample @ cents.T, axis=1)
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def _driver_sample(emb: DataFrame, id_col: str, vec_col: str,
                   sample_rows: int, seed: int = 42) -> np.ndarray:
    """Bounded deterministic driver-side sample: rows ranked by a seeded
    avalanche hash of the id (compiles to TakeOrdered — per-partition
    heap + driver merge, never a full sort), so the sample is
    pseudo-random yet reproducible across runs and cluster sizes. An
    id-prefix sample (orderBy(id).limit) is biased when early ids are
    unrepresentative — e.g. data appended source-by-source."""
    rows = (emb.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)),
                     F.col(id_col))
            .limit(sample_rows).collect())
    return np.array([list(r[vec_col]) for r in rows], dtype=np.float64)


def ivf_centroids_from_sample(emb, n_cells: int = 8,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              iters: int = 5,
                              sample_rows: int = 1024,
                              seed: int = 42) -> np.ndarray:
    """Deterministic mini k-means on a seeded-hash driver-side sample of
    ``sample_rows`` rows (centroid count is tiny; training on a bounded
    sample is the standard IVF recipe — clustering cost is O(sample),
    independent of corpus size)."""
    sample = _driver_sample(emb, id_col, vec_col, sample_rows, seed)
    return _kmeans_unit(sample, n_cells, iters)


def choose_ann_index(emb: DataFrame, k: int = 10,
                     recall_target: float = 0.9,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     n_planes: int = 8, n_cells: int = 8,
                     sample_rows: int = 512, n_queries: int = 8,
                     max_probe: int = 16, seed: int = 42,
                     memory_budget_bytes: int | None = None,
                     pq_m: int = 8, pq_codes: int = 64,
                     rerank_factor: int = 4,
                     n_rows: int | None = None) -> dict:
    """ANN index auto-selection: estimate neighbor hardness with a
    sampled recall probe and choose sign-LSH (+ its n_probe) or IVF
    (+ its n_probe).

    The r4 recall sweep (BENCH/ann_recall_r4.json) showed each index
    owns a regime: single/multi-probe LSH wins angular-close corpora
    (near-duplicate embeddings) at a tiny scan fraction, while
    data-adaptive IVF holds >=0.9 recall everywhere, including corpora
    whose true neighbors sit near cos~0.6 where LSH bucket agreement
    collapses. This helper packages that decision: on a BOUNDED
    driver-side sample (``sample_rows`` rows — the same bounded-collect
    budget as IVF centroid training) it computes exact top-k per probe
    query, then simulates both indexes with the production primitives
    (``hyperplanes``/``multiprobe_signatures`` and ``_kmeans_unit``) and
    picks the cheapest configuration whose estimated recall@k meets
    ``recall_target``; ties and misses fall back to IVF, the
    sweep-proven robust default.

    At 10^12 vectors the decision is not recall-vs-scan alone: the RAW
    float32 index may simply not fit executor memory. With
    ``memory_budget_bytes`` set, the selector also estimates index
    bytes (raw = n_rows x dim x 4; PQ codes = n_rows x pq_m) and, when
    raw exceeds the budget, restricts the choice to the PQ-coded family
    — IVF-PQ with the cheapest n_probe whose SIMULATED
    cell-prune + ADC-top-(k x rerank_factor) recall meets the target
    (exact re-rank makes precision exact, so candidate coverage IS the
    recall). ``n_rows`` sizes the estimate (counted if None). If the
    budget forces PQ but the PQ probe could not run (dim not divisible
    by ``pq_m``, or too few sample rows to train sub-codebooks), the
    selector falls back to the raw-index family and FLAGS it: the
    returned dict carries ``budget_violated=True`` and a
    ``pq_infeasible_reason`` string — callers must treat that as "the
    chosen index will not fit the stated budget", not as a silent pass.
    ``budget_violated`` is likewise True when even the m-byte PQ codes
    exceed the budget (the selector still returns the least-infeasible
    family rather than nothing).

    Returns a dict with the decision (``index``, ``n_probe``) plus the
    full probe diagnostics (per-config recall and scan fractions, mean
    true-neighbor cosine, index-bytes estimates) so the choice is
    auditable."""
    sample = _driver_sample(emb, id_col, vec_col, sample_rows, seed)
    n, dim = sample.shape
    if n < 4 * k:
        raise ValueError(
            f"sample of {n} rows is too small to probe recall@{k}")
    unit = _unit_rows(sample)
    qidx = list(range(min(n_queries, n)))
    sims = unit[qidx] @ unit.T
    true_topk = []
    for row, qi in enumerate(qidx):
        order = np.argsort(-sims[row], kind="stable")
        true_topk.append([j for j in order.tolist() if j != qi][:k])
    mean_neighbor_cos = float(np.mean(
        [sims[row, tk].mean() for row, tk in enumerate(true_topk)]))

    # --- LSH probe: production hyperplanes + multiprobe sequence ---
    planes = hyperplanes(dim, n_planes, seed)
    bits = (sample @ planes.T) > 0
    sigs = bits @ (1 << np.arange(n_planes, dtype=np.int64))
    lsh_probes = [p for p in (1, 2, 4, 8, 16) if p <= max_probe]
    lsh_recall: dict[int, float] = {}
    lsh_scan: dict[int, float] = {}
    for np_ in lsh_probes:
        rec = scan = 0.0
        for row, qi in enumerate(qidx):
            probe = set(multiprobe_signatures(
                planes, sample[qi].tolist(), np_))
            cand = np.isin(sigs, list(probe))
            rec += np.mean([sigs[j] in probe for j in true_topk[row]])
            scan += float(cand.mean())
        lsh_recall[np_] = round(rec / len(qidx), 4)
        lsh_scan[np_] = round(scan / len(qidx), 4)

    # --- IVF probe: same spherical k-means as the real index ---
    cents = _kmeans_unit(sample, n_cells)
    assign = np.argmax(unit @ cents.T, axis=1)
    ivf_probes = [p for p in (1, 2, 3) if p <= n_cells]
    ivf_recall: dict[int, float] = {}
    ivf_scan: dict[int, float] = {}
    for np_ in ivf_probes:
        rec = scan = 0.0
        for row, qi in enumerate(qidx):
            cells = np.argsort(-(unit[qi] @ cents.T), kind="stable")[:np_]
            in_cells = np.isin(assign, cells)
            rec += np.mean([bool(in_cells[j]) for j in true_topk[row]])
            scan += float(in_cells.mean())
        ivf_recall[np_] = round(rec / len(qidx), 4)
        ivf_scan[np_] = round(scan / len(qidx), 4)

    # --- IVF-PQ probe: same cells, scoring by ADC over sample-trained
    # codebooks; recall = coverage of the ADC top-(k x rerank_factor)
    # inside the probed cells (the exact re-rank recovers order) ---
    ivfpq_recall: dict[int, float] = {}
    if dim % pq_m == 0 and n >= 4 * pq_m:
        dsub = dim // pq_m
        ncb = int(min(pq_codes, max(2, n // 4)))
        cbs = np.stack([
            _kmeans_l2(np.ascontiguousarray(
                unit[:, j * dsub:(j + 1) * dsub]), ncb, 8)
            for j in range(pq_m)])
        pq_assign = _pq_codes(unit, cbs)
        for np_ in ivf_probes:
            rec = 0.0
            for row, qi in enumerate(qidx):
                qv = unit[qi]
                lut = np.stack([cbs[j] @ qv[j * dsub:(j + 1) * dsub]
                                for j in range(pq_m)])
                adc = lut[np.arange(pq_m)[None, :], pq_assign].sum(axis=1)
                cells = np.argsort(-(qv @ cents.T),
                                   kind="stable")[:np_]
                masked = np.where(np.isin(assign, cells), adc, -np.inf)
                masked[qi] = -np.inf
                cand = np.argsort(-masked, kind="stable")
                cand = [int(c) for c in cand[:k * rerank_factor]
                        if np.isfinite(masked[c])]
                rec += len(set(cand) & set(true_topk[row])) / k
            ivfpq_recall[np_] = round(rec / len(qidx), 4)

    # --- memory estimate: the 10^12-row decision axis ---
    if n_rows is None and memory_budget_bytes is not None:
        n_rows = emb.count()
    index_bytes = None
    if n_rows is not None:
        index_bytes = {"raw": int(n_rows) * dim * 4,
                       "pq": int(n_rows) * pq_m}
    budget_forces_pq = (memory_budget_bytes is not None
                        and index_bytes is not None
                        and index_bytes["raw"] > memory_budget_bytes)

    # --- decide: cheapest config meeting the target; IVF on a miss;
    # under a budget the raw index cannot honor, only the PQ-coded
    # family is eligible ---
    pq_infeasible = None
    if dim % pq_m != 0:
        pq_infeasible = (f"dim={dim} not divisible by pq_m={pq_m}; "
                         f"pass a compatible pq_m to enable the PQ family")
    elif n < 4 * pq_m:
        pq_infeasible = (f"sample of {n} rows too small to train "
                         f"{pq_m} sub-codebooks (need >= {4 * pq_m})")
    if budget_forces_pq and ivfpq_recall:
        ok = [(ivf_scan[p], p) for p in ivf_probes
              if ivfpq_recall[p] >= recall_target]
        if ok:
            n_probe = min(ok)[1]
        else:
            n_probe = max(ivf_probes, key=lambda p: ivfpq_recall[p])
        index, est = "ivfpq", ivfpq_recall[n_probe]
    else:
        candidates = []
        for np_ in lsh_probes:
            if lsh_recall[np_] >= recall_target:
                candidates.append((lsh_scan[np_], 0, "lsh", np_,
                                   lsh_recall[np_]))
        for np_ in ivf_probes:
            if ivf_recall[np_] >= recall_target:
                candidates.append((ivf_scan[np_], 1, "ivf", np_,
                                   ivf_recall[np_]))
        if candidates:
            candidates.sort()
            _, _, index, n_probe, est = candidates[0]
        else:   # nothing meets target on the sample: IVF at best probe
            n_probe = max(ivf_probes, key=lambda p: ivf_recall[p])
            index, est = "ivf", ivf_recall[n_probe]
    return {"index": index, "n_probe": n_probe,
            "est_recall": est, "recall_target": recall_target,
            "mean_neighbor_cosine": round(mean_neighbor_cos, 4),
            "lsh_recall": lsh_recall, "lsh_scan_frac": lsh_scan,
            "ivf_recall": ivf_recall, "ivf_scan_frac": ivf_scan,
            "ivfpq_recall": ivfpq_recall,
            "index_bytes": index_bytes,
            "memory_budget_bytes": memory_budget_bytes,
            "budget_forces_pq": budget_forces_pq, "pq_m": pq_m,
            "pq_infeasible_reason": pq_infeasible,
            # violated = the CHOSEN index does not fit the budget: either
            # the PQ fallback never ran, or even the m-byte codes exceed it
            "budget_violated": bool(budget_forces_pq and (
                not ivfpq_recall
                or index_bytes["pq"] > memory_budget_bytes)),
            "n_sample": n, "n_planes": n_planes, "n_cells": n_cells}


def ivf_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_cells: int = 8, n_probe: int = 2,
             centroids: np.ndarray | None = None,
             assign_fn: str = "sql") -> DataFrame:
    """IVF ANN top-k: score only vectors in the query's ``n_probe`` nearest
    cells. With the table pre-partitioned by ivf_cell this is a pruned
    scan of n_probe/n_cells of the corpus. ``assign_fn`` as in ivf_assign
    (default sql = the DuckDB-oracle-exact form)."""
    if centroids is None:
        centroids = ivf_centroids_from_sample(emb, n_cells, vec_col, id_col)
    probes = probe_cells(centroids, query_vec, n_probe)
    assigned = ivf_assign(emb, centroids, id_col, vec_col, assign_fn)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    return (assigned.where(F.col("ivf_cell").isin(probes))
            .select(id_col,
                    F.round(cosine_expr(F.col("v"), qlit), 6).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col)).limit(k))


def _seq_dot(p, q) -> float:
    """Sequential fold — same FP order as the SQL/Catalyst dot products."""
    acc = 0.0
    for a, b in zip(p, q):
        acc += float(a) * float(b)
    return acc


def query_signature(planes: np.ndarray, query_vec: list[float]) -> int:
    """Sign-LSH bucket id of a query vector (driver-side, matches
    lsh_bucket_expr bit-for-bit)."""
    return int(sum((1 << j) for j, p in enumerate(planes)
                   if _seq_dot(p, query_vec) > 0))


def write_lsh_index(emb: DataFrame, path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding", dim: int = 64,
                    n_planes: int = 8, seed: int = 42) -> None:
    """Materialize the ANN index: embeddings written PARTITIONED BY the
    LSH bucket id, so a query's scan prunes to exactly one partition
    directory (1/2^n_planes of the corpus never leaves disk). This is the
    scale path the filter-based lsh_topk only approximates."""
    v = F.col(vec_col).cast("array<double>")
    planes = hyperplanes(dim, n_planes, seed)
    (emb.select(F.col(id_col), v.alias("v"),
                lsh_bucket_expr(v, planes).alias("bucket"))
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def multiprobe_signatures(planes: np.ndarray, query_vec: list[float],
                          n_probe: int) -> list[int]:
    """Multiprobe LSH probe sequence (Lv et al., VLDB'07 idea): the
    buckets most likely to hold a query's near neighbors are the ones
    reached by flipping the hyperplane bits with the SMALLEST projection
    margin |q.h|. Candidates = every subset of the t lowest-margin bits
    (t sized so 2^t >= n_probe), scored by the sum of squared flipped
    margins; the n_probe lowest scores win (the base signature scores 0,
    so it is always probed first). Deterministic: ties broken by bucket
    id. Recall rises with n_probe at linear scan cost — no index rebuild,
    unlike adding hash tables."""
    import itertools

    raw = np.array([_seq_dot(p, query_vec) for p in planes])
    base = int(sum((1 << j) for j, m in enumerate(raw) if m > 0))
    # the flip likelihood depends on the query's DISTANCE to each plane's
    # boundary = |q.p| / ||p|| — hyperplanes() is unnormalized Gaussian,
    # so raw margins would bias the order toward small-norm planes
    margins = raw / np.maximum(np.linalg.norm(planes, axis=1), 1e-12)
    n_planes = len(planes)
    t = min(n_planes, max(1, int(np.ceil(np.log2(max(2, n_probe)))) + 2))
    order = np.argsort(np.abs(margins))[:t]
    cands: list[tuple[float, int]] = []
    for r in range(t + 1):
        for subset in itertools.combinations(range(t), r):
            bits = [int(order[i]) for i in subset]
            sig = base
            for b in bits:
                sig ^= (1 << b)
            cands.append((float(sum(margins[b] ** 2 for b in bits)), sig))
    cands.sort()
    # every subset XORs a distinct mask, so candidate sigs are unique by
    # construction — the first n_probe after the score sort are the answer
    return [sig for _, sig in cands[:n_probe]]


def lsh_topk_indexed(spark, path: str, query_vec: list[float], k: int = 10,
                     id_col: str = "vec_id", n_planes: int = 8,
                     seed: int = 42, n_probe: int = 1) -> DataFrame:
    """ANN top-k over a write_lsh_index table: the bucket membership
    filter is a PartitionFilter (asserted in tests), so only the probed
    partition directories are scanned.

    ``n_probe > 1`` enables multiprobe (see multiprobe_signatures): scan
    cost grows ~linearly in n_probe while recall recovers on corpora
    whose neighbors are NOT angular-close — the measured failure mode of
    single-probe sign-LSH (BENCH/BASELINE.md round-4 recall sweep)."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    sigs = multiprobe_signatures(planes, query_vec, n_probe) \
        if n_probe > 1 else [query_signature(planes, query_vec)]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (spark.read.parquet(path).where(F.col("bucket").isin(sigs))
            .select(id_col,
                    F.round(cosine_expr(F.col("v"), q), 6).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col)).limit(k))


def write_ivf_index(emb: DataFrame, path: str, centroids: np.ndarray,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    assign_fn: str = "pandas") -> None:
    """Materialize the IVF index: ``ivf_assign`` output written PARTITIONED
    BY ``ivf_cell``, mirroring ``write_lsh_index``. A probe then scans only
    its n_probe cell directories — with n_cells sized ~sqrt(corpus), a
    10^12-row corpus answers a query from ~n_probe/sqrt(n) of the data and
    the rest never leaves disk. Centroids must be persisted alongside by
    the caller (they are tiny; jobs stash them next to the index).
    Defaults to the GEMM assignment (the build is the scale-critical
    pass: ~20x the interpreted sql path at 1M x 64 cells)."""
    (ivf_assign(emb, centroids, id_col, vec_col, assign_fn)
     .write.mode("overwrite").partitionBy("ivf_cell").parquet(path))


def probe_cells(centroids: np.ndarray, query_vec: list[float],
                n_probe: int) -> list[int]:
    """The query's n_probe nearest cells by cosine (driver-side argsort
    over the tiny centroid set; ties broken by cell id — matches the
    oracle's ``order by dot desc, cell asc``)."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    sims = centroids @ qn
    order = np.lexsort((np.arange(len(centroids)), -sims))
    return [int(c) for c in order[:n_probe]]


def ivf_topk_indexed(spark, path: str, centroids: np.ndarray,
                     query_vec: list[float], k: int = 10,
                     id_col: str = "vec_id", n_probe: int = 2) -> DataFrame:
    """IVF ANN top-k over a ``write_ivf_index`` table: the cell-membership
    IN-filter is a PartitionFilter (asserted in tests), so only n_probe
    partition directories are scanned and scored."""
    cells = probe_cells(centroids, query_vec, n_probe)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (spark.read.parquet(path).where(F.col("ivf_cell").isin(cells))
            .select(id_col,
                    F.round(cosine_expr(F.col("v"), q), 6).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col)).limit(k))


def _validate_dim(real: int, dim: int | None) -> int:
    """A wrong hard-coded dim is a SILENT disaster: zip_with null-pads
    short plane literals, every dot goes null, every sign bit 0, and the
    whole corpus collapses into bucket 0 while driver-side signatures
    truncate — so the batch ANN forms infer the width from the query
    batch and fail loudly on an explicit mismatch."""
    if dim is not None and dim != real:
        raise ValueError(f"dim={dim} != query vector width {real}")
    return real


def _infer_query_dim(queries: DataFrame, q_vec_col: str,
                     dim: int | None) -> int:
    """Embedding width from the first query row (one tiny action — query
    batches are small by contract)."""
    first = queries.select(q_vec_col).head()
    if first is None:
        raise ValueError("query batch is empty")
    return _validate_dim(len(first[0]), dim)


def _per_query_topk(qs: DataFrame, corpus: DataFrame, k: int,
                    q_id_col: str, id_col: str) -> DataFrame:
    """Broadcast bucket-join + per-query window top-k (shared by the
    on-the-fly and indexed batch forms; tie-break = cosine desc, id asc,
    same as lsh_topk)."""
    from pyspark.sql import Window

    joined = (F.broadcast(qs).join(corpus, on="bucket")
              .select(q_id_col, id_col,
                      F.round(cosine_expr(F.col("qv"), F.col("v")), 6)
                       .alias("cosine")))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (joined.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def lsh_topk_batch(emb: DataFrame, queries: DataFrame, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   q_id_col: str = "query_id", q_vec_col: str = "query_vec",
                   dim: int | None = None, n_planes: int = 8,
                   seed: int = 42) -> DataFrame:
    """Batched ANN — the PRODUCTION query shape: one corpus scan answers
    MANY queries (per-query driver round-trips at 10^12 rows are absurd).

    Both sides are bucketed with the same hyperplanes (dim inferred from
    the query batch; explicit mismatches fail loudly); the query side
    (small) BROADCASTS, so the bucket equi-join never shuffles the corpus;
    scoring touches only bucket-mates (~corpus/2^n_planes rows per query);
    per-query top-k is a window over the (bounded) candidate set — the
    only shuffle, proportional to candidates, not corpus.

    Returns (q_id_col, id_col, cosine, rank<=k), tie-broken like lsh_topk
    (cosine desc, id asc)."""
    dim = _infer_query_dim(queries, q_vec_col, dim)
    planes = hyperplanes(dim, n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    corpus = emb.select(F.col(id_col), v.alias("v"),
                        lsh_bucket_expr(v, planes).alias("bucket"))
    qv = F.col(q_vec_col).cast("array<double>")
    qs = queries.select(F.col(q_id_col), qv.alias("qv"),
                        lsh_bucket_expr(qv, planes).alias("bucket"))
    return _per_query_topk(qs, corpus, k, q_id_col, id_col)


def lsh_topk_batch_indexed(spark, path: str, queries: DataFrame,
                           k: int = 10, id_col: str = "vec_id",
                           q_id_col: str = "query_id",
                           q_vec_col: str = "query_vec",
                           dim: int | None = None, n_planes: int = 8,
                           seed: int = 42) -> DataFrame:
    """Batched ANN over a write_lsh_index table — completes the
    {single, batch} x {on-the-fly, indexed} matrix: the union of the
    queries' bucket ids (collected driver-side — bounded by the query
    batch, not the corpus) becomes a partition IN-filter, so the scan
    touches only the probed bucket directories; then the same broadcast
    bucket-join + per-query window as lsh_topk_batch. The index must have
    been written with the same dim (inferred here from the query batch) /
    n_planes / seed — jobs/build_ann_index.py persists them in
    _ann_meta.json."""
    qrows = queries.select(q_id_col, q_vec_col).collect()
    if not qrows:
        raise ValueError("query batch is empty")
    planes = hyperplanes(_validate_dim(len(qrows[0][q_vec_col]), dim),
                         n_planes, seed)
    keyed = [(r[q_id_col], [float(x) for x in r[q_vec_col]],
              query_signature(planes, list(r[q_vec_col]))) for r in qrows]
    qid_type = queries.schema[q_id_col].dataType.simpleString()
    qs = spark.createDataFrame(
        keyed, f"{q_id_col} {qid_type}, qv array<double>, bucket bigint")
    corpus = spark.read.parquet(path).where(
        F.col("bucket").isin(sorted({int(s) for _, _, s in keyed})))
    return _per_query_topk(qs, corpus, k, q_id_col, id_col)


def lsh_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_planes: int = 8, seed: int = 42) -> DataFrame:
    """ANN top-k: score only vectors in the query's LSH bucket.

    Computes buckets on the fly (one scan, filter prunes the scored set to
    ~corpus/2^n_planes rows); see write_lsh_index/lsh_topk_indexed for the
    materialized variant where the filter becomes partition PRUNING.
    """
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes, seed)
    qsig = query_signature(planes, query_vec)
    v = F.col(vec_col).cast("array<double>")
    bucketed = emb.select(F.col(id_col), v.alias("v"),
                          lsh_bucket_expr(v, planes).alias("bucket"))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (bucketed.where(F.col("bucket") == qsig)
            .select(id_col, F.round(cosine_expr(F.col("v"), q), 6).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col)).limit(k))


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-bound ANN scale path
# ---------------------------------------------------------------------------

def _kmeans_l2(sample: np.ndarray, n_codes: int, iters: int = 8
               ) -> np.ndarray:
    """Plain deterministic L2 k-means (PQ codebooks are Euclidean, not
    spherical — subvectors are not unit-norm)."""
    cents = sample[:n_codes].copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for c in range(len(cents)):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def train_pq(emb: DataFrame, m: int = 8, n_codes: int = 256,
             id_col: str = "vec_id", vec_col: str = "embedding",
             sample_rows: int = 2048, iters: int = 8) -> np.ndarray:
    """Train PQ codebooks on a bounded driver-side sample (the same
    collect budget as IVF centroid training): vectors are L2-normalized
    (so asymmetric-distance inner products approximate cosine), split
    into ``m`` subspaces, and each subspace gets an ``n_codes``-entry
    L2 k-means codebook. Returns (m, n_codes, dim/m) float64.

    Why PQ at 10^12 vectors: a dim-64 float32 embedding is 256 bytes;
    its PQ code is ``m`` bytes (32x compression at m=8) — the index that
    decides whether candidate scoring is RAM-resident per executor."""
    if not 2 <= n_codes <= 256:
        raise ValueError(f"n_codes={n_codes} out of range [2, 256]: codes "
                         f"are stored as uint8, more would wrap modulo 256")
    sample = _driver_sample(emb, id_col, vec_col, sample_rows)
    n, dim = sample.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    if n < n_codes:
        raise ValueError(f"sample of {n} rows cannot train {n_codes} "
                         f"codes — raise sample_rows")
    unit = _unit_rows(sample)
    dsub = dim // m
    return np.stack([
        _kmeans_l2(np.ascontiguousarray(unit[:, j * dsub:(j + 1) * dsub]),
                   n_codes, iters)
        for j in range(m)])


def pq_encode(emb: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Corpus -> (id, pq_code binary): per Arrow batch, one vectorized
    nearest-codeword argmin per subspace (GEMM-shaped, like the IVF
    fast assignment). Codes are ``m`` bytes per vector."""
    from .arrow_stage import arrow_stage

    m, _, dsub = codebooks.shape

    def run(batch):
        unit = _unit_rows(_dense(batch.column(vec_col), m * dsub))
        return None, {"pq_code": _code_bytes(unit, codebooks)}

    return arrow_stage(emb.select(id_col, vec_col), "pq_code binary", run,
                       carry=[id_col])


def pq_topk(codes: DataFrame, codebooks: np.ndarray,
            query_vec: list[float], k: int = 10,
            id_col: str = "vec_id",
            rerank_with: DataFrame | None = None,
            vec_col: str = "embedding",
            rerank_factor: int = 4) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query builds an
    (m x n_codes) inner-product lookup table ONCE (broadcast literal);
    each Arrow batch scores rows with pure numpy gathers — no vector
    data is read at all. With ``rerank_with`` the top k*rerank_factor
    ADC candidates are re-scored EXACTLY against the original vectors
    (a k*factor-row broadcast-join, the standard PQ recall recovery).

    Scale shape: scan of m-byte codes -> arrow_stage scoring ->
    TakeOrdered; at 10^12 vectors the scored index is 32x smaller than
    the raw embeddings and the exact re-rank touches only k*factor
    rows."""
    from .arrow_stage import arrow_stage

    m, n_codes, dsub = codebooks.shape
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    lut = np.stack([codebooks[j] @ q[j * dsub:(j + 1) * dsub]
                    for j in range(m)]).astype(np.float64)  # (m, n_codes)

    def run(batch):
        C = np.frombuffer(b"".join(batch.column("pq_code").to_pylist()),
                          dtype=np.uint8).reshape(batch.num_rows, m)
        score = lut[np.arange(m)[None, :], C].sum(axis=1)
        return None, {"adc_score": np.round(score, 6)}

    scored = arrow_stage(codes.select(id_col, "pq_code"), "adc_score double",
                         run, carry=[id_col])
    if rerank_with is None:
        return scored.orderBy(F.desc("adc_score"), F.asc(id_col)).limit(k)
    cand = scored.orderBy(F.desc("adc_score"), F.asc(id_col)) \
        .limit(k * rerank_factor)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = (rerank_with.join(F.broadcast(cand), id_col)
             .select(id_col,
                     F.round(cosine_expr(
                         F.col(vec_col).cast("array<double>"), qlit), 6)
                      .alias("cosine")))
    return exact.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def write_ivfpq_index(emb: DataFrame, path: str, centroids: np.ndarray,
                      codebooks: np.ndarray, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> None:
    """IVF-PQ: the canonical billion-scale ANN layout (coarse quantizer
    prunes cells; PQ codes shrink what remains). One Arrow-batched pass
    assigns each vector's IVF cell (GEMM argmax) AND its PQ codes, then
    writes (id, pq_code) PARTITIONED BY ivf_cell. A query scans
    n_probe/n_cells of an index that is itself ~32x smaller than the raw
    embeddings — the two pruning axes compose multiplicatively: at
    10^12 dim-64 vectors the probed bytes per query drop from 256 TB
    (brute) to ~tens of GB."""
    from .arrow_stage import arrow_stage

    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64).T)

    def run(batch):
        unit = _unit_rows(_dense(batch.column(vec_col), C.shape[0]))
        return None, {"pq_code": _code_bytes(unit, codebooks),
                      "ivf_cell": _ivf_cells(unit, C).astype(np.int32)}

    assigned = arrow_stage(emb.select(id_col, vec_col),
                           "pq_code binary, ivf_cell int", run,
                           carry=[id_col])
    assigned.write.mode("overwrite").partitionBy("ivf_cell").parquet(path)


def ivfpq_topk(spark, path: str, centroids: np.ndarray,
               codebooks: np.ndarray, query_vec: list[float],
               k: int = 10, n_probe: int = 2, id_col: str = "vec_id",
               rerank_with: DataFrame | None = None,
               vec_col: str = "embedding",
               rerank_factor: int = 4) -> DataFrame:
    """Query the IVF-PQ index: partition-pruned scan of the query's
    n_probe cells (a PartitionFilter, like ivf_topk_indexed) -> ADC
    scoring over m-byte codes (pq_topk's LUT-gather path) -> optional
    exact re-rank of k*rerank_factor candidates against the original
    vectors."""
    cells = probe_cells(centroids, query_vec, n_probe)
    codes = spark.read.parquet(path).where(F.col("ivf_cell").isin(cells))
    return pq_topk(codes, codebooks, query_vec, k, id_col,
                   rerank_with, vec_col, rerank_factor)


# ---------------------------------------------------------------------------
# Dimensionality reduction: random projection (JL) and PCA
# ---------------------------------------------------------------------------
#
# The 10^12-vector preprocessing steps that FEED the ANN indexes above:
# a Johnson-Lindenstrauss random projection shrinks dim (and with it the
# raw-index bytes choose_ann_index budgets over) in one shuffle-free
# pass, and PCA does the same with data-derived axes at the cost of one
# extra bounded aggregation pass. The reference's fixed feature vector
# (report.h:136-196, 75-ish floats) is the 1-image analogue of these
# embedding rows; these operators are the corpus-scale transforms a
# training-data pipeline applies to them.


def rp_matrix_formula(out_dim: int, in_dim: int,
                      seed: int = 5) -> np.ndarray:
    """Deterministic formula-based projection matrix (out_dim, in_dim):
    entry(j, i) = (((19*j + 7*i + seed) % 17) - 8) / 8.0 — the same
    seeded-literal family as the PQ oracle codebooks, so a DuckDB oracle
    can regenerate it arithmetically inside static SQL (no data-derived
    constants; see the oracle-determinism rule that data-dependent
    constants cannot live in oracle SQL). Entries are 17-level
    pseudo-uniform in [-1, 1]; for production use prefer
    ``rp_matrix_gaussian`` (better JL constants), which the gate cannot
    oracle but the pytest parity covers."""
    j = np.arange(out_dim)[:, None]
    i = np.arange(in_dim)[None, :]
    return (((19 * j + 7 * i + seed) % 17) - 8) / 8.0


def rp_matrix_gaussian(out_dim: int, in_dim: int,
                       seed: int = 5) -> np.ndarray:
    """Seeded N(0, 1/out_dim) JL projection matrix — the standard
    distance-preserving choice (Johnson-Lindenstrauss: k = O(log n /
    eps^2) rows preserve pairwise distances within 1 +- eps)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((out_dim, in_dim)) / np.sqrt(out_dim)


def rp_project(emb: DataFrame, matrix: np.ndarray,
               id_col: str = "vec_id", vec_col: str = "embedding",
               out_col: str = "proj",
               center: np.ndarray | None = None) -> DataFrame:
    """Project every embedding through ``matrix`` (out_dim, in_dim):
    one GEMM per Arrow batch, shuffle-free arrow_stage (the pq_encode
    shape) — at 10^12 rows this is a pure map stage whose output is
    out_dim/in_dim of the input bytes. ``center`` (in_dim,) is
    subtracted first when given (PCA's mean-centering); the identity
    for plain JL. Output: (id, array<double> proj). A vector whose
    width is not in_dim (or a null one) fails the task with a
    ValueError naming both widths."""
    from .arrow_stage import arrow_stage, fixed_list

    M = np.ascontiguousarray(matrix, dtype=np.float64)
    mu = (np.zeros(M.shape[1]) if center is None
          else np.asarray(center, dtype=np.float64))

    def run(batch):
        V = _dense(batch.column(vec_col), M.shape[1]) - mu
        return None, {out_col: fixed_list(V @ M.T)}

    return arrow_stage(emb.select(id_col, vec_col),
                       f"{out_col} array<double>", run, carry=[id_col])


def rp_project_expr(emb: DataFrame, out_dim: int,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 5, round_dp: int = 6) -> DataFrame:
    """JVM-expression form of the formula random projection: each output
    component is a sequential left fold (F.aggregate) over the input
    array — whole-stage-codegen, no Python — emitted as ``out_dim``
    rounded scalar columns p0..p{out_dim-1} so the frame is
    driver-canonicalizer-safe AND hash-matchable against a DuckDB
    list_reduce oracle (sequential folds agree bit-for-bit across the
    engines; see the oracle-determinism rules). Exact-parity with the
    GEMM path is pinned in tests at round_dp decimals."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cols = [F.col(id_col)]
    for j in range(out_dim):
        # x_i * entry(j, i), entry regenerated arithmetically in-loop
        # (two-arg transform lambda: 0-based index; DuckDB's is 1-based)
        prods = F.transform(
            v, lambda x, i: x * ((((F.lit(19 * j) + F.lit(7) * i
                                    + F.lit(seed)) % 17) - 8) / 8.0))
        body = F.aggregate(prods, F.lit(0.0), lambda acc, t: acc + t)
        cols.append(F.round(body, round_dp).alias(f"p{j}"))
    return emb.select(*cols)


def pca_partials_df(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One (count, sum, Gram) partial row PER PARTITION (r7: accumulated
    across the Arrow batch iterator inside the task — the old per-batch
    yield made the driver collect scale with data size)."""
    from .arrow_stage import fixed_list

    def partials(batches):
        import pyarrow as pa

        n = 0
        s = g = None
        for b in batches:
            if b.num_rows == 0:
                continue
            V = _dense(b.column(vec_col), None if s is None else s.size)
            n += len(V)
            if s is None:
                s = V.sum(axis=0)
                g = V.T @ V
            else:
                s += V.sum(axis=0)
                g += V.T @ V
        if n:
            yield pa.RecordBatch.from_arrays(
                [pa.array([n], type=pa.int64()), fixed_list(s[None, :]),
                 fixed_list(g.reshape(1, -1))], ["n", "s", "g"])

    return emb.select(vec_col).mapInArrow(
        partials, "n long, s array<double>, g array<double>")


def pca_train(emb: DataFrame, n_components: int,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> dict:
    """Exact corpus PCA statistics in ONE shuffle-free pass: each
    PARTITION emits a single partial row (count, sum vector, flattened
    Gram matrix X^T X) — the count/sum/Gram accumulate across the Arrow
    batch iterator inside the task (r7 fix: the previous per-BATCH
    partials made the driver collect scale with total Arrow batches,
    i.e. with data size, not with partition count — the one weak scale
    plan flagged by the r6 review). Partials are reduced on the driver:
    a d=64 Gram is 4096 doubles, so even 10^5 partition partials is
    ~3 GB streamed, and the reduce is associative so a two-level
    treeReduce via coalesce is the escape hatch far before that.
    Covariance = Gram/n - mu mu^T; numpy eigh on the driver (d x d,
    trivial) gives components.

    Returns {"mean": (d,), "components": (n_components, d),
    "explained_var": (n_components,)} with deterministic sign
    convention (largest-|.| coefficient of each component positive).
    Project with ``pca_project``."""
    rows = pca_partials_df(emb, vec_col).collect()
    if not rows:
        raise ValueError("pca_train: empty input")
    n = sum(r["n"] for r in rows)
    d = len(rows[0]["s"])
    s = np.zeros(d)
    g = np.zeros(d * d)
    for r in rows:
        s += np.asarray(r["s"])
        g += np.asarray(r["g"])
    mu = s / n
    cov = g.reshape(d, d) / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T                   # (k, d)
    # deterministic sign: flip so each component's max-|coef| entry > 0
    for c in comps:
        piv = int(np.argmax(np.abs(c)))
        if c[piv] < 0:
            c *= -1.0
    return {"mean": mu, "components": comps,
            "explained_var": np.maximum(evals[order], 0.0)}


def pca_project(emb: DataFrame, model: dict,
                id_col: str = "vec_id", vec_col: str = "embedding",
                out_col: str = "proj") -> DataFrame:
    """Center by the trained mean and project onto the principal axes —
    the same shuffle-free GEMM map stage as rp_project, with the model
    broadcast in the task closure."""
    return rp_project(emb, model["components"], id_col, vec_col,
                      out_col, center=model["mean"])
