"""Deduplication suite for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

The shuffling operators are pure DataFrame plans (JVM-side built-ins),
so Catalyst handles partial aggregation, AQE handles skewed shingles,
and every groupBy is a single shuffle. The per-doc hashes
(word_shingles, MinHash signatures, word_shingle_arrays and simhash, for
both hash functions) are shuffle-free vectorized Arrow stages
(arrow_stage.arrow_stage over fast_hash kernels). The default "poly"
hash is the tokenizer's poly hash with a wider modulus, so the
DuckDB oracle can reproduce every number exactly; "fast" is Spark's
xxhash64 over each word.

Scale notes (100 TB):
- exact dedup: md5 digest groupBy — one shuffle on the digest (uniform by
  construction, no skew);
- MinHash: signatures need no shuffle for either hash (one Arrow stage
  per batch of docs); LSH banding via explode(bands) + self-join on band
  key — candidate generation never compares all pairs;
- connected components propagate labels over the pair endpoints only,
  one groupBy per round; the corpus's ids are shuffled once, to seed
  them. Shortcut and hook messages make deep dup chains converge in
  logarithmic rather than linear rounds (a 1,000-node path: 17);
- stop-word-like hot shingles would skew the shingle explode; mitigated by
  distinct-per-doc before the join and AQE skew split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from .tokenize import TOKEN_MULT, TOKEN_SEED

# MinHash universal-hash constants: h_j(x) = (A[j]*x + B[j]) mod MERSENNE,
# deterministic (seeded) so Spark, DuckDB oracle, and tests agree.
MERSENNE = (1 << 31) - 1
NUM_PERM = 16
LSH_BANDS = 4          # 4 bands x 4 rows
_A = [(37 * (j + 1) ** 2 + 11) % MERSENNE for j in range(NUM_PERM)]
_B = [(101 * (j + 1) + 7919 * j * j) % MERSENNE for j in range(NUM_PERM)]

SIMHASH_BITS = 32


def poly_hash_expr(col_sql: str, mod: int = MERSENNE) -> str:
    """Spark SQL snippet hashing a string column with the engine poly hash
    (the token hash's recurrence, wider modulus)."""
    return (f"aggregate(transform(sequence(1, length({col_sql})), "
            f"i -> ascii(substr({col_sql}, i, 1))), "
            f"cast({TOKEN_SEED} as bigint), (a, b) -> (a * {TOKEN_MULT} + b) % {mod})")


def duckdb_poly_hash(col_sql: str, mod: int = MERSENNE) -> str:
    """DuckDB equivalent of poly_hash_expr."""
    return (f"list_reduce(list_prepend(cast({TOKEN_SEED} as bigint), "
            f"list_transform(range(1, len({col_sql})+1), "
            f"i -> cast(ascii(substr({col_sql}, i, 1)) as bigint))), "
            f"(a, b) -> (a * {TOKEN_MULT} + b) % {mod})")


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content digest: keep the min id per md5(text).
    Returns (doc_id, digest, dup_count)."""
    return (docs
            .select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
            .groupBy("digest")
            .agg(F.min(id_col).alias(id_col),
                 F.count("*").alias("dup_count")))


def _word_gram_rows(docs: DataFrame, text_col: str, id_col: str,
                    k: int) -> DataFrame:
    """Shared k-gram scaffolding of the window-form gram builders
    (dup_span_stats and the parity oracles): one row per kept gram
    start position with columns (id_col, _pos, _w, _keep).

    posexplode_OUTER so a zero-word doc still yields one row (null
    _pos/_w) — the HOF form and the DuckDB oracle emit one empty-string
    shingle for empty docs (sequence(1, greatest(1, ...))), and dropping
    them would silently exempt empty docs from dedup/decontamination and
    break Spark-vs-oracle parity. Short docs (< k words) keep only
    position 0 (the single all-words gram)."""
    arr = docs.select(
        F.col(id_col),
        F.expr(f"filter(split({text_col}, ' '), w -> length(w) > 0)")
        .alias("_ws"))
    # word count carried from the array itself — a count-over-partition
    # window here would add a second window stage to every consumer
    words = arr.select(
        F.col(id_col), F.size("_ws").alias("_nw"),
        F.posexplode_outer("_ws").alias("_pos", "_w"))
    nw = F.col("_nw")
    keep = (F.col("_pos").isNull()
            | (F.col("_pos") + (k - 1) < nw)
            | ((F.col("_pos") == 0) & (nw <= k - 1)))
    return words.withColumn("_keep", keep)


def word_shingles(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles per doc: (doc_id, shingle string).
    A doc with fewer than k words gives one shingle of all its words, and
    an empty or null doc the "" shingle.

    One vectorized Arrow stage (fast_hash.shingles_arrow: pyarrow
    take/binary_join builds the strings, dictionary_encode dedups them
    per doc), so there is no exchange. Assumes one row per id (true of
    every caller); a global distinct would also merge byte-identical
    duplicate-id rows. The window/lead() form in tests/oracles.py gives
    the same row set."""
    from .arrow_stage import arrow_stage

    def f(b):
        from photohive_spark.fast_hash import shingles_arrow
        doc_idx, grams = shingles_arrow(b.column(text_col), k)
        return doc_idx, {"shingle": grams}

    return arrow_stage(docs.select(id_col, text_col), "shingle string",
                       f, carry=[id_col])


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_perm: int = NUM_PERM,
                       hash_fn: str = "poly") -> DataFrame:
    """(doc_id, sig array<bigint>[num_perm]) MinHash signatures, one row
    per input row (callers pass one row per id).

    The whole signature is computed per doc inside ONE vectorized
    mapInArrow stage (fast_hash.minhash_sig_arrow): no explode, no
    shuffle, no interpreted per-char HOF.

    ``hash_fn`` picks the shingle hash; both forms are integer-identical
    to a Catalyst parity form kept in tests/oracles.py:
    - "poly" (default): per-character poly hash of the shingle string,
      exactly reproducible in DuckDB — the oracle-checked semantics;
    - "fast": XXH64 word hashes (Spark's ``xxhash64``, seed 42) combined
      per gram as (acc*31 + h) mod 2^31-1. Same banding statistics,
      different hash values.

    Both cost about the same. On the benchmark's 564 exact-unique
    ``curation`` docs (4-core VM, warm, noop sink, median of 7) the stage
    took 0.51 s with "fast" and 0.45 s with "poly"; the Catalyst parity
    form of "fast" takes 0.97 s and shuffles every word occurrence.
    """
    if hash_fn not in ("poly", "fast"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    from .arrow_stage import arrow_stage, fixed_list
    a, b = _A[:num_perm], _B[:num_perm]

    def f(batch):
        from photohive_spark.fast_hash import minhash_sig_arrow
        return None, {"sig": fixed_list(minhash_sig_arrow(
            batch.column(text_col), k, a, b, hash_fn))}

    return arrow_stage(docs.select(id_col, text_col),
                       "sig array<bigint>", f, carry=[id_col])


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      num_perm: int = NUM_PERM, bands: int = LSH_BANDS,
                      threshold: float = 0.5,
                      max_bucket_size: int | None = None,
                      hash_fn: str = "poly") -> DataFrame:
    """Candidate near-dup pairs via LSH banding, verified with exact
    shingle Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b,
    jaccard >= threshold.

    Shape: sig -> explode bands -> self-join on (band_idx, band_sig) ->
    distinct pairs -> exact-verify join against shingle sets. The exact
    verify is itself a shuffle-on-shingle join, but only over candidate
    docs (semi-join pushdown), so at scale the full corpus never self-joins.

    ``max_bucket_size``: dup-heavy corpora put many docs in one band
    bucket, and the within-bucket self-join is quadratic. Buckets above
    the cap switch to STAR pairing — every member pairs with the bucket's
    min id only (O(n) pairs) — so a corpus with 10^6 identical docs emits
    ~10^6 candidates, not ~10^12. RECALL CAVEAT: star candidates are
    verified against the representative, so two members whose Jaccard to
    the rep falls below ``threshold`` lose their member<->member pair even
    if it would have passed (possible when a giant bucket mixes a
    hash-collision outlier with true dups). Size the cap well above the
    expected dup-cluster width; the cap is a blowup guard, not a
    semantics-preserving optimization. Default None = exact banding (the
    oracle-checked semantics).

    ``hash_fn="fast"`` switches candidate generation to xxhash64 word
    hashes (see minhash_signatures). The exact-Jaccard VERIFY stage is
    shared and string-exact either way, so emitted pairs stay exact; only
    banding recall statistics depend on the hash (equivalent for any
    uniform hash).
    """
    rows = num_perm // bands
    sig = minhash_signatures(docs, text_col, id_col, k, num_perm, hash_fn)
    # each expression is one SQL string: a Python Column operator costs
    # ~10 py4j round trips, so this band key as Columns would take ~750
    # of them, 0.1-0.3 s of Python-side time per call
    keys = ", ".join(
        f"struct({b} as band, concat_ws(',', "
        + ", ".join(f"cast(sig[{b * rows + r}] as string)" for r in range(rows))
        + ") as bsig)" for b in range(bands))
    banded = sig.selectExpr(id_col, f"inline(array({keys}))") \
                .repartition("band", "bsig")
    # ^ r7: one explicit exchange on the join key. The self-join below
    # then REUSES a single shuffle for both aliases (ReusedExchange), so
    # the signature subtree is computed once — before r7 the groupBy
    # inside the signature stage provided that barrier for free; the
    # mapInArrow signature path has no exchange of its own, and without
    # this the planner recomputed the whole signature stage per alias
    # and join planning ran statless (measured 3-6x slower and unstable).

    if max_bucket_size is not None:
        stats = (banded.groupBy("band", "bsig")
                 .agg(F.count("*").alias("_bn"), F.min(id_col).alias("_rep")))
        keyed = banded.join(stats, on=["band", "bsig"])
        small = keyed.where(f"_bn <= {max_bucket_size}") \
                     .select(id_col, "band", "bsig")
        pairs_small = (small.alias("x").join(small.alias("y"),
                                             on=["band", "bsig"], how="inner")
                       .where(f"x.{id_col} < y.{id_col}")
                       .selectExpr(f"x.{id_col} as id_a", f"y.{id_col} as id_b"))
        pairs_big = (keyed.where(f"_bn > {max_bucket_size} and {id_col} != _rep")
                     .selectExpr("_rep as id_a", f"{id_col} as id_b"))
        cand = pairs_small.unionByName(pairs_big).distinct()
    else:
        cand = (banded.alias("x").join(banded.alias("y"),
                                       on=["band", "bsig"], how="inner")
                .where(f"x.{id_col} < y.{id_col}")
                .selectExpr(f"x.{id_col} as id_a", f"y.{id_col} as id_b")
                .distinct())
    # materialize candidates once: verify_jaccard consumes them twice (id
    # semi-join + intersection join) and recomputing the whole LSH banding
    # subtree per consumer doubles the cost
    cand = cand.localCheckpoint(eager=False)
    return verify_jaccard(cand, docs, text_col, id_col, k, threshold)


def word_shingle_arrays(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id_col, shingles array<string>, n_sh) — each doc's DISTINCT
    word-k-gram shingle SET as one array row, emitted straight from the
    vectorized builder (fast_hash.shingles_arrow): no explode, no
    groupBy/collect_list, zero shuffles. Same sets as
    word_shingles grouped per doc."""
    from .arrow_stage import arrow_stage

    def f(b):
        import numpy as np
        import pyarrow as pa

        from photohive_spark.fast_hash import shingles_arrow
        doc_idx, grams = shingles_arrow(b.column(text_col), k)
        cnt = np.bincount(doc_idx, minlength=b.num_rows).astype(np.int64)
        offs = pa.array(np.concatenate([[0], np.cumsum(cnt)])
                        .astype(np.int32), type=pa.int32())
        return None, {"shingles": pa.ListArray.from_arrays(offs, grams),
                      "n_sh": cnt}

    return arrow_stage(docs.select(id_col, text_col),
                       "shingles array<string>, n_sh bigint", f,
                       carry=[id_col])


def verify_jaccard(pairs: DataFrame, docs: DataFrame, text_col: str,
                   id_col: str, k: int, threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs.

    Scale: only docs that appear in a candidate pair are shingled — the
    semi-join below prunes the corpus first, so the shingle work is
    proportional to candidates, not corpus size.

    r7 shape: each candidate doc's distinct shingle SET rides as ONE
    array row (word_shingle_arrays), the pair join attaches both sides'
    arrays, and the intersection count is the JVM ``array_intersect``
    intrinsic — exact string-set semantics, identical counts to the old
    exploded (pairs x shingles) join+groupBy, which shuffled one row
    PER (pair, shingle-of-a) (~50x more rows than pairs) plus a second
    string-keyed exchange. Now only the bounded per-doc arrays move.
    """
    cand_ids = (pairs.selectExpr(f"id_a as {id_col}")
                .union(pairs.selectExpr(f"id_b as {id_col}"))
                .distinct())
    docs = docs.join(cand_ids, on=id_col, how="left_semi")
    sh = word_shingle_arrays(docs, text_col, id_col, k)
    a = sh.selectExpr(f"{id_col} as id_a", "shingles as _sa", "n_sh as n_a")
    b = sh.selectExpr(f"{id_col} as id_b", "shingles as _sb", "n_sh as n_b")
    return (pairs
            .join(a, on="id_a")
            .join(b, on="id_b")
            .selectExpr("id_a", "id_b", "n_a", "n_b", "cast(size("
                        "array_intersect(_sa, _sb)) as bigint) as inter")
            .selectExpr("id_a", "id_b", "inter / (n_a + n_b - inter) as jaccard")
            .where(F.col("jaccard") >= threshold)
            .selectExpr("id_a", "id_b", "round(jaccard, 6) as jaccard"))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold via shingle-inverted-index
    self-join (no LSH; exact). Quadratic in docs sharing a shingle — use
    minhash_lsh_pairs at scale; this is the exactness baseline/oracle."""
    sh = word_shingles(docs, text_col, id_col, k)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    inter = (sh.alias("a").join(sh.alias("b"), on="shingle")
             .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
             .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"))
             .agg(F.count("*").alias("inter")))
    return (inter
            .join(sizes.select(F.col(id_col).alias("id_a"),
                               F.col("n_sh").alias("n_a")), on="id_a")
            .join(sizes.select(F.col(id_col).alias("id_b"),
                               F.col("n_sh").alias("n_b")), on="id_b")
            .withColumn("jaccard",
                        F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def dup_span_stats(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 5,
                   min_count: int = 2,
                   hash_grams: bool = False) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of each doc's
    words covered by word k-grams that occur >= ``min_count`` times in
    the whole corpus (counting within-doc repeats). This is the
    practical distributed form of exact-substring training-data dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): a true suffix-array ExactSubstr needs a global sorted
    index, but every duplicated substring of length >= k is a union of
    duplicated k-grams, so k-gram span coverage upper-bounds it tightly
    and maps onto plain Spark relational ops. Filter on ``dup_frac``
    (e.g. > 0.5) to drop boilerplate-heavy pages before training.

    Returns (doc_id, n_words, dup_tokens, dup_frac): ``dup_tokens`` is
    the exact size of the union of [pos, pos+k) intervals over
    duplicated-gram start positions (equal-length intervals sorted by
    start: each contributes min(next_start - start, k), the last one k,
    everything capped by doc end), ``dup_frac`` = dup_tokens / n_words
    rounded to 6 dp (0.0 for empty docs).

    Scale shape: posexplode grams (no shuffle) -> groupBy(gram) count
    with map-side partial aggregation -> inner join positions against
    the duplicated-gram keys (sort-merge on gram; AQE splits skewed hot
    grams, which a count-over-window form could not) -> one window +
    groupBy on ``id_col`` (the groupBy reuses the window's hash
    partitioning) -> left join back to per-doc sizes. No Python in the
    plan; gram strings shuffle once.

    ``hash_grams=True`` is the 100 TB path: the gram key is reduced to
    xxhash64(gram string) BEFORE the count shuffle and join, so the two
    gram-keyed exchanges move 8-byte bigints instead of k-word strings
    (~5-10x fewer shuffle bytes; the string is still built, but only as
    a map-side projection that never leaves the task). Cost: 64-bit
    collisions mark both colliding grams duplicated — at 10^12 grams
    that is ~5e4 expected collisions mislabeling O(k) tokens each, a
    ~1e-8 dup_frac perturbation; use the default exact strings when the
    output feeds an equality oracle."""
    rows = _word_gram_rows(docs, text_col, id_col, k)
    win = Window.partitionBy(id_col).orderBy("_pos")
    parts = [F.col("_w")] + [F.lead("_w", j).over(win) for j in range(1, k)]
    gram = F.concat_ws(" ", *parts)
    if hash_grams:
        gram = F.xxhash64(gram)
    grams = (rows.withColumn("gram", gram)
             .where("_keep").where(F.col("_pos").isNotNull())
             .select(id_col, "_nw", "_pos", "gram"))
    dup_grams = (grams.groupBy("gram")
                 .agg(F.count(F.lit(1)).alias("_cnt"))
                 .where(F.col("_cnt") >= min_count)
                 .select("gram"))
    cover = (grams.join(dup_grams, on="gram")
             .withColumn("_nxt", F.lead("_pos").over(win))
             .withColumn("_cover", F.least(
                 F.coalesce(F.col("_nxt") - F.col("_pos"), F.lit(k)),
                 F.lit(k), F.col("_nw") - F.col("_pos")))
             .groupBy(id_col)
             .agg(F.sum("_cover").alias("dup_tokens")))
    base = docs.select(
        F.col(id_col),
        F.size(F.expr(f"filter(split({text_col}, ' '), "
                      "w -> length(w) > 0)")).alias("n_words"))
    return (base.join(cover, on=id_col, how="left")
            .select(id_col, "n_words",
                    F.coalesce("dup_tokens", F.lit(0).cast("bigint"))
                    .alias("dup_tokens"))
            .withColumn("dup_frac", F.round(
                F.col("dup_tokens") / F.greatest("n_words", F.lit(1)), 6)))


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = SIMHASH_BITS, hash_fn: str = "poly") -> DataFrame:
    """Per-doc SimHash over word hashes: bit b set iff the majority of
    words have bit b set ( sum(±1) > 0 ). Returns (doc_id, simhash bigint).

    The whole per-doc simhash runs in ONE vectorized mapInArrow stage
    (fast_hash.simhash_arrow): no explode, no groupBy shuffle. Docs with
    no words are dropped, exactly like the explode+groupBy parity form
    in tests/oracles.py, whose integers it reproduces.

    ``hash_fn``: "poly" (default) = per-character poly word hash,
    DuckDB-oracle-reproducible; "fast" = the lower ``bits`` of Spark's
    ``xxhash64(word)`` — different hash values, same uniform-bit
    semantics.
    """
    if hash_fn not in ("poly", "fast"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    from .arrow_stage import arrow_stage

    def f(b):
        from photohive_spark.fast_hash import simhash_arrow
        keep, sim = simhash_arrow(b.column(text_col), bits, hash_fn)
        return keep, {"simhash": sim}

    return arrow_stage(docs.select(id_col, text_col), "simhash bigint",
                       f, carry=[id_col])


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 3, threshold: float = 0.5,
                  per_doc: bool = False) -> DataFrame:
    """Benchmark decontamination: drop training docs whose word k-gram
    shingles overlap benchmark shingles by >= ``threshold`` — the standard
    test-set-overlap removal stage of an LLM data pipeline. Returns the
    CLEAN docs (original columns).

    ``per_doc=False`` (default, pooled semantics): overlap is measured
    against the UNION of all benchmark documents' shingles — a doc
    overlapping 30% with each of two disjoint benchmark docs counts 60%
    and is dropped. ``per_doc=True`` (strict semantics): overlap is the
    MAX against any single benchmark document — that same doc is kept.
    Pooled is the conservative pipeline default; strict matches
    "contaminated BY a benchmark item" audits.

    Scale: the benchmark shingle set is tiny next to the corpus — distinct
    it and broadcast it onto the corpus shingles, so the expensive shingle
    fan-out runs ONCE. Pooled pays one corpus-side shuffle (per-doc
    (n_sh, n_hit) agg); strict pays the same agg keyed
    (doc, benchmark_doc) — rows bounded by corpus shingles x the (few)
    benchmark docs sharing each shingle.
    """
    doc_sh = word_shingles(docs, text_col, id_col, k)
    bench_all = word_shingles(benchmark, text_col, id_col, k)
    if per_doc:
        sizes = doc_sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        bench_sh = (bench_all
                    .select(F.col(id_col).alias("_bench_id"), "shingle")
                    .distinct())
        hits = (doc_sh.join(F.broadcast(bench_sh), on="shingle")
                .groupBy(id_col, "_bench_id")
                .agg(F.count("*").alias("n_hit"))
                .groupBy(id_col).agg(F.max("n_hit").alias("n_hit")))
        contaminated = (hits.join(sizes, on=id_col)
                        .where(F.col("n_hit") >= F.col("n_sh") * threshold)
                        .select(id_col))
    else:
        bench_sh = (bench_all.select("shingle").distinct()
                    .withColumn("_hit", F.lit(1)))
        flagged = doc_sh.join(F.broadcast(bench_sh), on="shingle", how="left")
        contaminated = (flagged.groupBy(id_col)
                        .agg(F.count("*").alias("n_sh"),
                             F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                             .alias("n_hit"))
                        .where(F.col("n_hit") >= F.col("n_sh") * threshold)
                        .select(id_col))
    return docs.join(contaminated, on=id_col, how="left_anti")


def simhash_neardup_pairs(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          max_hamming: int = 3, bands: int = 4,
                          bits: int = SIMHASH_BITS,
                          hash_fn: str = "poly",
                          max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= ``max_hamming``.

    Pigeonhole banding: the ``bits``-bit simhash splits into ``bands``
    equal bands; any pair within hamming ``bands - 1`` shares at least one
    identical band, so candidates = pairs sharing a (band, value) key —
    never an all-pairs comparison (``max_hamming`` must be < ``bands``).
    Exact verification = bit_count(xor) on the candidate set.

    Scale: signatures in one shuffle-free Arrow stage, one equi-join on
    the band key;
    uniform band values (hash bits) mean no skew for DISTINCT texts, but
    exact-duplicate texts share whole signatures — on dup-heavy corpora
    pass ``max_bucket_size`` to cap hot buckets via star pairing (see
    hamming_pairs); same shape as MinHash-LSH banding but with a 1-word
    signature.
    """
    sim = simhash(docs, text_col, id_col, bits, hash_fn)
    return hamming_pairs(sim, "simhash", id_col, max_hamming, bands, bits,
                         max_bucket_size=max_bucket_size)


def hamming_pairs(hashed: DataFrame, hash_col: str, id_col: str,
                  max_hamming: int, bands: int,
                  bits: int = SIMHASH_BITS,
                  max_bucket_size: int | None = None) -> DataFrame:
    """Generic hamming-distance near-dup pairs over ANY bigint hash
    column (SimHash text signatures, pHash image signatures, ...) via
    pigeonhole banding: the ``bits``-bit hash splits into ``bands``
    equal bands; any pair within hamming ``bands - 1`` shares at least
    one identical band, so candidates = pairs sharing a (band, value)
    key — never an all-pairs comparison. Exact verification =
    bit_count(xor), all JVM-side.

    ``max_bucket_size``: the within-bucket self-join is quadratic in
    bucket width, and real scraped corpora are duplicate-heavy — flat /
    low-frequency images in particular collapse to IDENTICAL pHashes, so
    one hot (band, bval) key can hold 10^6 members and the exact
    self-join would emit ~10^12 candidates from that key alone. Buckets
    above the cap switch to STAR pairing (same guard as
    minhash_lsh_pairs): every member pairs with the bucket's min-id
    representative only, O(n) pairs. Verification still runs bit_count
    on each emitted pair, and star pairs carry both endpoint hashes, so
    emitted hamming values stay exact. RECALL CAVEAT: in an over-cap
    bucket, two members within ``max_hamming`` of each other but not of
    the representative lose their direct pair; for the dominant case
    (identical hashes, hamming 0 to the rep) every member stays
    connected through the rep, so connected components are preserved.
    Size the cap well above the expected near-dup cluster width.
    Default None = exact banding (the oracle-checked semantics)."""
    if max_hamming >= bands:
        raise ValueError(f"pigeonhole soundness needs max_hamming < bands "
                         f"({max_hamming} >= {bands})")
    if bits % bands:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    width = bits // bands
    mask = (1 << width) - 1
    keyed = (hashed.select(
        id_col, hash_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright(hash_col, b * width)
                      .bitwiseAND(F.lit(mask)).alias("bval"))
            for b in range(bands)])).alias("k"))
        .select(id_col, hash_col, "k.band", "k.bval")
        .repartition("band", "bval"))
    # ^ r7: one explicit exchange on the join key so the self-join below
    # reuses a single shuffle for both aliases (ReusedExchange) instead
    # of recomputing the hash subtree per alias and planning statless —
    # the simhash source is now a mapInArrow stage with no exchange of
    # its own (same fix as minhash_lsh_pairs; measured 131s -> seconds
    # on the doubled sf1.0 corpus).

    def _self_join(df: DataFrame) -> DataFrame:
        return (df.alias("x").join(df.alias("y"), on=["band", "bval"])
                .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
                .select(F.col(f"x.{id_col}").alias("id_a"),
                        F.col(f"y.{id_col}").alias("id_b"),
                        F.bit_count(F.col(f"x.{hash_col}")
                                    .bitwiseXOR(F.col(f"y.{hash_col}")))
                         .alias("hamming")))

    if max_bucket_size is not None:
        # one extra groupBy on the SAME (band, bval) key the join uses —
        # map-side partial counts make it cheap, and min_by carries the
        # representative's hash so star pairs verify without a re-join
        stats = (keyed.groupBy("band", "bval")
                 .agg(F.count("*").alias("_bn"),
                      F.min(id_col).alias("_rep"),
                      F.min_by(hash_col, F.col(id_col)).alias("_rep_hash")))
        joined = keyed.join(stats, on=["band", "bval"])
        small = joined.where(F.col("_bn") <= max_bucket_size) \
                      .select(id_col, hash_col, "band", "bval")
        pairs_big = (joined.where((F.col("_bn") > max_bucket_size)
                                  & (F.col(id_col) != F.col("_rep")))
                     .select(F.col("_rep").alias("id_a"),
                             F.col(id_col).alias("id_b"),
                             F.bit_count(F.col("_rep_hash")
                                         .bitwiseXOR(F.col(hash_col)))
                              .alias("hamming")))
        cand = _self_join(small).unionByName(pairs_big).distinct()
    else:
        cand = _self_join(keyed).distinct()
    return cand.where(F.col("hamming") <= max_hamming)


def near_dup_drops(pairs: DataFrame, id_col: str) -> DataFrame:
    """(id_col) of every pair endpoint that is not its component's min-id
    representative: the rows near-dup dedup drops. Only endpoints need
    labels; an id in no pair is a singleton and survives by definition."""
    nodes = (pairs.selectExpr(f"id_a as {id_col}")
             .union(pairs.selectExpr(f"id_b as {id_col}")).distinct())
    return (connected_components(pairs, nodes, id_col=id_col)
            .where(F.col(id_col) != F.col("component")).select(id_col))


def connected_components(pairs: DataFrame, nodes: DataFrame,
                         id_col: str = "doc_id",
                         max_iters: int = 50) -> DataFrame:
    """Connected components over near-dup pairs — the canonical 'dedup
    cluster representative' assignment downstream of minhash_lsh_pairs /
    ngram_jaccard_pairs. Every node's label converges to the smallest id
    in its component.

    Returns (id_col, component). Nodes absent from ``pairs`` are singleton
    components labelled by themselves.

    Min-label propagation with shortcuts, over the pair endpoints only —
    a node outside every pair can never change. One groupBy over the
    edges and ``nodes`` seeds each endpoint with its adjacency and, if it
    is a node, its own id, and sets the other nodes aside. Each round is
    then one groupBy that carries every endpoint's adjacency and previous
    label, so the convergence test reads the round's own localCheckpoint
    (which also truncates lineage) rather than joining old against new
    labels. In a round every labelled endpoint sends its label to its
    neighbours, and an endpoint whose label changed in the previous round
    also sends
    - a shortcut, (label, [id]): the label's node adds the endpoint to
      its adjacency, so it reaches the endpoint directly from then on;
    - a hook, (old label, label): the new label jumps to the old label's
      node, and from there to everything that node has collected.
    Plain propagation needs one round per step of component diameter
    (200 rounds for a 200-node path). With shortcuts, measured on
    ``local[4]``: paths of 200 / 1,000 nodes take 13 / 17 rounds with the
    minimum id at one end and 16 / 19 with shuffled ids, a 2,000-node
    cycle 17, a 40x40 grid 11, a 511-node binary tree 6 (plain: 9), and
    the benchmark's near-dup clusters, stars around a template, 2. Both
    messages add edges inside a component only, and a round that changes
    no label is a fixpoint over the original edges.

    An endpoint missing from ``nodes`` gets a label but never seeds one:
    its component is labelled by the smallest id of ``nodes`` in it (and
    a component with no id of ``nodes`` is left out).
    """
    # materialize the (possibly expensive — LSH banding, jaccard verify)
    # pair-discovery subtree before the rounds
    edges = (pairs.selectExpr("id_a as src", "id_b as dst")
             .unionByName(pairs.selectExpr("id_b as src", "id_a as dst"))
             .localCheckpoint(eager=False))
    typ = edges.schema["src"].dataType.simpleString()
    none, no_nbrs = f"cast(null as {typ})", f"cast(null as array<{typ}>)"
    # one row per node and per endpoint: its neighbours, and its own id
    # as its label if it is a node (null: not reached yet). Expressions
    # are SQL strings, which cost one py4j call where a Column operator
    # costs ~10.
    state = (edges.selectExpr(f"src as {id_col}", "dst as _nbr",
                              f"{none} as component")
             .unionByName(nodes.selectExpr(id_col, f"{none} as _nbr",
                                           f"{id_col} as component"))
             .groupBy(id_col)
             .agg(F.expr("collect_list(_nbr) as _nbrs"),
                  F.expr("min(component) as component"))
             .localCheckpoint(eager=False))
    # a node in no pair keeps its own id; the rounds see endpoints only.
    # _old = component: round 1 sends no shortcut or hook
    alone = state.where("size(_nbrs) = 0").select(id_col, "component")
    state = state.where("size(_nbrs) > 0").selectExpr(
        "*", "component as _old")

    def msg(to: str, nbrs: str, label: str, old: str) -> str:
        return (f"named_struct('{id_col}', {to}, '_nbrs', {nbrs}, "
                f"'component', {label}, '_old', {old})")

    # every endpoint emits, in one generator: its own state row (with
    # its label before the round as _old), its label to each neighbour
    # and, if its label changed last round, the shortcut and the hook
    emit = (f"inline(concat("
            f"array({msg(id_col, '_nbrs', 'component', 'component')}), "
            f"transform(if(component is null, array(), _nbrs), "
            f"_n -> {msg('_n', no_nbrs, 'component', none)}), "
            f"if(_old is null or _old = component, array(), "
            f"array({msg('component', f'array({id_col})', none, none)}, "
            f"{msg('_old', no_nbrs, 'component', none)}))))")
    for _ in range(max_iters):
        state = (state.selectExpr(emit)
                 .groupBy(id_col)
                 .agg(F.expr("flatten(collect_list(_nbrs)) as _nbrs"),
                      F.expr("min(component) as component"),
                      F.expr("max(_old) as _old"))
                 .localCheckpoint(eager=False))
        # a label that is new or lower is a change; isEmpty reads one
        # partition where count() adds a shuffle
        if state.where("component is not null and "
                       "(_old is null or component != _old)").isEmpty():
            return alone.unionByName(state.where("component is not null")
                                     .select(id_col, "component"))
    # returning partially-propagated labels would silently split real
    # clusters — fail loudly instead
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds "
        f"(a component needs more rounds; raise max_iters)")


def embedding_neardup_lsh(emb: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          threshold: float = 0.95, dim: int = 64,
                          n_planes: int = 8, n_tables: int = 3,
                          seed: int = 42) -> DataFrame:
    """Scale path for embedding near-dup: candidates = pairs sharing a
    sign-LSH bucket in ANY of ``n_tables`` independent hyperplane sets
    (banding boosts recall: two vectors at cosine c collide per table with
    p=(1-acos(c)/pi)^n_planes; 1-(1-p)^B overall), then exact cosine
    verification. The corpus never self-joins — each join is restricted to
    bucket-mates, so at 10^12 rows the candidate set stays near-linear.
    """
    from .similarity import cosine_expr, hyperplanes, lsh_bucket_expr

    v = F.col(vec_col).cast("array<double>")
    buckets = [lsh_bucket_expr(v, hyperplanes(dim, n_planes, seed + 1000 * t))
               .alias(f"b{t}") for t in range(n_tables)]
    base = emb.select(F.col(id_col), v.alias("v"), *buckets)
    keyed = base.select(
        id_col, "v",
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("tbl"), F.col(f"b{t}").alias("bkt"))
            for t in range(n_tables)])).alias("k")
    ).select(id_col, "v", "k.tbl", "k.bkt")
    cand = (keyed.alias("a").join(keyed.alias("b"), on=["tbl", "bkt"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    cosine_expr("a.v", "b.v").alias("cos"))
            .distinct())
    return (cand.where(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
            .distinct())


def embedding_neardup_pairs(emb: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= threshold).

    Exact all-pairs via self-join — the correctness baseline. At scale use
    similarity.lsh_buckets to restrict the join to bucket-mates.
    """
    from .similarity import cosine_expr
    n = (emb.select(F.col(id_col),
                    F.col(vec_col).cast("array<double>").alias("v")))
    pairs = (n.alias("a").join(n.alias("b"),
                               F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     cosine_expr("a.v", "b.v").alias("cos")))
    return (pairs.where(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 6).alias("cosine")))
