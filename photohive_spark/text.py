"""Text analysis operators for training-data pipelines: language-ID
(stopword heuristic), quality scoring, token counting, document
fingerprinting. Catalyst expressions (regexp/string built-ins) —
SQL-expressible for the DuckDB oracle, whole-stage-codegen'd at scale —
except ``repetition_stats``, whose default computes its per-doc counts in
one shuffle-free Arrow stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

# tiny deterministic stopword lists per language (heuristic, not a model)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "dans"],
}

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _stopword_hits(text_col: str, words: list[str]):
    """Count of stopword occurrences as whole words (JVM regexp_count)."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(F.col(text_col)), F.lit(pat))


def lang_id(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hit counts
    (ties -> language name ascending; 'und' when zero hits everywhere)."""
    hits = [F.struct(_stopword_hits(text_col, ws).alias("hits"),
                     F.lit(-ord(lang[0])).alias("tie"),
                     F.lit(lang).alias("lang"))
            for lang, ws in sorted(STOPWORDS.items())]
    best = F.greatest(*hits)
    return docs.select(
        F.col(id_col),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
         .alias("lang_pred"),
        best["hits"].alias("stopword_hits"))


def quality_score(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a composite
    score in [0,1]. Formula is deliberately simple and fully SQL-portable."""
    n_chars = F.length(F.col(text_col))
    n_words = F.size(F.expr(f"filter(split({text_col}, ' '), w -> length(w) > 0)"))
    n_punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]"))
    n_stop = _stopword_hits(text_col, STOPWORDS["en"])
    avg_wlen = (n_chars - (n_words - 1)) / F.greatest(n_words, F.lit(1))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_words, F.lit(1))
    # composite: long enough, not punctuation soup, some stopword signal
    score = (F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
             + (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.3
             + F.least(stop_ratio * 4.0, F.lit(1.0)) * 0.3)
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(avg_wlen, 6).alias("avg_word_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality"))


def token_counts(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    return docs.select(
        F.col(id_col),
        F.size(F.expr(f"filter(split({text_col}, ' '), w -> length(w) > 0)"))
         .alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN)).alias("bpe_tokens"))


def unigram_logprob(tokens_df: DataFrame, id_col: str = "doc_id",
                    tokens_col: str = "tokens") -> DataFrame:
    """Corpus-frequency language-model score (the KenLM-stand-in quality
    filter): avg token log-prob under the corpus's own unigram
    distribution. Low scores = out-of-distribution / junk docs.

    Two passes: (1) one groupBy builds the token->count table (<= vocab
    rows — broadcast back), (2) per-doc mean of ln(count/total).
    Determinism: each token's log-prob is rounded to integer MICRO-nats
    first, so the per-doc sum is ORDER-independent (an exact bigint).
    Cross-engine exactness additionally relies on JVM Math.log and the
    oracle engine's libm agreeing at the round() boundary — a last-ulp
    disagreement on one ratio would shift that token's micro-nat by 1
    (same accepted fragility class as the numpy-vs-SQL oracles;
    empirically exact at the gate's scale factors).
    """
    toks = tokens_df.select(F.col(id_col), F.explode(tokens_col).alias("t"))
    freq = toks.groupBy("t").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    lp = F.round(F.log(F.col("cnt") / F.col("total")) * 1e6).cast("bigint")
    scored = (toks.join(F.broadcast(freq.crossJoin(total)), on="t")
              .groupBy(id_col)
              .agg(F.sum(lp).alias("lp_sum"), F.count("*").alias("n")))
    return scored.select(
        F.col(id_col),
        F.col("n").cast("int").alias("n_tok"),
        F.round(F.col("lp_sum") / (1e6 * F.col("n")), 6).alias("avg_logprob"))


def bigram_logprob(tokens_df: DataFrame, id_col: str = "doc_id",
                   tokens_col: str = "tokens",
                   alpha: float = 1.0) -> DataFrame:
    """Conditional bigram language-model score with add-``alpha``
    (Laplace) smoothing — the next step up from unigram_logprob as a
    junk/boilerplate filter: p(t_i | t_{i-1}) = (c(prev,t) + alpha) /
    (c(prev,·) + alpha·V), per-doc mean ln p over positions 2..n.
    Docs with fewer than 2 tokens have no bigrams and drop out (same
    convention as repetition_stats).

    Shape: one explode builds the bigram stream; two bounded groupBys
    build the bigram and context tables (≤ observed-bigram rows — the
    join back is a plain equi-join so AQE broadcasts it only when it
    actually fits, unlike the always-broadcast unigram table); V is the
    exact distinct-token count. Determinism: per-bigram log-probs round
    to integer micro-nats before the order-independent bigint sum
    (same cross-engine libm caveat as unigram_logprob)."""
    pair_expr = (f"case when size({tokens_col}) < 2 then "
                 f"array() else transform(sequence(1, size({tokens_col}) - 1), "
                 f"i -> struct(element_at({tokens_col}, i) as a, "
                 f"element_at({tokens_col}, i + 1) as b)) end")
    bg = (tokens_df.select(F.col(id_col), F.explode(F.expr(pair_expr))
                           .alias("p"))
          .select(id_col, F.col("p.a").alias("a"), F.col("p.b").alias("b")))
    cab = bg.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    ca = bg.groupBy("a").agg(F.count("*").alias("c_a"))
    vocab = (tokens_df.select(F.explode(tokens_col).alias("t"))
             .agg(F.countDistinct("t").alias("v")))
    lp = F.round(F.log((F.col("c_ab") + F.lit(float(alpha)))
                       / (F.col("c_a") + F.lit(float(alpha)) * F.col("v")))
                 * 1e6).cast("bigint")
    # r7: fold the context counts and V into the bounded distinct-bigram
    # table FIRST (cab rows only), so the per-instance stream passes
    # through ONE equi-join instead of two joins + a crossJoin — same
    # lp bigints from the same (c_ab, c_a, v) inputs, identical sums
    st = (cab.join(ca, on="a").crossJoin(vocab)
          .select("a", "b", lp.alias("lp")))
    scored = (bg.join(st, on=["a", "b"])
              .groupBy(id_col)
              .agg(F.sum("lp").alias("lp_sum"), F.count("*").alias("n")))
    return scored.select(
        F.col(id_col),
        F.col("n").cast("int").alias("n_bigrams"),
        F.round(F.col("lp_sum") / (1e6 * F.col("n")), 6).alias("avg_logprob"))


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals: fraction of the doc covered by its
    most frequent word bigram, and the duplicate-word fraction
    (1 - distinct/total). High values = boilerplate / spam.

    The statistic is row-local, so the per-doc integers (n_words,
    n_distinct, top-bigram multiplicity, bigram count) come from ONE
    vectorized Arrow stage: no explode, no groupBy, no shuffle. The final
    round()/division expressions are Catalyst ops over those integers, so
    the outputs equal the explode+groupBy form kept as the parity oracle
    in tests/oracles.py (docs with fewer than two words emit no row in
    either)."""
    from .arrow_stage import arrow_stage

    def f(b):
        import numpy as np
        from photohive_spark.fast_hash import repetition_arrow
        keep, nw, nd, tb, nb = repetition_arrow(b.column(text_col))
        return keep, {"n_words": nw.astype(np.int32),
                      "n_distinct": nd.astype(np.int32),
                      "top_bg": tb, "n_bg": nb}

    top = arrow_stage(docs.select(id_col, text_col),
                      "n_words int, n_distinct int, top_bg bigint, "
                      "n_bg bigint", f, carry=[id_col])
    return top.select(
        id_col, "n_words",
        F.round(F.col("top_bg") / F.col("n_bg"), 6).alias("top_bigram_frac"),
        F.round(1.0 - F.col("n_distinct") / F.col("n_words"), 6)
         .alias("dup_word_frac"))


def fingerprint(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 of normalized text (lower, collapsed
    whitespace) — the cheap exact-dup / citation key."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return docs.select(F.col(id_col), F.md5(norm).alias("fp"))


def length_percentiles(tokens_df: DataFrame, len_col: str = "n_tok",
                       group_col: str = "source",
                       qs: tuple = (0.5, 0.9, 0.99)) -> DataFrame:
    """EXACT discrete per-group length percentiles (lower-nearest-rank on
    the sorted multiset), in a SCALE-SAFE distributed form (r5 — the
    registered query previously materialized each group's full value
    list in one collect_list buffer, the engine's last scale-killer):

    1. ``groupBy(group, len)`` value counts — map-side combinable, the
       only pass over the big table;
    2. running count over the DISTINCT lengths per group (window
       partition size = distinct lengths, thousands at most — never the
       group's row count);
    3. percentile q = smallest length whose running count reaches rank
       floor((n-1)*q)+1, via one min(when(...)) aggregation.

    A group with 10^11 rows costs the same window memory as one with
    10^3. Still engine-exact: DuckDB-oracle hash parity in the driver
    gate is unchanged. For single-pass sketched percentiles (no second
    shuffle) see :func:`length_percentiles_approx`."""
    from pyspark.sql import Window

    cnt = tokens_df.groupBy(group_col, len_col).agg(
        F.count("*").alias("c"))
    w = Window.partitionBy(group_col).orderBy(len_col) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = cnt.withColumn("cum", F.sum("c").over(w)) \
        .withColumn("n", F.sum("c").over(Window.partitionBy(group_col)))

    def pick(q):
        rank = F.floor((F.col("n") - 1) * q) + 1
        return F.min(F.when(F.col("cum") >= rank, F.col(len_col)))

    cols = [pick(q).alias(f"p{round(q * 100)}") for q in qs]
    return cum.groupBy(group_col).agg(
        F.max("n").cast("long").alias("n_docs"), *cols) \
        .orderBy(group_col)


def length_percentiles_approx(tokens_df: DataFrame, len_col: str = "n_tok",
                              group_col: str = "source",
                              qs: tuple = (0.5, 0.9, 0.99),
                              accuracy: int = 10000) -> DataFrame:
    """The 10^12-row variant of :func:`length_percentiles`: same output
    schema, but percentile_approx (a mergeable Greenwald-Khanna sketch of
    bounded size ~O(accuracy), combined map-side) replaces the per-group
    collect_list — no group's values ever co-reside in one buffer, so a
    group with 10^11 rows costs the same memory as one with 10^3.
    Rank error is bounded by n/accuracy per group."""
    pctl = F.percentile_approx(
        len_col, F.array(*[F.lit(float(q)) for q in qs]), accuracy)
    g = tokens_df.groupBy(group_col).agg(
        pctl.alias("_p"), F.count("*").alias("n_docs"))
    cols = [F.element_at("_p", i + 1).alias(f"p{round(q * 100)}")
            for i, q in enumerate(qs)]
    return g.select(group_col, "n_docs", *cols).orderBy(group_col)


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BM25 document ranking for a literal term query — the retrieval
    scorer a training-data pipeline uses for decontamination triage and
    topic-targeted corpus slicing (rank the corpus against a benchmark
    prompt, then audit/drop the head).

    Plan, sized for 10^12 docs: tokenize (whitespace, like token_counts)
    -> per-doc length -> explode ONLY rows matching the query-term
    filter (the isin predicate prunes the exploded stream immediately;
    non-matching tokens never reach a shuffle) -> groupBy(doc, term)
    term frequencies -> df per term (<= |query| rows, broadcast back)
    -> per-term BM25 contribution -> per-doc sum -> TakeOrdered top-k.
    Corpus stats (N, total length) ride along as a broadcast 1-row
    crossJoin. Shuffles only the matched-term rows; never the corpus.

    Determinism (gate rules): each (doc, term) contribution is rounded
    to integer MICRO-points before the per-doc sum, so the sum is an
    exact order-independent bigint; ties break on id. Output:
    (id, n_terms int, score_micro bigint) with score_micro =
    round(1e6 * sum-of-term-scores)."""
    terms = [t for t in query_terms]
    toks = docs.select(
        F.col(id_col),
        F.expr(f"filter(split({text_col}, ' '), w -> length(w) > 0)")
         .alias("tokens"))
    dl = toks.select(id_col, F.size("tokens").cast("bigint").alias("dl"),
                     "tokens")
    stats = dl.agg(F.count("*").alias("n_docs"),
                   F.sum("dl").alias("sum_dl"))
    hits = (dl.select(id_col, "dl", F.explode("tokens").alias("t"))
            .where(F.col("t").isin(terms)))
    tf = hits.groupBy(id_col, "dl", "t").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("t").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(df_), on="t")
              .crossJoin(F.broadcast(stats)))
    # expression order mirrors the oracle SQL verbatim (IEEE parity)
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = F.col("tf") + k1 * (1 - b + b * (F.col("dl") / avgdl))
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / denom
    micro = F.round(contrib * 1e6).cast("bigint")
    per_doc = (scored.groupBy(id_col)
               .agg(F.sum(micro).alias("score_micro"),
                    F.count("*").cast("int").alias("n_terms")))
    return (per_doc.select(id_col, "n_terms", "score_micro")
            .orderBy(F.desc("score_micro"), F.asc(id_col)).limit(k))


def bm25_topk_batch(docs: DataFrame, queries: DataFrame, k: int = 10,
                    k1: float = 1.2, b: float = 0.75,
                    text_col: str = "text", id_col: str = "doc_id",
                    qid_col: str = "query_id",
                    terms_col: str = "terms") -> DataFrame:
    """BM25 for a whole TABLE of queries at once — the production
    retrieval shape (rank the corpus against thousands of benchmark
    prompts in one pass for decontamination triage, instead of one job
    per prompt).

    Same scoring and determinism contract as ``bm25_topk``; the
    differences are scale-structural:
    - corpus tokenization, doc lengths, per-(doc, term) tf and per-term
      df are computed ONCE over the union of all queries' terms — adding
      queries reuses the corpus-side work (the expensive part);
    - the query table (query_id, terms array<string>) is exploded and
      BROADCAST onto the tf stream (thousands of queries x tens of terms
      is kilobytes against a 10^12-doc corpus);
    - per-query top-k is a window row_number over (query_id), not a
      global TakeOrdered — one shuffle keyed by query_id over rows
      already reduced to (query, matched doc).

    Output: (query_id, id, n_terms, score_micro, rank<=k)."""
    qterms = (queries
              .select(F.col(qid_col), F.explode(terms_col).alias("t"))
              .distinct())
    toks = docs.select(
        F.col(id_col),
        F.expr(f"filter(split({text_col}, ' '), w -> length(w) > 0)")
         .alias("tokens"))
    dl = toks.select(id_col, F.size("tokens").cast("bigint").alias("dl"),
                     "tokens")
    stats = dl.agg(F.count("*").alias("n_docs"),
                   F.sum("dl").alias("sum_dl"))
    all_terms = qterms.select("t").distinct()
    hits = (dl.select(id_col, "dl", F.explode("tokens").alias("t"))
            .join(F.broadcast(all_terms), on="t"))
    tf = hits.groupBy(id_col, "dl", "t").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("t").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(df_), on="t")
              .join(F.broadcast(qterms), on="t")
              .crossJoin(F.broadcast(stats)))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = F.col("tf") + k1 * (1 - b + b * (F.col("dl") / avgdl))
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / denom
    micro = F.round(contrib * 1e6).cast("bigint")
    per_doc = (scored.groupBy(qid_col, id_col)
               .agg(F.sum(micro).alias("score_micro"),
                    F.count("*").cast("int").alias("n_terms")))
    w = Window.partitionBy(qid_col).orderBy(
        F.desc("score_micro"), F.asc(id_col))
    return (per_doc.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(qid_col, id_col, "n_terms", "score_micro", "rank"))
