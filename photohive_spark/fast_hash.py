"""Vectorized (numpy) string hashes over Arrow string buffers, at
native-code speed: the engine's polynomial hash, bit-identical to the
Catalyst higher-order-function forms, and XXH64, bit-identical to
Spark's ``xxhash64``.

Why this exists (optimization guide §4.2): Spark higher-order functions
(``transform``/``aggregate`` lambdas) are CodegenFallback — every element
is INTERPRETED in the JVM. The per-character poly hash
(``tokenize.SPARK_TOKENS_EXPR`` / ``dedup.poly_hash_expr``) therefore costs
~100x more than the same arithmetic on a flat numpy byte buffer. These
kernels run inside ``mapInArrow`` over the Arrow string buffers directly
(zero-copy offsets + data), so the whole hot loop is C, and a per-doc
result (a MinHash signature, a simhash) needs no explode and no shuffle.

Exactness contract: the recurrence ``acc = (acc*MULT + codepoint) % mod``
is pure integer arithmetic — the numpy forms below produce the SAME
integers as the interpreted SQL expressions for any input (pinned by
tests), so every DuckDB oracle stays hash-identical. Non-ASCII words fall
back to a per-word Python loop over Unicode codepoints (Spark's ``ascii``
/ ``substr`` operate on characters, not bytes); ASCII words — the common
case — stay fully vectorized. XXH64 hashes UTF-8 bytes, as Spark does,
so it has no such fallback.
"""

from __future__ import annotations

import numpy as np

from .config import VOCAB_SIZE
from .tokenize import TOKEN_MULT, TOKEN_SEED

MERSENNE = (1 << 31) - 1


def poly_hash_flat(data: np.ndarray, starts: np.ndarray, lens: np.ndarray,
                   mod: int, seed: int = TOKEN_SEED, mult: int = TOKEN_MULT,
                   want_pow: bool = False):
    """Poly hash of ``n`` words packed in one uint8 buffer.

    data: uint8 buffer (UTF-8); starts/lens: per-word byte offsets/lengths.
    Returns int64 array ``acc`` with acc_i = fold over the word's
    CODEPOINTS of (a*mult + c) % mod starting from ``seed``; if
    ``want_pow``, also returns ``mult**len_i % mod`` (the shift factor
    needed to splice per-word hashes into shingle hashes).

    Vectorized Horner over char positions with a shrinking active set
    (words sorted by length descending), so total work is O(total bytes).
    Words containing non-ASCII bytes are recomputed per codepoint in
    Python (exact Spark ``ascii(substr(w,i,1))`` semantics).
    """
    n = lens.size
    acc = np.full(n, seed, dtype=np.int64)
    pw = np.ones(n, dtype=np.int64) if want_pow else None
    if n == 0:
        return (acc, pw) if want_pow else acc
    order = np.argsort(-lens, kind="stable")
    st_s = starts[order].astype(np.int64)
    ln_s = lens[order].astype(np.int64)
    acc_s = np.full(n, seed, dtype=np.int64)
    pw_s = np.ones(n, dtype=np.int64) if want_pow else None
    maxlen = int(ln_s[0])
    # number of words with len > p, for p = 0..maxlen-1 (descending sort
    # => active words form a prefix)
    hist = np.bincount(ln_s, minlength=maxlen + 1)
    ge = np.cumsum(hist[::-1])[::-1]          # ge[L] = #words with len >= L
    for p in range(maxlen):
        cnt = int(ge[p + 1])
        if cnt == 0:
            break
        c = data[st_s[:cnt] + p].astype(np.int64)
        acc_s[:cnt] = (acc_s[:cnt] * mult + c) % mod
        if want_pow:
            pw_s[:cnt] = (pw_s[:cnt] * mult) % mod
    acc[order] = acc_s
    if want_pow:
        pw[order] = pw_s

    # exactness for non-ASCII: recompute affected words per codepoint
    if data.size and lens.size:
        hi = np.flatnonzero(data >= 128)
        if hi.size:
            # map non-ascii byte positions to word indices
            ends = starts + lens
            cand = np.searchsorted(starts, hi, side="right") - 1
            bad = np.unique(cand[(cand >= 0) & (hi < ends[cand])])
            for i in bad:
                w = bytes(data[starts[i]:ends[i]]).decode("utf-8")
                a = seed
                for ch in w:
                    a = (a * mult + ord(ch)) % mod
                acc[i] = a
                if want_pow:
                    pw[i] = pow(mult, len(w), mod)
    return (acc, pw) if want_pow else acc


def _string_buffers(arr):
    """(data uint8, starts int64, lens int64, n) of a pyarrow String/
    LargeString array, honoring the array's slice offset."""
    import pyarrow as pa

    if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
        odt = np.int64
    else:
        odt = np.int32
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=odt,
                        count=arr.offset + len(arr) + 1)[arr.offset:]
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    starts = off[:-1].astype(np.int64)
    lens = np.diff(off).astype(np.int64)
    return data, starts, lens


def split_words(texts):
    """Split a pyarrow string array on single spaces and drop empty words
    — exactly ``filter(split(text, ' '), w -> length(w) > 0)``.

    Returns (word_data uint8, word_starts, word_lens, doc_counts int64,
    null_mask bool) where words are packed doc-major in document order and
    ``doc_counts[d]`` is the number of kept words of doc d (0 for null
    texts, flagged in null_mask).
    """
    import pyarrow.compute as pc

    null_mask = np.asarray(texts.is_null())
    sp = pc.split_pattern(texts, " ")
    flat = sp.flatten()
    doc_off = np.asarray(sp.offsets, dtype=np.int64)
    data, starts, lens = _string_buffers(flat.combine_chunks()
                                         if hasattr(flat, "combine_chunks")
                                         else flat)
    keep = lens > 0
    ck = np.concatenate([[0], np.cumsum(keep, dtype=np.int64)])
    doc_counts = ck[doc_off[1:]] - ck[doc_off[:-1]]
    return data, starts[keep], lens[keep], doc_counts, null_mask


def tokenize_arrow_batch(texts):
    """tokens column for one Arrow batch of texts: list<int32> ListArray,
    same values as tokenize.SPARK_TOKENS_EXPR (null text -> null entry)."""
    import pyarrow as pa

    data, starts, lens, counts, null_mask = split_words(texts)
    toks = poly_hash_flat(data, starts, lens, VOCAB_SIZE).astype(np.int32)
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    if null_mask.any():
        return pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()), pa.array(toks),
            mask=pa.array(null_mask))
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), pa.array(toks))


# XXH64 primes (Collet's xxHash spec; Spark's XXH64 uses the same)
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
XXH_SEED = 42                       # F.xxhash64's seed


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _lanes(data, pos, width: int):
    """Little-endian ``width``-byte unsigned words at byte offsets
    ``pos`` of ``data``, as uint64."""
    words = np.ndarray((max(data.size - width + 1, 0),), f"<u{width}",
                       buffer=data, strides=(1,))
    return words[pos].astype(np.uint64)


def _xxh_round(acc, lane):
    return _rotl(acc + lane * _P2, 31) * _P1


def xxh64_flat(data: np.ndarray, starts: np.ndarray, lens: np.ndarray,
               seed: int = XXH_SEED) -> np.ndarray:
    """XXH64 of ``n`` byte strings packed in one uint8 buffer — the same
    int64 as Spark's ``xxhash64(col)`` of those strings (UTF-8 bytes).

    Each branch of the spec (32-byte stripes, then 8-byte, 4-byte and
    1-byte tails) runs as a numpy step over the words still active in
    it, so the loops run max-length times, not once per word."""
    starts = starts.astype(np.int64)
    lens = lens.astype(np.int64)
    sd = np.uint64(seed)
    with np.errstate(over="ignore"):
        h = np.full(lens.size, sd + _P5, dtype=np.uint64)
        big = np.flatnonzero(lens >= 32)
        if big.size:
            st, ns = starts[big], lens[big] // 32
            v = [np.full(big.size, x, dtype=np.uint64)
                 for x in (sd + _P1 + _P2, sd + _P2, sd, sd - _P1)]
            for s in range(int(ns.max())):
                a = ns > s
                base = st[a] + 32 * s
                for i in range(4):
                    v[i][a] = _xxh_round(v[i][a], _lanes(data, base + 8 * i, 8))
            acc = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
                   + _rotl(v[3], 18))
            for x in v:
                acc = (acc ^ _xxh_round(np.uint64(0), x)) * _P1 + _P4
            h[big] = acc
        h += lens.astype(np.uint64)
        off = starts + lens // 32 * 32
        n8 = (starts + lens - off) // 8
        for i in range(int(n8.max()) if n8.size else 0):
            a = n8 > i
            k1 = _xxh_round(np.uint64(0), _lanes(data, off[a], 8))
            h[a] = _rotl(h[a] ^ k1, 27) * _P1 + _P4
            off[a] += 8
        a = starts + lens - off >= 4
        if a.any():
            h[a] = _rotl(h[a] ^ (_lanes(data, off[a], 4) * _P1), 23) * _P2 + _P3
            off[a] += 4
        rem = starts + lens - off
        for i in range(3):
            a = rem > i
            c = data[off[a] + i].astype(np.uint64)
            h[a] = _rotl(h[a] ^ (c * _P5), 11) * _P1
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def simhash_arrow(texts, bits: int = 32, hash_fn: str = "poly"):
    """Per-doc SimHash over word hashes for one Arrow batch of texts —
    identical integers to the explode+groupBy forms of dedup.simhash:
    "poly" word hashes mod 2^31-1, or "fast" = the low ``bits`` of
    Spark's ``xxhash64(word)``.

    Returns (keep_mask bool ndarray, simhash int64 ndarray over kept
    docs). Docs with no words (empty/null text) are DROPPED, exactly like
    the explode form (explode of an empty array emits no row).
    """
    data, starts, lens, counts, _null = split_words(texts)
    if hash_fn == "fast":
        h = xxh64_flat(data, starts, lens) & np.int64((1 << bits) - 1)
    else:
        h = poly_hash_flat(data, starts, lens, MERSENNE)
    keep = counts > 0
    if not keep.any():
        return keep, np.zeros(0, dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(counts)])
    starts_k = offsets[:-1][keep]
    bit_mat = ((h[:, None] >> np.arange(bits)) & 1).astype(np.int64)
    ones = np.add.reduceat(bit_mat, starts_k, axis=0)
    nw = counts[keep][:, None]
    sums = 2 * ones - nw                       # sum over words of (2*bit-1)
    sim = ((sums > 0).astype(np.int64)
           << np.arange(bits, dtype=np.int64)).sum(axis=1)
    return keep, sim


def _gram_starts(counts: np.ndarray, k: int):
    """Word k-gram layout of docs with ``counts`` words packed doc-major:
    (first word index, words in the gram, grams per doc). Full k-grams
    start at every loc <= nw-k; a doc with 0 < nw < k has one all-words
    gram at loc 0; an empty doc has none."""
    nw_rep = np.repeat(counts, counts)
    word_off = np.concatenate([[0], np.cumsum(counts)])
    loc = np.arange(nw_rep.size, dtype=np.int64) - np.repeat(
        word_off[:-1], counts)
    is_start = (loc + k <= nw_rep) | ((loc == 0) & (nw_rep < k))
    g_start = np.flatnonzero(is_start)
    g_len = np.minimum(nw_rep[g_start] - loc[g_start], k)
    gcnt = np.where(counts >= k, counts - k + 1,
                    np.where(counts > 0, 1, 0)).astype(np.int64)
    return g_start, g_len, gcnt


def _with_empty_grams(counts: np.ndarray, gcnt: np.ndarray):
    """Give each empty doc one gram: the new grams-per-doc, and the slot
    of each existing gram (doc-major) in the spliced order."""
    full_cnt = np.where(counts == 0, 1, gcnt)
    slots = (np.repeat(np.cumsum(full_cnt) - full_cnt, gcnt)
             + np.arange(int(gcnt.sum()))
             - np.repeat(np.cumsum(gcnt) - gcnt, gcnt))
    return full_cnt, slots


def minhash_sig_arrow(texts, k: int, a_consts, b_consts,
                      hash_fn: str = "poly",
                      mult: int = TOKEN_MULT, seed: int = TOKEN_SEED):
    """Per-doc MinHash signatures over word k-gram shingles for one Arrow
    batch of texts: per permutation j, the min over the doc's gram
    hashes h of (A[j]*h + B[j]) mod 2^31-1. Returns an (n_docs,
    num_perm) int64 matrix. Gram hashes by ``hash_fn``:

    - "poly": the per-character poly hash mod 2^31-1 of the gram string
      (words joined by ' ') — identical integers to the interpreted
      shingle-string form. It is not recomputed per character:
      poly(s1+' '+s2) == (t*L2 + poly7(s2)) % M with t = (acc*31 + 32 -
      seed) % M, where poly7 is the word hash from ``seed`` and L2 =
      31^len(s2) % M, so each word's characters are read ONCE, not once
      per covering gram. The empty doc's "" shingle hashes to a Spark
      quirk, replicated exactly: poly_hash_expr("") evaluates
      sequence(1, length('')) = sequence(1, 0) = [1, 0] (Spark sequences
      run BACKWARDS when start > stop) and ascii(substr('', i, 1)) = 0,
      so it is ((seed*31 + 0)*31 + 0) % M, not seed.
    - "fast": word hashes pmod(xxhash64(word), M) folded over the gram
      as acc = (acc*31 + h) % M — identical integers to the Catalyst
      posexplode + lead() window form. An empty doc's gram is
      xxhash64(null) = its seed.

    Empty docs (no words) get one gram, mirroring the posexplode_outer
    of the Catalyst forms; docs with 0 < nw < k one all-words gram.
    """
    M = MERSENNE
    data, starts, lens, counts, _null = split_words(texts)
    g_start, g_len, gcnt = _gram_starts(counts, k)
    if hash_fn == "fast":
        h = xxh64_flat(data, starts, lens) % M
        acc = h[g_start]
        for j in range(1, k):
            act = g_len > j
            acc[act] = (acc[act] * 31 + h[g_start[act] + j]) % M
        empty = XXH_SEED % M
    else:
        space = 32                              # ascii(' ')
        h7, L = poly_hash_flat(data, starts, lens, M, want_pow=True)
        acc = h7[g_start]
        for j in range(1, k):
            act = g_len > j
            idx = g_start[act] + j
            t = (acc[act] * mult + (space - seed)) % M
            acc[act] = (t * L[idx] + h7[idx]) % M
        empty = (seed * mult * mult) % M
    if (counts == 0).any():
        gcnt, slots = _with_empty_grams(counts, gcnt)
        full = np.full(int(gcnt.sum()), empty, dtype=np.int64)
        full[slots] = acc
        acc = full
    g_off = np.concatenate([[0], np.cumsum(gcnt)])[:-1]
    A = np.asarray(a_consts, dtype=np.int64)
    B = np.asarray(b_consts, dtype=np.int64)
    sig = np.empty((counts.size, A.size), dtype=np.int64)
    for j in range(A.size):
        sig[:, j] = np.minimum.reduceat((A[j] * acc + B[j]) % M, g_off)
    return sig


def shingles_arrow(texts, k: int):
    """DISTINCT word k-gram shingle strings per doc for one Arrow batch —
    the rows of dedup.word_shingles (same set as the window form in
    tests/oracles.py): full k-grams for docs with >= k words, one
    all-words gram for 0 < nw < k, and the "" shingle for empty/null docs.

    Returns (doc_idx int64 ndarray, grams pyarrow StringArray) aligned.
    Gram strings are assembled with pyarrow C kernels (take +
    binary_join_element_wise); per-doc dedup is EXACT string equality
    via dictionary_encode (no hashing anywhere).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    data, starts, lens, counts, _null = split_words(texts)
    # kept words as a pyarrow StringArray (doc-major order), rebuilt
    # from the flat buffers (cheap, exact)
    total = int(lens.sum())
    w_off = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    w_data = np.empty(total, dtype=np.uint8)
    pos = np.repeat(starts, lens) + (
        np.arange(total, dtype=np.int64)
        - np.repeat(w_off[:-1].astype(np.int64), lens))
    w_data[:] = data[pos] if total else 0
    words = pa.StringArray.from_buffers(
        len(lens), pa.py_buffer(w_off.tobytes()),
        pa.py_buffer(w_data.tobytes()))

    n_docs = counts.size
    g_start, g_len, gcnt = _gram_starts(counts, k)
    g_doc = np.repeat(np.arange(n_docs), gcnt)

    if g_start.size:
        # gram -> list<word> -> binary_join(" ")
        tot_w = int(g_len.sum())
        gl_off = np.concatenate([[0], np.cumsum(g_len)]).astype(np.int32)
        widx = np.repeat(g_start, g_len) + (
            np.arange(tot_w, dtype=np.int64)
            - np.repeat(gl_off[:-1].astype(np.int64), g_len))
        gram_words = words.take(pa.array(widx))
        gram_lists = pa.ListArray.from_arrays(
            pa.array(gl_off, type=pa.int32()), gram_words)
        grams = pc.binary_join(gram_lists, " ")
    else:
        grams = pa.array([], type=pa.string())

    # splice the "" shingle for empty docs (doc-major order preserved)
    if (counts == 0).any():
        gcnt, slots = _with_empty_grams(counts, gcnt)
        g_doc = np.repeat(np.arange(n_docs), gcnt)
        full_idx = np.full(int(gcnt.sum()), g_start.size, dtype=np.int64)
        full_idx[slots] = np.arange(g_start.size)       # others: the "" slot
        grams = pa.concat_arrays([grams, pa.array([""], type=pa.string())])
        grams = grams.take(pa.array(full_idx))

    # exact per-doc distinct: dictionary codes are exact string identity
    if len(grams):
        dict_arr = pc.dictionary_encode(grams)
        codes = np.asarray(dict_arr.indices, dtype=np.int64)
        ndict = len(dict_arr.dictionary)
        key = g_doc * max(ndict, 1) + codes
        _, first = np.unique(key, return_index=True)
        first.sort()
        return g_doc[first], grams.take(pa.array(first))
    return g_doc[:0], grams


def repetition_arrow(texts):
    """Per-doc Gopher repetition integers for one Arrow batch of texts —
    identical values to the explode+groupBy form of
    text.repetition_stats: n_words / n_distinct over space-split
    nonempty words, top_bg = max multiplicity of any adjacent word
    bigram, n_bg = n_words - 1 (== the bigram count). Docs with < 2
    words are dropped, exactly like the explode of an empty array.

    Word identity is exact string equality via dictionary_encode, and a
    bigram string "a b" equals "c d" iff a == c and b == d (words are
    space-split so contain no spaces) — so bigram identity is the code
    PAIR and no gram strings are ever assembled or hashed.

    Returns (keep mask over the batch's docs, n_words, n_distinct,
    top_bg, n_bg) with the stat arrays already filtered to kept docs.
    """
    import pyarrow.compute as pc

    sp = pc.split_pattern(texts, " ")
    flat = sp.flatten()
    if hasattr(flat, "combine_chunks"):
        flat = flat.combine_chunks()
    doc_off = np.asarray(sp.offsets, dtype=np.int64)
    n_flat = len(flat)
    if n_flat:
        wlens = np.asarray(pc.binary_length(flat), dtype=np.int64)
    else:
        wlens = np.zeros(0, dtype=np.int64)
    keep_w = wlens > 0
    ck = np.concatenate([[0], np.cumsum(keep_w, dtype=np.int64)])
    n_words = ck[doc_off[1:]] - ck[doc_off[:-1]]
    ndocs = n_words.size
    if n_flat:
        enc = flat.dictionary_encode()
        codes = np.asarray(enc.indices, dtype=np.int64)[keep_w]
        vsize = np.int64(len(enc.dictionary))
    else:
        codes = np.zeros(0, dtype=np.int64)
        vsize = np.int64(1)
    docw = np.repeat(np.arange(ndocs, dtype=np.int64), n_words)
    if codes.size:
        o = np.lexsort((codes, docw))
        dc = docw[o]
        cc = codes[o]
        nr = np.empty(dc.size, dtype=bool)
        nr[0] = True
        nr[1:] = (dc[1:] != dc[:-1]) | (cc[1:] != cc[:-1])
        n_distinct = np.bincount(dc[nr], minlength=ndocs).astype(np.int64)
    else:
        n_distinct = np.zeros(ndocs, dtype=np.int64)
    top_bg = np.zeros(ndocs, dtype=np.int64)
    same = docw[1:] == docw[:-1]
    db = docw[1:][same]
    if db.size:                 # some doc has a bigram (>= 2 words)
        a = codes[:-1][same]
        b = codes[1:][same]
        key = a * vsize + b
        o2 = np.lexsort((key, db))
        db = db[o2]
        kb = key[o2]
        nr2 = np.empty(db.size, dtype=bool)
        nr2[0] = True
        nr2[1:] = (db[1:] != db[:-1]) | (kb[1:] != kb[:-1])
        rs = np.flatnonzero(nr2)
        rl = np.diff(np.concatenate([rs, [db.size]]))
        rdoc = db[rs]
        dchg = np.empty(rdoc.size, dtype=bool)
        dchg[0] = True
        dchg[1:] = rdoc[1:] != rdoc[:-1]
        gs = np.flatnonzero(dchg)
        top_bg[rdoc[gs]] = np.maximum.reduceat(rl, gs)
    keep = n_words >= 2
    return (keep, n_words[keep].astype(np.int64),
            n_distinct[keep], top_bg[keep],
            (n_words[keep] - 1).astype(np.int64))
