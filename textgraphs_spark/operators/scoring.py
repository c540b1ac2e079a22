"""Pairwise scoring for candidate pairs.

Replaces the reference's similarity gates — difflib SequenceMatcher ratio
against KG aliases with min_similarity 0.9 (reference: textgraphs/kg.py:
530-550, 903-912; defaults.py:13-14) — with batched scorers:

* Jaro-Winkler: pure-Python kernel invoked per pair *inside* an
  Arrow-batched pandas UDF (no per-row Python boundary crossings; the
  batch loop is amortized across ~10k pairs per Arrow batch). Semantics
  match DuckDB's ``jaro_winkler_similarity`` (standard: boost threshold
  0.7, prefix scale 0.1, prefix cap 4) so the driver oracle can verify it.
* name_match_score: the ER decision function — last-token JW weighted with
  first-token compatibility (initial-aware), thresholded at the
  reference's min_similarity (0.9).
* block_match_edges: the ER job's scoring pass — a mapInPandas body
  that enumerates each salted block's pairs with numpy and keeps only
  the matches; ``score_pairs`` scores an explicit pair table the same way.
* cosine: embedding cosine via JVM higher-order functions (zip_with +
  aggregate) — no Python at all.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MIN_SIMILARITY = 0.9  # reference defaults.py:14


def jaro_winkler(s1: str, s2: str) -> float:
    """Standard Jaro-Winkler similarity (DuckDB-compatible)."""
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        # DuckDB convention (the oracle): empty input scores 0, even vs empty
        return 0.0
    if s1 == s2:
        return 1.0
    match_dist = max(len1, len2) // 2 - 1
    if match_dist < 0:
        match_dist = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, c1 in enumerate(s1):
        lo = max(0, i - match_dist)
        hi = min(len2, i + match_dist + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c1:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    transpositions //= 2
    jaro = (
        matches / len1 + matches / len2 + (matches - transpositions) / matches
    ) / 3.0
    if jaro > 0.7:
        prefix = 0
        for c1, c2 in zip(s1[:4], s2[:4]):
            if c1 == c2:
                prefix += 1
            else:
                break
        jaro += prefix * 0.1 * (1.0 - jaro)
    return jaro


# Memoized kernels for the batch hot loop. Candidate pairs are distinct,
# but their PARTS repeat massively: blocking groups entities by (last
# token, initial), so within a block every pair shares near-identical
# last tokens, and first names are Zipfian. The caches turn the O(len a *
# len b) JW inner loop into a dict hit for the head of the distribution.
# Python workers are reused (spark.python.worker.reuse), so the caches
# amortize across batches too. ~1M entries of short-string keys is tens
# of MB per worker — bounded.
_jw_cached = lru_cache(maxsize=1 << 20)(jaro_winkler)
# functools.wraps copies jaro_winkler's __qualname__ onto the wrapper;
# cloudpickle pickles module-level functions by reference and refuses
# when the name it resolves isn't the same object — point it at the alias
_jw_cached.__qualname__ = _jw_cached.__name__ = "_jw_cached"

# per-worker DuckDB connection for the vectorized JW kernel (lazy; reused
# across Arrow batches thanks to spark.python.worker.reuse)
_DUCK = None


def _jw_conn():
    global _DUCK
    if _DUCK is None:
        import duckdb

        _DUCK = duckdb.connect()
        # Spark already saturates the machine with one Python worker per
        # core — an intra-batch thread pool would only oversubscribe
        _DUCK.execute("SET threads TO 1")
    return _DUCK


def _codes(s: pd.Series):
    """NUL-safe integer coding of a string Series.

    ``pd.factorize`` keys its hash table on C strings, so values are
    TRUNCATED at embedded NUL bytes — '\\x00' + 'x' and '' collapse to
    one code and the wrong unique pair gets scored (caught by the
    hypothesis property test). Real surfaces never carry NULs, so the
    fast factorize path stays; a batch containing any NUL routes to
    ``np.unique``, whose object-array comparisons are byte-exact.
    """
    filled = s.fillna("")
    arr = filled.to_numpy(dtype=object)
    if any("\x00" in x for x in arr):
        vocab, codes = np.unique(arr, return_inverse=True)
        return codes, np.asarray(vocab, dtype=object)
    codes, vocab = pd.factorize(filled)
    return codes, np.asarray(vocab, dtype=object)


def _jw_batch(a, b):
    """Vectorized Jaro-Winkler over two equal-length string sequences.

    Three-layer decomposition, all C-speed at the row level:

    1. ``pd.factorize`` maps each side to integer codes over the batch's
       unique strings (candidate pairs repeat their PARTS massively —
       blocking groups entities by shared keys — so uniques ≪ rows);
    2. ``np.unique`` over the packed (code_a, code_b) pairs finds the
       unique STRING PAIRS, which alone get scored;
    3. the scores scatter back through the inverse index.

    Unique-pair scoring runs through DuckDB's C++
    ``jaro_winkler_similarity`` — the SAME function the driver oracle
    evaluates (~35x the pure-Python kernel single-threaded). DuckDB's
    JW walks UTF-8 BYTES while the reference kernel walks CODE POINTS —
    identical for ASCII, divergent beyond — so non-ASCII unique pairs
    (rare after name normalization) take the memoized pure-Python
    kernel instead, keeping the batch bit-equal to the scalar reference
    on ALL inputs (property-tested to 1e-12). Same fallback if DuckDB
    is unavailable on a worker.
    """
    ca, ua = _codes(pd.Series(a, dtype=object))
    cb, ub = _codes(pd.Series(b, dtype=object))
    if len(ca) == 0:
        return np.zeros(0, dtype="float64")
    return _jw_coded(ca, ua, cb, ub)


def _jw_coded(ca, va, cb, vb):
    """JW where rows are INTEGER CODES into per-side vocabularies —
    dedups to unique (code, code) pairs, scores each once, scatters
    back. The O(rows) work is integer packing + np.unique only."""
    stride = max(len(vb), 1)
    packed = ca.astype("int64") * stride + cb
    upairs, inv = np.unique(packed, return_inverse=True)
    ia = (upairs // stride).astype("int64")
    ib = (upairs % stride).astype("int64")
    return _jw_unique(va[ia], vb[ib])[inv]


def _jw_unique(xs, ys):
    """JW over two aligned object arrays of (already unique) pairs;
    order-stable output via an explicit row index."""
    n = len(xs)
    out = np.zeros(n, dtype="float64")
    ascii_mask = np.fromiter(
        (x.isascii() and y.isascii() for x, y in zip(xs, ys)),
        dtype=bool, count=n,
    )
    try:
        con = _jw_conn() if ascii_mask.any() else None
    except ImportError:  # pragma: no cover - duckdb is baked in here
        con = None
    if con is None:
        ascii_mask = np.zeros(n, dtype=bool)
    if ascii_mask.any():
        sub = pd.DataFrame({
            "i": np.nonzero(ascii_mask)[0], "a": xs[ascii_mask], "b": ys[ascii_mask],
        })
        scored = con.from_df(sub).project(
            "i, jaro_winkler_similarity(a, b) AS v"
        ).fetchnumpy()
        out[scored["i"]] = scored["v"]
    rest = ~ascii_mask
    if rest.any():
        out[rest] = [_jw_cached(x, y) for x, y in zip(xs[rest], ys[rest])]
    return out


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(_jw_batch(a, b), dtype="float64")


@lru_cache(maxsize=1 << 20)
def _name_parts(s: str) -> tuple[str, str]:
    toks = [t for t in "".join(c if (c.isalpha() or c == " ") else " " for c in s.lower()).split() if t]
    if not toks:
        return "", ""
    return toks[0], toks[-1]


def name_match_score(a: str, b: str) -> float:
    """ER decision score for two person-name surface forms.

    last-token JW carries 65%; first-token compatibility 35%, where an
    initial matching the other first token's initial scores 0.95
    (abbreviated forms: "W. Herzog" ~ "Werner Herzog").
    """
    fa, la = _name_parts(a)
    fb, lb = _name_parts(b)
    if not la or not lb:
        return 0.0
    last_sim = _jw_cached(la, lb)
    if fa == fb and fa:
        first_compat = 1.0
    elif fa and fb and (len(fa) == 1 or len(fb) == 1) and fa[0] == fb[0]:
        first_compat = 0.95
    else:
        first_compat = _jw_cached(fa, fb)
    return 0.35 * first_compat + 0.65 * last_sim


def name_match_batch(a, b):
    """``name_match_score`` over two aligned string sequences → float64
    ndarray, bit-equal to the scalar reference (asserted in
    tests/test_properties.py).

    Row-level work is all integer codes: surfaces factorize to codes,
    parts are computed once per UNIQUE surface (memoized tokenizer),
    and each JW channel scores only the unique (first, first) /
    (last, last) string pairs via ``_jw_batch``'s code-dedup + DuckDB
    kernel, scattering back through inverse indexes. The compat
    overrides (exact first, initial-abbreviation) are evaluated at the
    unique-pair level too — everything between is numpy."""
    sa, ua = _codes(pd.Series(a, dtype=object))
    sb, ub = _codes(pd.Series(b, dtype=object))
    if len(sa) == 0:
        return np.zeros(0, dtype="float64")
    pa = [_name_parts(s) for s in ua]
    pb = [_name_parts(s) for s in ub]
    fa_u = np.array([p[0] for p in pa], dtype=object)
    la_u = np.array([p[1] for p in pa], dtype=object)
    fb_u = np.array([p[0] for p in pb], dtype=object)
    lb_u = np.array([p[1] for p in pb], dtype=object)

    # factorize the PARTS at unique-surface level, then JW on integer
    # codes — no per-row tokenization or string hashing anywhere
    lca_u, la_vocab = pd.factorize(pd.Series(la_u, dtype=object))
    lcb_u, lb_vocab = pd.factorize(pd.Series(lb_u, dtype=object))
    last_sim = _jw_coded(
        lca_u[sa], np.asarray(la_vocab, dtype=object),
        lcb_u[sb], np.asarray(lb_vocab, dtype=object),
    )

    fca_u, fa_vocab = pd.factorize(pd.Series(fa_u, dtype=object))
    fcb_u, fb_vocab = pd.factorize(pd.Series(fb_u, dtype=object))
    fa = fa_u[sa]
    fb = fb_u[sb]
    first_jw = _jw_coded(
        fca_u[sa], np.asarray(fa_vocab, dtype=object),
        fcb_u[sb], np.asarray(fb_vocab, dtype=object),
    )
    # lengths/initials computed once per unique surface, indexed per row
    len_fa = np.fromiter((len(x) for x in fa_u), dtype="int64", count=len(fa_u))[sa]
    len_fb = np.fromiter((len(x) for x in fb_u), dtype="int64", count=len(fb_u))[sb]
    init_a = np.array([x[:1] for x in fa_u], dtype=object)[sa]
    init_b = np.array([x[:1] for x in fb_u], dtype=object)[sb]
    init_eq = (init_a == init_b) & (len_fa > 0) & (len_fb > 0)
    abbrev = ((len_fa == 1) | (len_fb == 1)) & init_eq
    first_compat = np.where(abbrev, 0.95, first_jw)
    exact_first = (fa == fb) & (len_fa > 0)
    first_compat = np.where(exact_first, 1.0, first_compat)
    score = 0.35 * first_compat + 0.65 * last_sim
    empty_last = (la_u == "")[sa] | (lb_u == "")[sb]
    return np.where(empty_last, 0.0, score)


@F.pandas_udf(T.DoubleType())
def name_match_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """``name_match_batch`` as an Arrow-batched pandas UDF."""
    return pd.Series(name_match_batch(a, b), dtype="float64")


def cosine_expr(a: str, b: str) -> Column:
    """JVM-side cosine similarity between two array<float/double> columns.

    ``try_divide`` so a zero-norm vector yields NULL instead of an ANSI
    DIVIDE_BY_ZERO error.
    """
    dot = F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)")
    na = F.sqrt(F.expr(f"aggregate({a}, 0.0D, (acc, v) -> acc + v * v)"))
    nb = F.sqrt(F.expr(f"aggregate({b}, 0.0D, (acc, v) -> acc + v * v)"))
    return F.try_divide(dot, na * nb).alias("cosine")


# pairs enumerated and scored at once inside the block pass, whatever
# the block sizes (a block of m rows holds m(m-1)/2 pairs): one chunk
# peaked at 177 MB of Python allocations scoring a 3,000-row block
_PAIR_CHUNK = 1 << 20


def _block_pairs(keys: np.ndarray) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Row indices (i, j), i < j, of every pair of rows that share a key,
    for ``keys`` with equal keys adjacent, in chunks of at most about
    ``_PAIR_CHUNK`` pairs. numpy over the run lengths — no Python loop
    over blocks: the row at position p of a run of m pairs with the
    m - 1 - p rows after it."""
    n = len(keys)
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    lengths = np.diff(np.r_[starts, n])
    after = np.repeat(starts + lengths, lengths) - np.arange(n) - 1
    ends = np.cumsum(after)
    lo = 0
    while lo < n:
        # left rows [lo, hi) hold the next chunk; at least one row each
        done = ends[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(ends, done + _PAIR_CHUNK, "right")), lo + 1)
        rows = np.arange(lo, hi)
        i = np.repeat(rows, after[lo:hi])
        first = np.repeat(ends[lo:hi] - after[lo:hi] - done, after[lo:hi])
        yield i, i + 1 + np.arange(len(i)) - first
        lo = hi


def _block_matches(rows: pd.DataFrame) -> Iterator[pd.DataFrame]:
    """Whole blocks of rows (salted_key, entity_key, surface, fresh), equal
    keys adjacent → the pairs that score ``>= MIN_SIMILARITY`` as
    (left_id, right_id), left_id < right_id. A pair with no fresh end is
    dropped before scoring; a row without an id pairs with nothing."""
    rows = rows[rows["entity_key"].notna()]
    ids = rows["entity_key"].to_numpy()
    fresh = rows["fresh"].to_numpy(dtype=bool)
    surface = rows["surface"].to_numpy(dtype=object)
    for i, j in _block_pairs(rows["salted_key"].to_numpy(dtype=object)):
        keep = (fresh[i] | fresh[j]) & (ids[i] != ids[j])
        i, j = i[keep], j[keep]
        # score as (smaller id, larger id), the order candidate_pairs
        # emits: Python str order is code-point order, Spark's UTF-8
        # byte order
        swap = ids[i] > ids[j]
        lo, hi = np.where(swap, j, i), np.where(swap, i, j)
        hit = name_match_batch(surface[lo], surface[hi]) >= MIN_SIMILARITY
        yield pd.DataFrame({"left_id": ids[lo[hit]], "right_id": ids[hi[hit]]})


def block_match_edges(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: one partition of block rows (salted_key,
    entity_key, surface, fresh), sorted on salted_key → its match edges
    (left_id, right_id), left_id < right_id: ``score_pairs`` plus the
    match filter, evaluated inside each block.

    The batches stream in order. A block can straddle a batch boundary,
    so each batch's trailing block is carried into the next one: memory
    is one batch plus one block, never the partition. A pair found in
    several blocks is emitted once per block."""
    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        keys = pdf["salted_key"].to_numpy(dtype=object)
        if len(keys) == 0:
            continue
        other = np.flatnonzero(keys != keys[-1])
        cut = other[-1] + 1 if len(other) else 0
        carry = pdf.iloc[cut:]
        if cut:
            yield from _block_matches(pdf.iloc[:cut])
    if carry is not None:
        yield from _block_matches(carry)


def score_pairs(pairs: DataFrame, *, threshold: float = MIN_SIMILARITY) -> DataFrame:
    """Score candidate pairs(left_surface, right_surface, ...): adds the
    ``name_match_score`` decision ``score`` and ``match = score >=
    threshold`` — one Arrow UDF stage."""
    score = name_match_udf(F.col("left_surface"), F.col("right_surface"))
    return pairs.withColumn("score", score).withColumn(
        "match", F.col("score") >= F.lit(threshold)
    )
