"""Document deduplication operators for large-scale corpus pipelines.

Five channels, cheapest-first — the standard web-corpus dedup ladder:

* exact        — md5 of full text; one hash-groupBy, no pairs at all.
* ngram-jaccard — word-shingle Jaccard between candidate pairs inside
                  cheap blocks; built entirely from array builtins so the
                  DuckDB oracle can verify it value-for-value.
* minhash-lsh  — character-shingle MinHash banded into buckets (see
                  blocking.py), verified pairs by true Jaccard; the scale
                  path: candidate count is bucket-bounded, never O(n²).
* simhash      — 64-bit rotation-invariant fingerprint from token md5
                  bits; near-dups are fingerprints within Hamming ≤ k
                  (bucketed by 4 × 16-bit bands, pigeonhole k ≤ 3).
* embedding    — cosine near-dup over a vector column (similarity.py).

All hashing uses md5 (identical across Spark and DuckDB) where the oracle
needs to reproduce values, xxhash64 (JVM-fast) where it does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .blocking import minhash_band_keys

# one canonical tokenization shared by Spark and the DuckDB oracle:
# lowercase, split on non-alphanumeric runs, drop empties
_TOKENS = "filter(split(lower({c}), '[^a-z0-9]+'), t -> t <> '')"


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents (size > 1), via md5 hash-agg."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "source",
    n: int = 2,
    threshold: float = 0.5,
    max_block_size: int | None = 10_000,
) -> DataFrame:
    """Word n-gram Jaccard between doc pairs sharing a block.

    Fully builtin (split/transform/array_intersect) — zero Python, and
    SQL-oracle-checkable. Blocks bound the pair explosion; at web scale
    the block column is a cheap sketch (length bucket, lang, host).

    ``max_block_size`` caps the per-block self-join the same way
    ``blocking.candidate_pairs`` does — blocks above the cap are salted
    into shards and only intra-shard pairs survive (an explicit pair
    budget). Without it a hot block (one dominant source/host) degrades
    to O(n²) pairs as the corpus grows. ``None`` disables the cap. When
    the cap actually engages, a ``UserWarning`` names the truncated
    blocks — the recall change is never silent. NOTE: with the cap on,
    the call is EAGER (block sizing materializes the gram table at
    plan-construction time) and batch-only; see
    ``blocking._salt_oversized``.
    """
    toks = F.expr(_TOKENS.format(c=text_col))
    # each gram position hashes its n tokens DIRECTLY with one n-ary
    # xxhash64 call — no per-gram slice() array or concat_ws string is
    # ever allocated, which matters because this whole expression runs
    # interpreted (higher-order functions sit outside codegen). |grams|
    # and |intersection| — all Jaccard needs — are preserved under any
    # injective-enough gram encoding (64-bit collisions ~1e-13 per
    # pair; multi-arg xxhash64 seeds each argument with the previous
    # digest, so token-boundary shifts hash differently), and the
    # arrays shipped through the pair join are 8 B/element longs
    # IF-guard for docs with < n tokens: sequence(1, 0) counts DOWN to
    # [1, 0] (its default step is sign-inferred), which with element_at
    # is an ANSI index error — and with the old slice/concat_ws form
    # silently produced one phantom "" gram, scoring two <n-token docs
    # at jaccard 1.0 where the SQL oracle's range() (exclusive end,
    # genuinely empty) scores 0. Short docs now have empty gram sets.
    gram_args = ", ".join(f"element_at(_toks, i + {j})" for j in range(n))
    grams = F.expr(
        f"IF(size(_toks) >= {n},"
        f" array_distinct(transform(sequence(1, size(_toks) - {n - 1}),"
        f" i -> xxhash64({gram_args}))),"
        f" cast(array() as array<bigint>))"
    )
    d = (
        docs.select(
            F.col(id_col), *( [F.col(block_col)] if block_col else [] ),
            toks.alias("_toks"),
        )
        .withColumn("grams", grams)
        .drop("_toks")
    )
    if block_col and max_block_size:
        from .blocking import _salt_oversized

        d = _salt_oversized(d, block_col, id_col, max_block_size)
        join_key = ["salted_key"]
    else:
        join_key = [block_col] if block_col else []
    if threshold > 0:
        # Inverted-index intersection: explode grams, equi-join docs on
        # (block, gram), count co-occurrences per pair — that count IS
        # |A ∩ B|, so no per-pair array_intersect (which re-hashes both
        # full gram arrays for every one of the C(block,2) pairs). Any
        # pair passing threshold > 0 shares ≥ 1 gram, so the gram join
        # loses nothing vs the all-pairs form; zero-intersection pairs
        # were filtered out below anyway. Cost is Σ C(df,2) join rows
        # over per-(block, gram) doc frequencies df — worst case (every
        # doc sharing every gram) identical to the all-pairs intersect's
        # element ops, typical sparse-overlap corpora ~30x fewer; df is
        # bounded by the salting cap. The pair-count shuffle moves at
        # most those same rows: partial aggregation collapses a pair's
        # rows only where its grams hash to the same join partition, so
        # the collapse is real for high-overlap pairs (many shared grams
        # per partition) and ~nil for low-overlap ones — the bound is
        # Σ C(df,2), not the post-collapse count.
        ex = d.select(
            *join_key, F.col(id_col), F.size("grams").alias("sz"),
            F.explode("grams").alias("g"),
        )
        a = ex.select(
            *join_key, F.col(id_col).alias("left_id"), F.col("sz").alias("lsz"), "g"
        )
        b = ex.select(
            *join_key, F.col(id_col).alias("right_id"), F.col("sz").alias("rsz"), "g"
        )
        pairs = (
            a.join(b, join_key + ["g"])
            .filter(F.col("left_id") < F.col("right_id"))
            .groupBy("left_id", "right_id", "lsz", "rsz")
            .agg(F.count("*").alias("inter"))
            .withColumn("uni", F.col("lsz") + F.col("rsz") - F.col("inter"))
            .withColumn("jaccard", F.col("inter") / F.col("uni"))  # uni >= inter >= 1
        )
    else:
        # threshold <= 0 must emit zero-overlap (even both-empty) pairs,
        # which only the block-local all-pairs form produces
        a = d.select(*join_key, F.col(id_col).alias("left_id"), F.col("grams").alias("lg"))
        b = d.select(*join_key, F.col(id_col).alias("right_id"), F.col("grams").alias("rg"))
        pairs = (
            (a.join(b, join_key) if join_key else a.crossJoin(b))
            .filter(F.col("left_id") < F.col("right_id"))
            .withColumn("inter", F.size(F.array_intersect("lg", "rg")))
            .withColumn("uni", F.size("lg") + F.size("rg") - F.col("inter"))
            .withColumn(
                "jaccard",
                F.when(F.col("uni") > 0, F.col("inter") / F.col("uni")).otherwise(F.lit(0.0)),
            )
        )
    return pairs.filter(F.col("jaccard") >= threshold).select(
        "left_id", "right_id", F.round("jaccard", 6).alias("jaccard")
    )


def ngram_containment_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "source",
    n: int = 3,
    threshold: float = 0.6,
    max_block_size: int | None = 10_000,
) -> DataFrame:
    """Word n-gram CONTAINMENT between doc pairs sharing a block:
    ``|A ∩ B| / min(|A|, |B|)`` over distinct gram sets (Broder's
    containment, symmetrized by the min denominator). The subset-dup
    channel Jaccard structurally misses: a paragraph quoted inside a
    10x-longer page scores containment ~1.0 but Jaccard ~0.1, so
    quote-inclusion / boilerplate-embedding dups need this metric —
    the standard companion to resemblance in web dedup ladders.

    Same inverted-index shape as ``ngram_jaccard_pairs`` (explode
    grams, equi-join on (block, gram), count co-occurrences = the
    intersection — no per-pair array re-hash), same xxhash64 gram
    encoding (set SIZES are metric-sufficient), same ``max_block_size``
    salting cap bounding the per-gram doc frequency. ``threshold`` must
    be > 0: a containment-0 pair shares no gram and cannot (and need
    not) surface from the index. EAGER + BATCH-ONLY when the cap is on,
    exactly like the Jaccard form.

    Returns (left_id, right_id, containment) at containment >= threshold.
    """
    if threshold <= 0:
        raise ValueError("containment dedup requires threshold > 0")
    toks = F.expr(_TOKENS.format(c=text_col))
    gram_args = ", ".join(f"element_at(_toks, i + {j})" for j in range(n))
    grams = F.expr(
        f"IF(size(_toks) >= {n},"
        f" array_distinct(transform(sequence(1, size(_toks) - {n - 1}),"
        f" i -> xxhash64({gram_args}))),"
        f" cast(array() as array<bigint>))"
    )
    d = (
        docs.select(
            F.col(id_col), *([F.col(block_col)] if block_col else []),
            toks.alias("_toks"),
        )
        .withColumn("grams", grams)
        .drop("_toks")
    )
    if block_col and max_block_size:
        from .blocking import _salt_oversized

        d = _salt_oversized(d, block_col, id_col, max_block_size)
        join_key = ["salted_key"]
    else:
        join_key = [block_col] if block_col else []
    ex = d.select(
        *join_key, F.col(id_col), F.size("grams").alias("sz"),
        F.explode("grams").alias("g"),
    )
    a = ex.select(
        *join_key, F.col(id_col).alias("left_id"), F.col("sz").alias("lsz"), "g"
    )
    b = ex.select(
        *join_key, F.col(id_col).alias("right_id"), F.col("sz").alias("rsz"), "g"
    )
    return (
        a.join(b, join_key + ["g"])
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id", "lsz", "rsz")
        .agg(F.count("*").alias("inter"))
        # least(lsz, rsz) >= inter >= 1 on every surfaced pair
        .withColumn(
            "containment", F.col("inter") / F.least(F.col("lsz"), F.col("rsz"))
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "left_id", "right_id", F.round("containment", 6).alias("containment")
        )
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 5,
    threshold: float = 0.6,
    max_bucket: int = 200,
    hash_family: str = "md5",
    new_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs verified by true shingle Jaccard.

    **Incremental mode** (``new_col``: boolean column marking the fresh
    batch): only pairs with at least one NEW side are emitted — old-old
    pairs were resolved when the old docs were themselves the batch —
    and, the actual scale win, buckets containing NO new member are
    pruned BEFORE the self-join, so candidate generation scales with
    the batch's bucket footprint, not the corpus's. This is the daily
    crawl-against-corpus dedup shape: at 10^12 accumulated docs a full
    re-dedup per batch is off the table; in production the old side's
    signatures/buckets come from the persisted signature table rather
    than being recomputed (this function recomputes them when handed
    raw text — hand it the signature store's output to skip that).

    Candidates come from band-bucket equality (narrow + one shuffle on the
    bucket key); buckets larger than ``max_bucket`` are dropped — a band
    shared by hundreds of documents carries no near-dup signal
    (low-entropy shingles), and the pair blow-up inside such buckets is
    exactly the skew that kills the job at corpus scale.

    Verification is two-stage, sized by what each stage must ship through
    the join:

    1. *signature agreement* — candidates join the (already computed)
       num_hashes-long signatures (256 B/side) and keep pairs whose
       estimated Jaccard (fraction of agreeing min-hashes) clears
       ``threshold - sig_margin``. LSH candidates are overwhelmingly
       false positives, so this drops most pairs for ~nothing.
    2. *exact shingle Jaccard* — survivors only, over xxhash64-hashed
       shingle sets (8 B/element instead of a shingle-length string).

    The estimator is de-biased for candidacy: sharing a band guarantees
    ``num_hashes/bands`` equal positions, so agreement is measured over
    the remaining positions only. With the ``xxhash64`` family those 28
    remaining positions are independent samples (σ ≤ 0.095, so the
    default margin 0.25 keeps a true at-threshold pair with
    P(drop) < 1e-2). The default ``md5`` family derives every position
    from ONE md5 per shingle XOR a per-seed constant, so positions are
    correlated across seeds and the independence bound does not apply —
    for md5 the margin is an empirical knob, pinned by the recall
    assertions in tests/test_operators.py rather than by the binomial
    estimate. Both verify stages compute true Jaccard, so the family
    choice can only affect candidate recall, never precision. At
    web-dedup thresholds (≥ 0.7) stage 1 removes the overwhelming
    majority of LSH noise; at low thresholds it degrades gracefully
    toward a no-op.

    Hash-family cost (measured, sf0.1 warm interleaved A/B): the
    signature kernel is ~1 s of the ~7 s query — md5 0.75–0.99 s vs
    xxhash64 0.62–0.68 s — so md5 stays the default: every shipped
    query is oracle-checked and DuckDB can only reproduce md5. Callers
    without an oracle constraint can pass ``hash_family="xxhash64"``
    for the ~25–30 % faster signature map stage.
    """
    from textgraphs_spark.operators.blocking import (
        _exploded_shingles, band_keys_from_signatures, minhash_signatures,
    )

    sig_margin = 0.25
    d = docs.select(F.col(id_col).alias("_id"), F.lower(F.col(text_col)).alias("_t"))
    # md5 family by default: ONE md5 per shingle + per-seed XOR (cheaper
    # than num_hashes seeded xxhash64 calls) AND bit-reproducible by the
    # DuckDB oracle — see minhash_signatures
    sigs = minhash_signatures(
        d, "_id", "_t", num_hashes=num_hashes, shingle=shingle,
        hash_family=hash_family,
    ).localCheckpoint()
    banded = band_keys_from_signatures(sigs, "_id", num_hashes=num_hashes, bands=bands)
    bucket_key = F.concat_ws("|", "band_id", "band_key")
    keyed = banded.select(bucket_key.alias("bk"), F.col("_id"))
    if new_col is not None:
        nf = docs.select(
            F.col(id_col).alias("_id"),
            F.col(new_col).cast("boolean").alias("_new"),
        )
        keyed = keyed.join(nf, "_id")
        counts = keyed.groupBy("bk").agg(
            F.count("*").alias("_n"),
            F.sum(F.col("_new").cast("int")).alias("_nn"),
        )
        bucket_gate = (
            (F.col("_n") > 1) & (F.col("_n") <= max_bucket)
            & (F.col("_nn") >= 1)
        )
    else:
        counts = keyed.groupBy("bk").agg(F.count("*").alias("_n"))
        bucket_gate = (F.col("_n") > 1) & (F.col("_n") <= max_bucket)
    bounded = (
        keyed.join(counts.filter(bucket_gate).select("bk"), "bk")
    )
    a = bounded.select(
        "bk", F.col("_id").alias("left_id"),
        *([F.col("_new").alias("_lnew")] if new_col is not None else []),
    )
    b = bounded.select(
        "bk", F.col("_id").alias("right_id"),
        *([F.col("_new").alias("_rnew")] if new_col is not None else []),
    )
    cands = a.join(b, "bk").filter(F.col("left_id") < F.col("right_id"))
    if new_col is not None:
        cands = cands.filter(F.col("_lnew") | F.col("_rnew"))
    cands = cands.select("left_id", "right_id").distinct()
    rows_per_band = num_hashes // bands
    if num_hashes - rows_per_band > 0:
        matches = F.expr(
            "aggregate(zip_with(lsig, rsig, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
        )
        est = (matches - F.lit(rows_per_band)) / F.lit(num_hashes - rows_per_band)
        prefiltered = (
            cands
            .join(sigs.select(F.col("_id").alias("left_id"), F.col("sig").alias("lsig")), "left_id")
            .join(sigs.select(F.col("_id").alias("right_id"), F.col("sig").alias("rsig")), "right_id")
            .filter(est >= F.lit(max(threshold - sig_margin, 0.0)))
            .select("left_id", "right_id")
        )
    else:
        # bands == 1: every signature position is band-guaranteed, the
        # estimator has no fair sample — skip straight to exact verify
        prefiltered = cands
    # exact verify touches only DOCS THAT SURVIVED THE PREFILTER: the
    # shingle-set build is the second-largest stage of this operator (a
    # corpus-sized explode + collect_set shuffle), and near-dup survivors
    # are typically a small fraction of the corpus — so materialize the
    # (tiny) survivor pair set once and semi-join the corpus down to
    # candidate docs before ever exploding shingles. Output-identical:
    # docs outside the survivor set can never appear in a verified pair.
    prefiltered = prefiltered.localCheckpoint()
    cand_ids = (
        prefiltered.select(F.col("left_id").alias("_id"))
        .union(prefiltered.select(F.col("right_id").alias("_id")))
        .distinct()
    )
    sets = (
        _exploded_shingles(
            d.join(cand_ids, "_id", "left_semi"), [F.col("_id")], "_t", shingle
        )
        .select("_id", F.xxhash64("_sh").alias("_h"))
        .groupBy("_id")
        .agg(F.collect_set("_h").alias("sh"))
    )
    verified = (
        prefiltered
        .join(sets.select(F.col("_id").alias("left_id"), F.col("sh").alias("ls")), "left_id")
        .join(sets.select(F.col("_id").alias("right_id"), F.col("sh").alias("rs")), "right_id")
        .withColumn("inter", F.size(F.array_intersect("ls", "rs")))
        .withColumn("uni", F.size("ls") + F.size("rs") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("left_id", "right_id", F.round("jaccard", 6).alias("jaccard"))


def minhash_oracle_sql(
    *,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 5,
    threshold: float = 0.6,
    max_bucket: int = 200,
    new_pred: str | None = None,
) -> str:
    """DuckDB SQL reproducing ``minhash_dedup_pairs`` (md5 hash family)
    value-for-value: same md5-top-60-bit shingle hashes, same XOR-mixed
    signature mins, same band keys / bucket cap / signature prefilter /
    exact-Jaccard verify. The only representational difference is the
    verify stage's shingle sets (raw strings here, xxhash64-hashed longs
    in Spark) — Jaccard is identical modulo 64-bit collisions (~1e-13).
    ``new_pred`` (SQL boolean over the base table's columns) mirrors the
    engine's ``new_col`` incremental mode: new-empty buckets pruned,
    pairs require ≥ 1 new side.
    """
    from .blocking import minhash_xor_constants

    consts = minhash_xor_constants(num_hashes)
    rows_per_band = num_hashes // bands
    sig_margin = 0.25
    mins = ",\n    ".join(
        f"min(xor(_hb, {c})) AS h{s}" for s, c in enumerate(consts)
    )
    band_cases = "\n      ".join(
        "WHEN {b} THEN concat_ws('_', {cols})".format(
            b=b,
            cols=", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(bands)
    )
    band_ids = ", ".join(f"({b})" for b in range(bands))
    matches = " + ".join(
        f"(CASE WHEN l.h{s} = r.h{s} THEN 1 ELSE 0 END)" for s in range(num_hashes)
    )
    est_floor = max(threshold - sig_margin, 0.0)
    if new_pred is not None:
        nf_cte = (
            f"nf AS (SELECT {id_col} AS _id, ({new_pred}) AS _new"
            f" FROM {table}),\n"
        )
        keyed_cte = (
            "keyed AS (SELECT concat_ws('|', band_id, band_key) AS bk,"
            " banded._id, nf._new FROM banded JOIN nf ON banded._id = nf._id)"
        )
        cnt_cte = (
            "cnt AS (SELECT bk, count(*) AS _n,"
            " sum(CASE WHEN _new THEN 1 ELSE 0 END) AS _nn"
            " FROM keyed GROUP BY bk)"
        )
        bounded_gate = f"c._n > 1 AND c._n <= {max_bucket} AND c._nn >= 1"
        bounded_cols = "k.bk, k._id, k._new"
        cand_gate = " AND (a._new OR b._new)"
    else:
        nf_cte = ""
        keyed_cte = (
            "keyed AS (SELECT concat_ws('|', band_id, band_key) AS bk, _id"
            " FROM banded)"
        )
        cnt_cte = "cnt AS (SELECT bk, count(*) AS _n FROM keyed GROUP BY bk)"
        bounded_gate = f"c._n > 1 AND c._n <= {max_bucket}"
        bounded_cols = "k.bk, k._id"
        cand_gate = ""
    return f"""
WITH {nf_cte}d AS (SELECT {id_col} AS _id, lower({text_col}) AS _t FROM {table}),
sh AS (
  SELECT _id, substr(_t, CAST(i.i AS INT), {shingle}) AS _sh
  FROM d, unnest(range(1, greatest(length(_t) - {shingle - 1}, 1) + 1)) AS i(i)
),
hb AS (SELECT _id, CAST('0x' || substr(md5(_sh), 1, 15) AS BIGINT) AS _hb FROM sh),
sig AS (
  SELECT _id,
    {mins}
  FROM hb GROUP BY _id
),
banded AS (
  SELECT _id, b.band_id,
    CASE b.band_id
      {band_cases}
    END AS band_key
  FROM sig, (VALUES {band_ids}) AS b(band_id)
),
{keyed_cte},
{cnt_cte},
bounded AS (
  SELECT {bounded_cols} FROM keyed k JOIN cnt c ON k.bk = c.bk
  WHERE {bounded_gate}
),
cands AS (
  SELECT DISTINCT a._id AS left_id, b._id AS right_id
  FROM bounded a JOIN bounded b ON a.bk = b.bk AND a._id < b._id{cand_gate}
),
pref AS (
  SELECT c.left_id, c.right_id
  FROM cands c
  JOIN sig l ON l._id = c.left_id
  JOIN sig r ON r._id = c.right_id
  WHERE ({matches} - {rows_per_band}) * 1.0 / {num_hashes - rows_per_band} >= {est_floor}
),
sets AS (SELECT _id, list(DISTINCT _sh) AS s FROM sh GROUP BY _id),
verified AS (
  SELECT p.left_id, p.right_id,
         len(list_intersect(ls.s, rs.s)) AS inter,
         len(ls.s) + len(rs.s) - len(list_intersect(ls.s, rs.s)) AS uni
  FROM pref p
  JOIN sets ls ON ls._id = p.left_id
  JOIN sets rs ON rs._id = p.right_id
)
SELECT left_id, right_id, round(inter * 1.0 / uni, 6) AS jaccard
FROM verified WHERE inter * 1.0 / uni >= {threshold}
"""


def simhash(docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprints from md5-derived token hashes.

    For each token, take the top 64 bits of md5; sum ±1 per bit position
    weighted by token frequency; sign → fingerprint bit. Entirely JVM-side:
    conv(substring(md5)) + bit ops inside aggregate expressions.
    """
    toks = F.expr(_TOKENS.format(c=text_col))
    exploded = (
        docs.select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode("_toks").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("w"))
        .withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"))
    )
    # per-bit signed sums; 60 usable bits from 15 hex chars
    bit_cols = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, F.col("w")).otherwise(-F.col("w"))
        ).alias(f"b{b}")
        for b in range(min(bits, 60))
    ]
    agg = exploded.groupBy(id_col).agg(*bit_cols)
    fp = None
    for b in range(min(bits, 60)):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_col(text_col: str = "text", *, bits: int = 60) -> "F.Column":
    """STATELESS per-row SimHash — the same fingerprint as ``simhash()``
    computed entirely inside array expressions (no groupBy), for contexts
    where aggregation is unavailable or costly (streams: the only
    stateful operator should be the join).

    Bit-identical to the aggregation kernel: summing ±1 per token
    OCCURRENCE equals summing ±count per distinct token. Higher-order
    functions are interpreted, so this trades per-row CPU for
    statelessness — the batch path keeps the codegen'd groupBy kernel.
    """
    toks = _TOKENS.format(c=text_col)
    # one md5 per token occurrence (top 60 bits as a long), then ±1 per
    # bit accumulated into a 60-long array of signed sums, folded into
    # the fingerprint
    hashes = (
        f"transform({toks},"
        f" t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
    )
    sums = (
        f"aggregate({hashes}, array_repeat(0L, {bits}),"
        f" (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),"
        f" (a, b) -> a + IF((h & shiftleft(1L, b)) != 0, 1L, -1L)))"
    )
    fp = (
        f"aggregate(zip_with({sums}, sequence(0, {bits - 1}),"
        f" (s, b) -> IF(s > 0, shiftleft(1L, b), 0L)), 0L, (acc, v) -> acc + v)"
    )
    return F.expr(fp)


def simhash_near_dup_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= k via 4-band pigeonhole:
    any pair within Hamming 3 of 64 bits agrees exactly on at least one
    16-bit band — bucket join per band, then exact Hamming verify."""
    fp = simhash(docs, text_col=text_col, id_col=id_col)
    bands = []
    for i in range(4):
        bands.append(
            fp.select(
                F.col(id_col),
                F.col("simhash"),
                F.lit(i).alias("band"),
                F.shiftrightunsigned("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("bkey"),
            )
        )
    banded = bands[0]
    for x in bands[1:]:
        banded = banded.unionByName(x)
    a = banded.select("band", "bkey", F.col(id_col).alias("left_id"), F.col("simhash").alias("lh"))
    b = banded.select("band", "bkey", F.col(id_col).alias("right_id"), F.col("simhash").alias("rh"))
    cands = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id", "lh", "rh")
        .distinct()
    )
    hamming = F.bit_count(F.col("lh").bitwiseXOR(F.col("rh")))
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("left_id", "right_id", "hamming")
    )


# ---------------------------------------------------------------------------
# Winnowing (MOSS-style positional fingerprints) — a sixth dedup channel
# ---------------------------------------------------------------------------

def _winnow_gram_hashes(text_col: str, k: int) -> "F.Column":
    """array<bigint> of word k-gram hashes in position order — the top 60
    bits of md5 over the space-joined gram (the engine/oracle-shared
    idiom simhash pins). Docs shorter than k tokens get an empty array
    (never a descending sequence(1,0) artifact); NULL text tokenizes to
    [] so dirty rows contribute no fingerprints (the dedup-family
    contract: no signal is not sameness)."""
    toks = _TOKENS.format(c=f"coalesce({text_col}, '')")
    return F.expr(
        f"transform("
        f" IF(size({toks}) >= {k}, sequence(1, size({toks}) - {k} + 1),"
        f"    array()),"
        f" i -> cast(conv(substring(md5("
        f"   concat_ws(' ', slice({toks}, i, {k}))), 1, 15), 16, 10)"
        f"  as bigint))"
    )


def winnow_fingerprints(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
    k: int = 5, window: int = 4,
) -> DataFrame:
    """Positional document fingerprints in the winnowing family
    (Schleimer, Wilkerson & Aiken, SIGMOD'03 — the MOSS algorithm),
    using the paper's LOCAL selection scheme (§5): position p is
    selected iff its k-gram hash is STRICTLY below every hash in the
    preceding ``window - 1`` positions (first position always selects).
    Expected density 1/window on md5-random hashes; unlike full
    winnowing the every-window coverage guarantee is probabilistic
    rather than hard, which suffices for containment scoring because
    selection is a pure function of content — identical spans
    fingerprint identically in every document that contains them. The
    strict rule collapses identical-gram runs (boilerplate repetition)
    to ONE fingerprint instead of one per position.

    Unlike MinHash/SimHash (set-level sketches), winnowing keeps WHERE
    the match is: shared (fp, pos) runs localize the copied span —
    the plagiarism/quotation channel the set sketches can't provide.

    Plan shape at 10^12 docs: the whole computation is ONE map-side
    projection per doc (array expressions; no explode, no shuffle) until
    the caller explodes the returned rows. Selection density is
    ~2/(window+1) fingerprints per token, so the downstream index is a
    small fraction of corpus token count.

    Returns (id_col, pos, fp) — pos is the 1-based k-gram position.
    """
    return (
        docs.select(
            F.col(id_col),
            _winnow_gram_hashes(text_col, k).alias("_hs"),
        )
        .select(
            F.col(id_col),
            F.explode(F.expr(winnow_select_expr(window))).alias("_s"),
        )
        .select(F.col(id_col), F.col("_s.pos").alias("pos"), F.col("_s.fp").alias("fp"))
    )


def winnow_select_expr(window: int, hs: str = "_hs") -> str:
    """SQL expression selecting the local-minimum fingerprints out of a
    gram-hash array column ``hs`` as array<struct<pos int, fp bigint>>
    — stateless, so a per-row (streaming) caller selects the same
    positions as the batch operator."""
    w = int(window)
    assert w >= 2, "window must be >= 2 (window=1 selects every gram)"
    return (
        # sequence(1, 0) yields the DESCENDING [1, 0], so the empty-doc
        # case must short-circuit before sequence() is evaluated
        f"filter("
        f" transform(IF(size({hs}) > 0, sequence(1, size({hs})), array()),"
        f"  i -> struct(i AS pos, element_at({hs}, i) AS fp)),"
        # strict <: NULL (empty preceding slice at pos 1) coalesces to
        # selected; equal values do NOT re-select
        f" s -> coalesce(s.fp < array_min("
        f"   slice({hs}, greatest(1, s.pos - {w - 1}),"
        f"         s.pos - greatest(1, s.pos - {w - 1}))), true))"
    )


def winnow_near_dup_pairs(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
    k: int = 5, window: int = 4, min_shared: int = 2,
    max_df: int = 1000,
) -> DataFrame:
    """Near-dup/containment pairs sharing >= ``min_shared`` winnowing
    fingerprints, scored by containment = shared / min(|fp_a|, |fp_b|)
    (the MOSS report metric — robust to a small doc quoted inside a
    large one, where Jaccard dilutes).

    Scale shape mirrors the ngram inverted index: join docs through the
    fingerprint posting list, so pair rows are bounded by sum over
    fingerprints of C(df, 2) — and ``max_df`` drops boilerplate
    fingerprints (df > max_df posting lists are navigation chrome /
    license headers by construction: prose that common IS boilerplate),
    which both bounds the quadratic term and de-noises the signal, the
    same cut web-dedup pipelines apply to hot shingles.
    """
    from pyspark.sql.window import Window

    fps = winnow_fingerprints(
        docs, text_col=text_col, id_col=id_col, k=k, window=window
    ).select(F.col(id_col).alias("doc"), "fp").distinct()
    # df cut via an unordered count window on the posting key — ONE
    # shuffle, no hot-fp self-anti-join; then materialize: kept feeds
    # the size agg AND both pair-join sides, and its lineage starts at
    # a full corpus fingerprint pass (a .explain audit showed 8 corpus
    # scans without the checkpoint)
    kept = (
        fps.withColumn("_df", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
        .localCheckpoint()
    )
    sizes = kept.groupBy("doc").agg(F.count("*").alias("n_fp"))
    a = kept.select(F.col("doc").alias("left_id"), "fp")
    b = kept.select(F.col("doc").alias("right_id"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        shared
        .join(sizes.withColumnRenamed("doc", "left_id")
                   .withColumnRenamed("n_fp", "n_left"), "left_id")
        .join(sizes.withColumnRenamed("doc", "right_id")
                   .withColumnRenamed("n_fp", "n_right"), "right_id")
        .select(
            "left_id", "right_id", "shared",
            F.round(
                F.col("shared") / F.least("n_left", "n_right"), 6
            ).alias("containment"),
        )
    )


def winnow_oracle_sql(
    table: str = "documents", *, text_col: str = "text",
    id_col: str = "doc_id", k: int = 5, window: int = 4,
) -> str:
    """DuckDB twin of winnow_fingerprints: same tokenization, the same
    md5-top-60-bit gram hash, selection via a trailing window min."""
    return f"""WITH d AS (
  SELECT {id_col},
         list_filter(string_split_regex(lower(coalesce({text_col}, '')),
                     '[^a-z0-9]+'), t -> t <> '') AS toks
  FROM {table}
),
g0 AS (
  -- range() cannot take lateral column args as a table function, so the
  -- per-doc position list unnests in the projection instead
  SELECT {id_col}, toks,
         unnest(range(1, greatest(len(toks) - {k} + 2, 1))) AS i
  FROM d
),
g AS (
  SELECT {id_col}, CAST(i AS INTEGER) AS pos,
         CAST('0x' || substr(md5(array_to_string(toks[i:i+{k - 1}], ' ')),
              1, 15) AS BIGINT) AS fp
  FROM g0
),
s AS (
  SELECT {id_col}, pos, fp,
         min(fp) OVER (PARTITION BY {id_col} ORDER BY pos
                       ROWS BETWEEN {window - 1} PRECEDING AND 1 PRECEDING)
           AS pmin
  FROM g
)
SELECT {id_col}, pos, fp FROM s
WHERE pmin IS NULL OR fp < pmin
ORDER BY {id_col}, pos
"""


def winnow_pairs_oracle_sql(
    table: str = "documents", *, text_col: str = "text",
    id_col: str = "doc_id", k: int = 5, window: int = 4,
    min_shared: int = 2, max_df: int = 1000,
) -> str:
    """DuckDB twin of winnow_near_dup_pairs over the same fingerprints."""
    fps = winnow_oracle_sql(
        table, text_col=text_col, id_col=id_col, k=k, window=window
    )
    return f"""WITH fsel AS ({fps.rstrip()}
),
f AS (SELECT DISTINCT {id_col} AS doc, fp FROM fsel),
kept AS (
  SELECT doc, fp FROM f
  WHERE fp NOT IN (SELECT fp FROM f GROUP BY fp HAVING count(*) > {max_df})
),
sizes AS (SELECT doc, count(*) AS n_fp FROM kept GROUP BY doc),
shared AS (
  SELECT a.doc AS left_id, b.doc AS right_id, count(*) AS shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc < b.doc
  GROUP BY a.doc, b.doc
  HAVING count(*) >= {min_shared}
)
SELECT s.left_id, s.right_id, s.shared,
       round(s.shared * 1.0 / least(sa.n_fp, sb.n_fp), 6) AS containment
FROM shared s
JOIN sizes sa ON sa.doc = s.left_id
JOIN sizes sb ON sb.doc = s.right_id
ORDER BY left_id, right_id
"""


def duplicated_span_removal(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-span removal at token granularity (the
    substring-dedup transform of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", re-expressed over
    token k-grams): every maximal run of tokens covered by a k-gram
    that occurs in >= ``min_docs`` distinct documents is deleted from
    every document, and the surviving token sequence is re-joined.
    Unlike the pairwise dedup channels above, this is a TRANSFORM —
    boilerplate shared by many pages disappears while the unique prose
    around it survives.

    Output: (doc_id, n_tokens, n_removed, cleaned) for every input doc.

    Scale shape: gram hashes are computed positionally inside one array
    expression (n-ary xxhash64 per start — no slice/concat allocation,
    the ngram_jaccard_pairs trick); the census is a hash aggregate over
    DISTINCT (gram, doc) — corpus-gram-sized with map-side partials —
    and duplicated grams join back keyed by gram, then fold to one
    covered-start set per doc (bounded by doc length). The rebuild is
    map-only array math. No windows, no driver state, no pair lists.
    The oracle reproduces the semantics with string grams (the hash
    never reaches the output, so the encodings only need to agree on
    equality; 64-bit collisions ~1e-13 per gram pair).
    """
    gram_args = ", ".join(f"element_at(_toks, i + {j})" for j in range(k))
    grams = F.expr(
        f"IF(size(_toks) >= {k},"
        f" transform(sequence(1, size(_toks) - {k - 1}),"
        f" i -> xxhash64({gram_args})),"
        f" cast(array() as array<bigint>))"
    )
    d = (
        docs.select(
            F.col(id_col), F.expr(_TOKENS.format(c=text_col)).alias("_toks")
        )
        .withColumn("_grams", grams)
        # feeds the census explode AND the rebuild join: materialize the
        # tokenized frame once (EAGER + BATCH-ONLY) instead of
        # re-tokenizing the corpus on both branches
        .localCheckpoint()
    )
    pos = d.select(
        F.col(id_col),
        F.posexplode("_grams").alias("_p0", "gram"),
    ).select(id_col, (F.col("_p0") + 1).alias("start"), "gram")
    dup_grams = (
        pos.select("gram", id_col)
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("gram")
    )
    covered = (
        pos.join(dup_grams, "gram")
        .groupBy(id_col)
        .agg(F.collect_set("start").alias("_dup_starts"))
    )
    kept = F.expr(
        f"filter(sequence(1, size(_toks)),"
        f" p -> NOT exists(_ds, s -> p >= s AND p < s + {k}))"
    )
    return (
        d.join(covered, id_col, "left")
        .withColumn(
            "_ds",
            F.coalesce(
                F.col("_dup_starts"), F.expr("cast(array() as array<int>)")
            ),
        )
        .withColumn("_kept", F.when(F.size("_toks") == 0, F.expr("cast(array() as array<int>)")).otherwise(kept))
        .select(
            F.col(id_col),
            F.size("_toks").cast("long").alias("n_tokens"),
            (F.size("_toks") - F.size("_kept")).cast("long").alias("n_removed"),
            F.array_join(
                F.expr("transform(_kept, p -> element_at(_toks, p))"), " "
            ).alias("cleaned"),
        )
        .orderBy(id_col)
    )


def span_removal_oracle_sql(
    *, table: str = "documents", toks: str | None = None,
    k: int = 3, min_docs: int = 2,
) -> str:
    """DuckDB twin of duplicated_span_removal — string grams instead of
    xxhash64 (equality-equivalent), same census/coverage/rebuild."""
    toks = toks or (
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
        " t -> t <> '')"
    )
    return f"""WITH d AS (
  SELECT doc_id, {toks} AS toks FROM {table}
),
pos AS (
  SELECT doc_id, CAST(u.i AS INT) AS start,
         array_to_string(toks[CAST(u.i AS INT) : CAST(u.i AS INT) + {k - 1}], ' ') AS gram
  FROM d, unnest(range(1, greatest(len(toks) - {k} + 2, 1))) AS u(i)
),
dup_grams AS (
  SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM pos)
  GROUP BY gram HAVING count(*) >= {min_docs}
),
covered AS (
  SELECT doc_id, list(DISTINCT start) AS dup_starts
  FROM pos JOIN dup_grams USING (gram)
  GROUP BY doc_id
),
rebuilt AS (
  SELECT d.doc_id, d.toks,
         list_filter(
           range(1, len(d.toks) + 1),
           p -> len(list_filter(coalesce(c.dup_starts, []),
                                s -> p >= s AND p < s + {k})) = 0
         ) AS kept
  FROM d LEFT JOIN covered c USING (doc_id)
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
       coalesce(
         array_to_string(list_transform(kept, p -> toks[CAST(p AS INT)]), ' '),
         '') AS cleaned
FROM rebuilt
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# I-Match: mid-IDF term-signature dedup (Chowdhury et al. 2002)
# ---------------------------------------------------------------------------

def imatch_signatures(
    docs: DataFrame,
    *,
    min_df: int = 2,
    max_df_frac: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """I-Match document signatures (Chowdhury et al. 2002, "Collection
    Statistics for Fast Duplicate Document Detection"): a doc's signature
    is the md5 of its SORTED DISTINCT terms restricted to a mid-df band —
    terms too common (df > max_df_frac * corpus) carry no identity, terms
    too rare (df < min_df) are noise/typos. Docs that differ only in
    filtered terms collapse to one signature, catching near-dups that
    byte-exact hashing misses while staying a pure hash-agg (no pairs).

    100 TB shape: (1) one distinct (doc, term) projection; (2) a
    vocabulary-sized df hash-agg with map-side partial aggregation;
    (3) the band filter applied via a broadcast 1-row corpus-count frame;
    (4) a term-keyed semi-join back (shuffle bounded by vocabulary and
    corpus token count, never pairs); (5) per-doc sort_array+md5 hash-agg.
    No step is quadratic; no driver loop. Docs with ZERO retained terms
    drop out (classical I-Match skips them — an empty term set is not
    evidence of duplication).

    Reference parity: textgraphs dedups entity surface forms by exact
    lemma key (textgraphs/graph.py:92-118); I-Match generalizes the same
    "canonical key" idea to whole-document near-identity.
    """
    toks = F.expr(_TOKENS.format(c=text_col))
    terms = (
        docs.select(F.col(id_col), F.explode(toks).alias("term"))
        .distinct()
    )
    total = docs.agg(F.count("*").alias("_n_total"))
    df_tbl = terms.groupBy("term").agg(F.count("*").alias("df"))
    kept = (
        df_tbl.crossJoin(F.broadcast(total))
        .where(
            (F.col("df") >= F.lit(int(min_df)))
            & (F.col("df") <= F.floor(F.lit(float(max_df_frac)) * F.col("_n_total")))
        )
        .select("term")
    )
    return (
        terms.join(kept, "term")
        .groupBy(id_col)
        .agg(
            F.md5(F.concat_ws(" ", F.sort_array(F.collect_set("term")))).alias("signature"),
            F.countDistinct("term").alias("n_terms"),
        )
    )


def imatch_duplicates(
    docs: DataFrame,
    *,
    min_df: int = 2,
    max_df_frac: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """I-Match duplicate GROUPS (size > 1) with a deterministic keeper:
    (signature, n_docs, keep_id, doc_ids). Same no-pairs scale shape as
    ``exact_duplicates`` — the signature agg is the only corpus-scale
    shuffle."""
    sig = imatch_signatures(
        docs, min_df=min_df, max_df_frac=max_df_frac,
        text_col=text_col, id_col=id_col,
    )
    return (
        sig.groupBy("signature")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(id_col)),
                    lambda x: x.cast("string"),
                ),
                "|",
            ).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def imatch_oracle_sql(
    *,
    min_df: int = 2,
    max_df_frac: float = 0.5,
    groups: bool = True,
    src: str = "documents",
) -> str:
    """DuckDB twin of imatch_duplicates / imatch_signatures over ``src``
    (doc_id, text) — keep the tokenizer and band filter in lockstep with
    the Spark kernel."""
    base = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok AS term
  FROM {src}, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t(tok)
),
tot AS (SELECT count(*) AS n_total FROM {src}),
dfreq AS (SELECT term, count(*) AS df FROM tok GROUP BY term),
kept AS (
  SELECT term FROM dfreq, tot
  WHERE df >= {int(min_df)} AND df <= floor({float(max_df_frac)} * n_total)
),
sig AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list(term)), ' ')) AS signature,
         count(DISTINCT term) AS n_terms
  FROM tok JOIN kept USING (term)
  GROUP BY doc_id
)"""
    if not groups:
        return base + "\nSELECT doc_id, signature, CAST(n_terms AS BIGINT) AS n_terms FROM sig"
    return base + """
SELECT signature,
       count(*) AS n_docs,
       min(doc_id) AS keep_id,
       array_to_string(list_transform(list_sort(list(doc_id)), x -> CAST(x AS VARCHAR)), '|') AS doc_ids
FROM sig
GROUP BY signature
HAVING count(*) > 1
"""
