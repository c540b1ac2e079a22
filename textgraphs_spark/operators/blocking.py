"""Blocking: candidate-pair generation for record linkage.

Replaces the reference's candidate generators — the per-doc entity-pair
product gated by graph distance (reference: textgraphs/pipe.py:379-431) and
the per-mention KG lookup (kg.py:940-1065) — with corpus-scale blocking:

1. **Key blocking**: a normalized (last-token, first-initial) key over
   entity surface forms. Same key ⇒ candidate. This is the equi-join
   analog of the reference linking mentions with equal lemma keys into one
   node (graph.py:134-137).
2. **MinHash-LSH blocking**: character-shingle MinHash signatures banded
   into buckets; same (band, slice) ⇒ candidate. Catches typos that key
   blocking misses. Implemented with JVM-side expressions only
   (xxhash64 + higher-order array functions) — no Python in this path, no
   ML-Vector detour, and the signature computation is a narrow map.

Scale discipline (the part that must survive 1000 executors / 10^12 docs):
* pairs are generated over **distinct surface forms**, never mention
  occurrences — vocabulary-sized, not corpus-sized;
* every block is counted first; blocks above ``max_block_size`` are
  **salted** by hashing members into ``ceil(size/max_block_size)`` salt
  shards (hot-head-domain keys stay bounded; AQE skew-join is the backstop);
* the ER job never joins pairs: ``er_pipeline.match_edges`` shuffles the
  salted block rows on the salted key, sorts them within each partition,
  and scores every block's pairs in place, so co-location is exact.
  ``candidate_pairs`` (the self-join) stays as the reference pair
  definition the evaluation operators and the salting oracle use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# normalized name parts: strip punctuation, lowercase
_NORM = "lower(regexp_replace(surface, '[^A-Za-z ]', ''))"

# above this many oversized keys, salting joins by shuffle instead of
# broadcast (~1M keys x ~40 B ≈ 40 MB — comfortably under driver/executor
# memory; beyond it the broadcast itself becomes the skew risk)
_MAX_BROADCAST_KEYS = 1_000_000


def normalize_names(entities: DataFrame) -> DataFrame:
    """Add norm / first_tok / last_tok / first_init columns."""
    return (
        entities
        .withColumn("norm", F.expr(_NORM))
        .withColumn("toks", F.split(F.trim(F.col("norm")), " +"))
        .withColumn("first_tok", F.col("toks")[0])
        .withColumn("last_tok", F.element_at("toks", -1))
        .withColumn("first_init", F.substring("first_tok", 1, 1))
        .drop("toks")
    )


def block_keys(entities: DataFrame) -> DataFrame:
    """entities(entity_key, surface, ...) → (block_key, entity_key, ...)."""
    e = normalize_names(entities)
    return e.withColumn("block_key", F.concat_ws("|", "last_tok", "first_init"))


def minhash_xor_constants(num_hashes: int) -> list[int]:
    """Per-seed 59-bit XOR mixers for the md5 hash family, derived from
    md5 of a fixed tag — deterministic, no RNG state, identical constants
    regenerable by the DuckDB oracle builder."""
    import hashlib

    return [
        int.from_bytes(hashlib.md5(f"tgs-minhash-{s}".encode()).digest()[:8], "big")
        & ((1 << 59) - 1)
        for s in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 16,
    shingle: int = 3,
    carry_cols: tuple[str, ...] = (),
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, text) → (id, sig: array<long>[num_hashes]) MinHash signatures.

    The one codegen'd explode + hash + min-agg signature kernel;
    ``minhash_band_keys`` composes it with ``band_keys_from_signatures``,
    and the dedup path reuses one signature pass for both banding and
    signature-agreement estimation.

    ``hash_family``:
    * ``"xxhash64"`` — one seeded xxhash64 per (shingle, seed): the
      strongest independence across signature positions.
    * ``"md5"``      — ONE md5 per shingle (top 60 bits) XOR a per-seed
      constant: bit-for-bit reproducible in DuckDB (which has no seeded
      xxhash64), and cheaper per shingle than num_hashes seeded hashes.
      XOR mixing is weaker cross-seed independence than seeded hashing,
      which only loosens the LSH *candidate* stage — both dedup verify
      stages compute true Jaccard, so precision is unaffected (recall is
      pinned by tests/test_operators.py minhash recall assertions).
    """
    exploded = _exploded_shingles(
        df, [F.col(id_col), *[F.col(c) for c in carry_cols]], text_col, shingle
    )
    if hash_family == "md5":
        base = F.conv(F.substring(F.md5("_sh"), 1, 15), 16, 10).cast("long")
        exploded = exploded.withColumn("_hb", base)
        mins = [
            F.min(F.col("_hb").bitwiseXOR(F.lit(c))).alias(f"_h{s}")
            for s, c in enumerate(minhash_xor_constants(num_hashes))
        ]
    elif hash_family == "xxhash64":
        mins = [
            F.min(F.xxhash64(F.col("_sh"), F.lit(seed))).alias(f"_h{seed}")
            for seed in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    carries = [F.first(c).alias(c) for c in carry_cols]
    sig = exploded.groupBy(id_col).agg(*mins, *carries)
    return sig.select(
        F.col(id_col), *carry_cols,
        F.array(*[F.col(f"_h{s}") for s in range(num_hashes)]).alias("sig"),
    )


def _exploded_shingles(
    df: DataFrame, keep_cols: list, text_col: str, shingle: int
) -> DataFrame:
    """(.., text) → one row per character-shingle position.

    explode(sequence) + a plain substring projection: every expression is
    whole-stage-codegen'd. The higher-order ``transform(..., i -> ...)``
    formulation is interpreted per element and measured ~9x slower; and
    no ``array_distinct`` is needed because min() over the shingle
    multiset equals min() over the set.
    """
    positions = F.sequence(
        F.lit(1), F.greatest(F.length(text_col) - (shingle - 1), F.lit(1))
    )
    return df.select(
        *keep_cols, F.col(text_col).alias("_t_"), F.explode(positions).alias("_i_")
    ).select(
        *keep_cols, F.expr(f"substring(_t_, _i_, {shingle})").alias("_sh")
    )


def band_keys_from_signatures(
    sigs: DataFrame,
    id_col: str,
    *,
    num_hashes: int,
    bands: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sig) → (id, band_id, band_key): LSH banding over a signature.

    This is the ONLY band-key constructor — ``minhash_band_keys`` composes
    it with ``minhash_signatures`` — so the band layout (slice order,
    separator) that the dedup prefilter's rows-per-band assumption relies
    on lives in exactly one place.
    """
    if bands <= 0 or num_hashes % bands != 0:
        # bands > num_hashes would give rows=0 (every row collapses into
        # one universal '' bucket); a non-divisor silently drops trailing
        # signature positions — both are config errors, not degradations
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes})"
        )
    rows = num_hashes // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                "_", *[F.col("sig").getItem(b * rows + r).cast("string") for r in range(rows)]
            ).alias("band_key"),
        )
        for b in range(bands)
    ])
    return sigs.select(
        F.col(id_col), *[F.col(c) for c in carry_cols],
        F.explode(band_structs).alias("_b"),
    ).select(
        id_col, *carry_cols,
        F.col("_b.band_id").alias("band_id"),
        F.col("_b.band_key").alias("band_key"),
    )


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    carry_cols: tuple[str, ...] = (),
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, text) → (id, band_id, band_key) LSH bucket keys.

    Formulation chosen for codegen + scale: explode character shingles to
    rows, hash each with plain ``xxhash64(shingle, seed_i)`` calls (simple
    expressions — whole-stage-codegen'd, unlike higher-order-function
    lambdas which Spark evaluates interpreted and re-evaluates per column
    reference), then one hash aggregation of ``min`` per seed. The shuffle
    is a partial-agg'd groupBy on the id — at 10^9 docs this is the same
    shape as a word count.
    """
    sigs = minhash_signatures(
        df, id_col, text_col,
        num_hashes=num_hashes, shingle=shingle, carry_cols=carry_cols,
        hash_family=hash_family,
    )
    return band_keys_from_signatures(
        sigs, id_col, num_hashes=num_hashes, bands=bands, carry_cols=carry_cols
    )


def _salt_oversized(df: DataFrame, key_col: str, id_col: str, max_block_size: int) -> DataFrame:
    """Split blocks larger than ``max_block_size`` into salt shards.

    North-rule requirement: "salted repartitioning for skewed blocks".
    Pairs across shards of one oversized block are dropped by construction
    — the deliberate pair-budget cap; recall for hot keys is instead
    preserved by the exact-key channel (identical forms already share a
    lemma key upstream).

    EAGER + BATCH-ONLY: this materializes ``df`` (localCheckpoint) and
    runs the sizing count at plan-construction time — public operators
    built on it (``candidate_pairs``, ``dedup.ngram_jaccard_pairs``)
    therefore execute jobs when *called*, not when acted on, and cannot
    accept streaming DataFrames: block sizing is a global aggregate over
    the whole input, which a stream never has.
    """
    if df.isStreaming:
        raise TypeError(
            "salted blocking is batch-only: block sizing is a global "
            "aggregate over the whole input, so it needs a batch DataFrame"
        )
    # materialize the input ONCE: the sizing aggregation, the broadcast
    # guard's count, and the downstream self-join all read these
    # partitions instead of re-deriving the (expensive) blocking channels
    # per action — without this the guard count alone recomputes the
    # whole minhash/banding upstream
    df = df.localCheckpoint()
    # sizes via groupBy (partial aggregation absorbs the hot key — a
    # Window.partitionBy(key) would funnel the entire hot block through
    # ONE window task, the exact straggler salting exists to remove),
    # then broadcast only the oversized-key set back. Rows of ordinary
    # blocks never shuffle here at all; singletons pass through and
    # simply produce no pairs in the self-join.
    oversized = (
        df.groupBy(key_col).agg(F.count("*").alias("_block_n"))
        .filter(F.col("_block_n") > max_block_size)
        .withColumn(
            "_n_shards",
            F.ceil(F.col("_block_n") / F.lit(max_block_size)).cast("int"),
        )
        .select(key_col, "_n_shards")
    )
    # the oversized-key set is usually tiny (Zipf head), but on a
    # low-entropy corpus it is bounded only by |rows|/max_block_size —
    # force-broadcasting millions of keys would OOM the driver. Guard:
    # broadcast only below a row threshold; above it, fall back to a
    # shuffle join (AQE's skew-join splitting is the backstop there).
    # (cheap: a hash agg over the checkpointed partitions)
    n_oversized = oversized.count()
    if n_oversized:
        # the pair budget engaged: cross-shard pairs of these blocks are
        # dropped. Surface it — a silent recall change is worse than a
        # noisy one (callers that size max_block_size correctly for their
        # corpus never see this).
        import warnings

        warnings.warn(
            f"salted blocking engaged: {n_oversized} block(s) over "
            f"max_block_size={max_block_size} were sharded; pairs across "
            "shards of an oversized block are dropped (deliberate pair "
            "budget)",
            stacklevel=3,
        )
    if n_oversized <= _MAX_BROADCAST_KEYS:
        oversized = F.broadcast(oversized)
    return (
        df.join(oversized, key_col, "left")
        .withColumn(
            "salted_key",
            F.when(
                F.col("_n_shards").isNull(), F.col(key_col)
            ).otherwise(
                F.concat_ws("#", key_col, F.pmod(F.xxhash64(id_col), F.col("_n_shards")).cast("string"))
            ),
        )
        .drop("_n_shards")
    )


def candidate_pairs(
    blocked: DataFrame,
    *,
    key_col: str = "block_key",
    id_col: str = "entity_key",
    max_block_size: int = 200,
    carry_cols: tuple[str, ...] = ("surface",),
) -> DataFrame:
    """Self-join within (salted) blocks → distinct unordered pairs.

    Output: (block_key, left_id, right_id, left_<carry>, right_<carry>)
    with left_id < right_id.

    EAGER + BATCH-ONLY (via ``_salt_oversized``): calling this runs the
    block-sizing jobs immediately and checkpoints the block table.
    """
    # _salt_oversized checkpoints the block table internally; the salted
    # frame on top of it is a cheap map-side broadcast join, so the
    # self-join below re-reads materialized partitions on both sides
    salted = _salt_oversized(blocked, key_col, id_col, max_block_size)
    left_cols = [F.col(key_col), F.col("salted_key"), F.col(id_col).alias("left_id")] + [
        F.col(c).alias(f"left_{c}") for c in carry_cols
    ]
    right_cols = [F.col("salted_key"), F.col(id_col).alias("right_id")] + [
        F.col(c).alias(f"right_{c}") for c in carry_cols
    ]
    a = salted.select(*left_cols)
    b = salted.select(*right_cols)
    pairs = a.join(b, "salted_key").filter(F.col("left_id") < F.col("right_id")).drop("salted_key")
    # distinct: an entity pair may co-occur in several bands/blocks
    return pairs.dropDuplicates(["left_id", "right_id"])


def tokens_col(text_col: str) -> Column:
    """Lowercased Unicode-letter/digit runs of ``text_col`` (array<string>)."""
    return F.expr(
        f"filter(split(lower({text_col}), '[^\\\\p{{L}}0-9]+'), t -> t <> '')"
    )
