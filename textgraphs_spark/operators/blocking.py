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
* the pair join shuffles on the block key, so co-location is exact.
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


# Russell/Soundex consonant classes: b f p v → 1, c g j k q s x z → 2,
# d t → 3, l → 4, m n → 5, r → 6, vowels + h/w/y → 0 (dropped)
_PHON_SRC = "abcdefghijklmnopqrstuvwxyz"
_PHON_DST = "01230120022455012623010202"


def phonetic_expr(col: str, *, duck: bool = False) -> str:
    """Simplified Russell-style phonetic code of an already-normalized
    (lowercase alpha) token column, as ONE SQL expression valid in both
    Spark SQL and DuckDB (``duck=True`` adds the 'g' regexp flag DuckDB
    needs for replace-all; Spark replaces all by default): first letter
    + soundex consonant classes of the rest, adjacent same-class runs
    collapsed, vowel class dropped, truncated to 4. Deliberately NOT
    the full Soundex h/w boundary rule — the identical expression runs
    in both engines, so cross-engine parity is by construction, and the
    channel's recall is measured by its metrics row, never assumed.
    'johnson' and 'jonson' both key to j525; 'smith'/'smyth' to s53."""
    g = ", 'g'" if duck else ""
    codes = f"translate(substring({col}, 2), '{_PHON_SRC}', '{_PHON_DST}')"
    for d in "123456":
        codes = f"regexp_replace({codes}, '{d}{d}+', '{d}'{g})"
    codes = f"regexp_replace({codes}, '0', ''{g})"
    return f"substring(concat(substring({col}, 1, 1), {codes}), 1, 4)"


def block_keys(entities: DataFrame) -> DataFrame:
    """entities(entity_key, surface, ...) → (block_key, entity_key, ...)."""
    e = normalize_names(entities)
    return e.withColumn("block_key", F.concat_ws("|", "last_tok", "first_init"))


def skeleton_key(norm_col: str = "norm"):
    """Order-invariant devoweled blocking key over a normalized surface:
    each token's consonant skeleton, sorted, '|'-joined. Robust to the
    two variant families the last-token|first-initial key cannot block
    together — token reorder ('Herzog Werner' vs 'Werner Herzog') and
    vowel-adjacent transposition typos ('Wrener' → 'wrnr' = 'Werner').
    Pure codegen expression; no UDF. The DuckDB twin lives in
    plans/er_eval.er_channel_recall_sql (list_transform + list_sort)."""
    toks = F.split(F.trim(F.col(norm_col)), " +")
    skel = F.transform(toks, lambda t: F.regexp_replace(t, "[aeiou]", ""))
    return F.concat_ws("|", F.array_sort(skel))


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
    built on it (``candidate_pairs``, ``ngram_jaccard_pairs``) therefore
    execute jobs when *called*, not when acted on, and cannot accept
    streaming DataFrames (use the stateless band-join path in
    streaming/events.py for streams).
    """
    if df.isStreaming:
        raise TypeError(
            "salted blocking requires a batch DataFrame (block sizing is "
            "a global aggregate); for streams use the SimHash/band join "
            "operators in textgraphs_spark.streaming.events"
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


# ---------------------------------------------------------------------------
# TF-IDF token-cosine similarity join (AllPairs/PPJoin-style prefix filter)
# ---------------------------------------------------------------------------

def tokens_col(text_col: str) -> Column:
    """Lowercased Unicode-letter/digit runs of ``text_col`` (array<string>)."""
    return F.expr(
        f"filter(split(lower({text_col}), '[^\\\\p{{L}}0-9]+'), t -> t <> '')"
    )


def tfidf_unit_vectors(
    records: DataFrame,
    *,
    id_col: str = "entity_key",
    text_col: str = "surface",
) -> DataFrame:
    """Unit-normalized TF-IDF token vectors — (rid, token, df, u).

    Weighting: ``tf * ln(1 + N / df)`` (smooth idf — never zero, so a
    record of all-common tokens still has a defined direction), then
    L2-normalized per record. Records whose surface tokenizes to
    nothing are dropped (a zero vector has no cosine).

    Scale shape: tf is one (rid, token) hash agg; df one token-keyed
    agg joined back by SHUFFLE on token (the token vocabulary of a
    10^12-doc corpus is not broadcastable); norms one rid-keyed agg
    joined back on rid. Every stage is a partial-aggregated hash agg —
    no windows, no Python.
    """
    toks = records.select(
        F.col(id_col).alias("rid"),
        F.explode(tokens_col(text_col)).alias("token"),
    )
    tf = toks.groupBy("rid", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_total = records.select(F.count("*").alias("n_total"))
    w = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_total))
        .withColumn("w", F.col("tf") * F.log(F.lit(1.0) + F.col("n_total") / F.col("df")))
    )
    nrm = w.groupBy("rid").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nm"))
    return (
        w.join(nrm, "rid")
        .filter(F.col("nm") > 0)
        .select("rid", "token", "df", (F.col("w") / F.col("nm")).alias("u"))
    )


def tfidf_cosine_pairs(
    records: DataFrame,
    *,
    id_col: str = "entity_key",
    text_col: str = "surface",
    threshold: float = 0.5,
    prefix_filter: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """All record pairs with TF-IDF token cosine >= ``threshold`` —
    (left_id, right_id, cosine), EXACT, via AllPairs-style prefix
    filtering (Bayardo/Ma/Srikant WWW'07; Xiao et al. PPJoin).

    The candidate join indexes only each record's PREFIX tokens — its
    tokens ordered rarest-first (df asc, token asc), keeping position i
    only while the unit-vector tail from i has norm >= threshold. If
    two records share no prefix token of x, every shared token lies in
    x's tail T, so cos <= ||T|| < threshold — pruning is LOSSLESS
    (asserted against the unfiltered inverted-index join in tests).
    Rarest-first ordering makes the indexed posting lists the SHORT
    ones: the head token of the df distribution ("smith", "www") is
    exactly what the prefix bound evicts first, so the quadratic
    blow-up of the full inverted-index self-join never materializes.

    This is the third candidate channel next to key-blocking and
    MinHash-LSH: weighted-token evidence catches token REORDERINGS
    ('Smith John' vs 'John Smith' -> cosine 1.0) that positional name
    keys miss, and down-weights agreement on ubiquitous tokens that
    equi-joins over-trust.

    The verify stage re-joins candidates to FULL vectors (dot product
    over all shared tokens), so the threshold compare — on
    round(cos, 9), making the boundary identical across engines —
    never trusts the prune. Per-record prefix marking is one window
    partitioned by rid (records are tiny; rid is never hot).

    ``materialize=True`` (EAGER + BATCH-ONLY, like ``candidate_pairs``)
    localCheckpoints the unit-vector table: it feeds the prefix index
    AND both verify sides, so the lazy form re-derives the tf/df/norm
    agg chain three times — at 10^12 docs that is two redundant corpus
    scans. Streaming callers pass ``materialize=False``.

    Returns cosine rounded to 6 (hash-stable across summation orders).
    """
    from pyspark.sql import Window

    u = tfidf_unit_vectors(records, id_col=id_col, text_col=text_col)
    if materialize:
        u = u.localCheckpoint()
    if prefix_filter:
        wspec = (
            Window.partitionBy("rid")
            .orderBy(F.asc("df"), F.asc("token"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        head = F.coalesce(F.sum(F.col("u") * F.col("u")).over(wspec), F.lit(0.0))
        idx = u.withColumn("_head", head).filter(
            # tail norm^2 = 1 - head; keep while tail can still reach t
            # (1e-12 slack: err on indexing MORE, never less)
            F.lit(1.0) - F.col("_head") > threshold * threshold - 1e-12
        )
    else:
        idx = u
    cand = (
        idx.select("token", F.col("rid").alias("left_id"))
        .join(idx.select("token", F.col("rid").alias("right_id")), "token")
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    ua = u.select(F.col("rid").alias("left_id"), "token", F.col("u").alias("ul"))
    ub = u.select(F.col("rid").alias("right_id"), "token", F.col("u").alias("ur"))
    return (
        cand.join(ua, "left_id")
        .join(ub, ["right_id", "token"])
        .groupBy("left_id", "right_id")
        .agg(F.sum(F.col("ul") * F.col("ur")).alias("_cos"))
        .filter(F.round("_cos", 9) >= threshold)
        .select("left_id", "right_id", F.round("_cos", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# edit-distance similarity join (ED-Join: positional q-gram prefix filter
# + native Levenshtein verify)
# ---------------------------------------------------------------------------

def edit_distance_join(
    entities: DataFrame,
    *,
    k: int = 2,
    q: int = 2,
    id_col: str = "entity_key",
) -> DataFrame:
    """All unordered surface pairs within Levenshtein distance ``k`` of
    each other — WITHOUT the naive all-pairs join (Xiao et al., ED-Join,
    VLDB'08; reference kg.py scores candidate spans with edit-family
    similarity, this is the join that FINDS them at corpus scale).

    Plan (lossless by the q-gram prefix-filter theorem):

    1. positional q-grams per normalized surface; one tiny global
       gram-frequency table (<= (27)^q rows for name text — always
       broadcastable);
    2. PREFIX selection: each string keeps only its q*k + 1 rarest
       grams (df asc, gram, pos tiebreak) — one edit destroys at most
       q positional grams, so two strings within distance k MUST share
       a prefix gram with positions differing by <= k;
    3. inverted-index join on (gram) + position window + length window
       (|len_a - len_b| <= k), distinct pairs;
    4. SHORT channel: strings with <= q*k grams (the prefix theorem is
       vacuous there — a k-edit can destroy every gram) are paired
       exhaustively within the length window instead;
    5. exact verify: JVM-native levenshtein(a, b) <= k.

    Output: (left_id, right_id, lev). The oracle twin is the NAIVE
    quadratic join — a hash-green record proves the pruning loses
    nothing, mirroring the tfidf_cosine_pairs prefix-filter design.

    100 TB shape: runs on the DISTINCT-surface vocabulary, not the
    corpus; the prefix index carries q*k+1 rows per string with the
    rarest grams first, so hot postings (common name bigrams) are
    mostly pruned away; the short channel is a single bounded block
    (strings of <= q*k+q-1 chars) and is the documented skew cap.
    """
    npre = q * k + 1
    r = (
        normalize_names(entities)
        .select(F.col(id_col).alias("_id"), F.trim("norm").alias("s"))
        .withColumn("ln", F.length("s"))
    )
    grams = r.select(
        "_id", "ln", "s",
        F.explode(F.expr(
            f"transform(sequence(1, greatest(length(s) - {q - 1}, 1)),"
            f" i -> struct(substring(s, i, {q}) AS g, i AS pos))"
        )).alias("gp"),
    ).select("_id", "ln", "s", F.col("gp.g").alias("g"), F.col("gp.pos").alias("pos"))
    df_tab = grams.groupBy("g").agg(F.countDistinct("_id").alias("df"))
    pre = (
        grams.join(F.broadcast(df_tab), "g")
        .groupBy("_id", "ln", "s")
        .agg(F.collect_list(F.struct("df", "g", "pos")).alias("gs"))
        .select(
            "_id", "ln", "s",
            F.slice(F.array_sort("gs"), 1, npre).alias("pre"),
            F.size("gs").alias("ng"),
        )
    )
    long_side = pre.filter(F.col("ng") > q * k).select(
        "_id", "ln", "s", F.explode("pre").alias("p")
    ).select("_id", "ln", "s", F.col("p.g").alias("g"), F.col("p.pos").alias("pos"))
    cand_long = (
        long_side.alias("a")
        .join(
            long_side.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a._id") < F.col("b._id"))
            & (F.abs(F.col("a.pos") - F.col("b.pos")) <= k)
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= k),
        )
        .select(
            F.col("a._id").alias("left_id"), F.col("b._id").alias("right_id"),
            F.col("a.s").alias("sa"), F.col("b.s").alias("sb"),
        )
    )
    # short channel as an EQUI-join: explode each short string to its
    # k-window of target lengths so the length filter becomes a hash
    # join key (a non-equi |ln_a - ln_b| <= k predicate would plan as a
    # nested-loop join — wrong shape once the corpus side is large)
    short = (
        pre.filter(F.col("ng") <= q * k)
        .select(
            "_id", "ln", "s",
            F.explode(
                F.sequence(
                    F.greatest(F.col("ln") - k, F.lit(0)), F.col("ln") + k
                )
            ).alias("_tl"),
        )
    )
    cand_short = (
        short.alias("a")
        .join(
            r.alias("b"),
            (F.col("a._tl") == F.col("b.ln"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .select(
            F.least(F.col("a._id"), F.col("b._id")).alias("left_id"),
            F.greatest(F.col("a._id"), F.col("b._id")).alias("right_id"),
            F.when(F.col("a._id") < F.col("b._id"), F.col("a.s"))
            .otherwise(F.col("b.s")).alias("sa"),
            F.when(F.col("a._id") < F.col("b._id"), F.col("b.s"))
            .otherwise(F.col("a.s")).alias("sb"),
        )
    )
    return (
        cand_long.unionByName(cand_short)
        .distinct()
        .withColumn("lev", F.levenshtein("sa", "sb").cast("long"))
        .filter(F.col("lev") <= k)
        .select("left_id", "right_id", "lev")
        .orderBy("left_id", "right_id")
    )


# ---------------------------------------------------------------------------
# token-set Jaccard similarity join (PPJoin-style prefix filter
# + exact set verify)
# ---------------------------------------------------------------------------

def jaccard_set_join(
    entities: DataFrame,
    *,
    threshold: float = 0.5,
    id_col: str = "entity_key",
) -> DataFrame:
    """All unordered surface pairs with token-set Jaccard >=
    ``threshold`` — WITHOUT the naive all-pairs join (prefix filtering,
    Chaudhuri et al. ICDE'06 / Xiao et al. PPJoin WWW'08; completes the
    lossless-similarity-join family next to ``tfidf_cosine_pairs``
    (cosine) and ``edit_distance_join`` (edit distance)).

    Plan (lossless by the prefix-filter theorem):

    1. distinct normalized tokens per surface; one global token-df
       table (vocabulary-sized, broadcastable);
    2. canonical token order = (df asc, token asc) — rarest first, so
       hot postings (common name tokens) are pruned out of prefixes;
    3. PREFIX selection: a set of n tokens keeps its first
       n - ceil(t*n) + 1; J(A,B) >= t with the length filter implies
       |A∩B| >= ceil(t*max(|A|,|B|)), so the two prefixes MUST share a
       token (pigeonhole under one global order);
    4. inverted-index join on prefix token + length filter
       (min(na, nb) >= t * max(na, nb)), distinct pairs;
    5. exact verify: |A∩B| / (na + nb - |A∩B|) >= t on the full sets.

    Output: (left_id, right_id, jaccard rounded to 6). The oracle twin
    is the NAIVE quadratic join — a hash-green record proves the
    pruning loses nothing on the labeled corpus.

    100 TB shape: runs on the DISTINCT-surface vocabulary; candidate
    volume is bounded by prefix-posting products on the RAREST tokens,
    and the length filter caps each posting's fan-out. No all-pairs
    anywhere.
    """
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    r = (
        normalize_names(entities)
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(
                F.filter(F.split(F.trim(F.col("norm")), " +"), lambda x: x != "")
            ).alias("ts"),
        )
        .withColumn("n", F.size("ts"))
        .filter(F.col("n") > 0)
    )
    toks = r.select("_id", F.explode("ts").alias("tok"))
    df_tab = toks.groupBy("tok").agg(F.count("*").alias("df"))
    ordered = (
        toks.join(F.broadcast(df_tab), "tok")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("os"))
        .select("_id", F.expr("transform(os, s -> s.tok)").alias("os"))
    )
    pre = (
        r.join(ordered, "_id")
        .select(
            "_id", "ts", "n",
            F.slice(
                "os", 1,
                (F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1).cast("int"),
            ).alias("pre"),
        )
    )
    side = pre.select("_id", "ts", "n", F.explode("pre").alias("tok"))
    return (
        side.alias("a")
        .join(
            side.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a._id") < F.col("b._id"))
            & (F.least("a.n", "b.n")
               >= F.lit(t) * F.greatest("a.n", "b.n")),
        )
        .select(
            F.col("a._id").alias("left_id"), F.col("b._id").alias("right_id"),
            F.col("a.ts").alias("lts"), F.col("b.ts").alias("rts"),
            F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
        )
        .distinct()
        .withColumn("_i", F.size(F.array_intersect("lts", "rts")))
        .withColumn(
            "jaccard",
            F.round(F.col("_i") / (F.col("na") + F.col("nb") - F.col("_i")), 6),
        )
        .filter(
            F.round(F.col("_i") / (F.col("na") + F.col("nb") - F.col("_i")), 9)
            >= t
        )
        .select("left_id", "right_id", "jaccard")
        .orderBy("left_id", "right_id")
    )
