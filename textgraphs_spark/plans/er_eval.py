"""ER evaluation operators: the measurement half of the record-linkage
job.

The north rule's acceptance metric — "pairwise F1 >= 0.99 vs reference
entity clusters on labeled pairs at shared blocking keys" — lived only in
a pytest until now. This module makes evaluation a first-class distributed
surface (reference parity: textgraphs has no eval operators; these cover
the BASELINE.json metric itself and the diagnostics behind its knobs):

* ``blocked_pair_metrics`` — blocking quality (pair completeness,
  reduction ratio) + pairwise precision/recall/F1 on labeled pairs that
  share a blocking key. The labeled pairs ARE the candidate set the
  pipeline scores, so the metric measures exactly what production sees.
* ``clustering_metrics`` — global pairwise P/R/F1 from the cluster x
  truth CONTINGENCY table: TP = sum C(n_ij, 2) over cells, predicted
  pairs = sum C(cluster size, 2), true pairs = sum C(truth size, 2).
  No pair is ever materialized — three vocabulary-sized aggregates —
  so the evaluation itself scales to 10^12-entity runs where even the
  within-cluster pair set is too large to enumerate.
* ``bcubed_metrics`` — per-record B-cubed P/R/F1 from the same
  contingency cells.
* ``score_threshold_sweep`` / ``score_calibration`` — the scorer's
  tuning curve and reliability bins in one scoring pass each.
* ``blocking_stats`` / ``blocking_budget_curve`` /
  ``cluster_size_histogram`` — block-size, salting-cap and cluster-size
  diagnostics.

Every operator has a DuckDB oracle; the labeled-evaluation queries run
over ``eval_entities`` — an RNG-free name-variant table (full form,
initialed form, typo/reversed form per truth entity, plus typo-doppelganger
"twin" entities that FORCE false positives) regenerated bit-identically
by ``eval_entities_cte``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# RNG-free labeled entity corpus
# ---------------------------------------------------------------------------

def _eval_name_lists(n_base: int, n_twin: int) -> tuple[list, list, list]:
    """Per-truth surface lists (full, initialed, variant), all derived
    from the arithmetic name vocabularies by pure indexing — the single
    source of truth shared by the Spark generator and the SQL twin.

    Truth entity t < n_base: first = FIRST_NAMES[t % 26],
    last = LAST_NAMES[(t // 26) % 29]. Truth t >= n_base is the TWIN of
    base entity b = t - n_base: same last name, typo-transposed first
    name — a distinct real-world person whose name is one transposition
    away (and whose initialed form is byte-identical to the base's),
    guaranteeing deterministic false-positive pressure on the scorer.

    Variant forms per truth: v0 full "First Last"; v1 initialed
    "F Last"; v2 reversed "Last First" when t % 4 == 0 (a hard negative
    the blocker usually cannot recover — deterministic false negatives)
    else typo-transposed first "Frist Last".
    """
    from ..sources.pages import FIRST_NAMES, LAST_NAMES, typo_surface

    first, last = [], []
    for t in range(n_base + n_twin):
        b = t if t < n_base else t - n_base
        f = FIRST_NAMES[b % len(FIRST_NAMES)]
        if t >= n_base:
            f = typo_surface(f)
        first.append(f)
        last.append(LAST_NAMES[(b // len(FIRST_NAMES)) % len(LAST_NAMES)])
    full = [f + " " + l for f, l in zip(first, last)]
    initial = [f[:1] + " " + l for f, l in zip(first, last)]
    varform = [
        (l + " " + f) if t % 4 == 0 else (typo_surface(f) + " " + l)
        for t, (f, l) in enumerate(zip(first, last))
    ]
    return full, initial, varform


def eval_entities(spark: SparkSession, *, n_base: int = 150, n_twin: int = 30) -> DataFrame:
    """Labeled entity table (entity_key, surface, label, mention_count,
    doc_freq, truth_id) — 3 variant rows per truth entity, RNG-free.
    ``eval_entities_cte`` regenerates it bit-identically in DuckDB."""
    full, initial, varform = _eval_name_lists(n_base, n_twin)
    n_true = n_base + n_twin

    def pick(lst, expr):
        return F.element_at(F.array(*[F.lit(x) for x in lst]), (expr + 1).cast("int"))

    i = F.col("id")
    t = i % n_true
    v = F.expr(f"id DIV {n_true}")
    surface = (
        F.when(v == 0, pick(full, t))
        .when(v == 1, pick(initial, t))
        .otherwise(pick(varform, t))
    )
    return spark.range(0, 3 * n_true).select(
        F.format_string("e%05d", i).alias("entity_key"),
        surface.alias("surface"),
        F.lit("").alias("label"),
        (i % 7 + 1).cast("long").alias("mention_count"),
        (i % 3 + 1).cast("long").alias("doc_freq"),
        t.cast("long").alias("truth_id"),
    )


def eval_entities_cte(*, n_base: int = 150, n_twin: int = 30) -> str:
    """DuckDB CTE ``entities`` regenerating ``eval_entities`` — the
    variant surface lists are computed ONCE in Python (same helper as
    the Spark generator) and inlined, so the two engines cannot drift."""
    from .pages_oracle import _sql_list

    full, initial, varform = _eval_name_lists(n_base, n_twin)
    n_true = n_base + n_twin

    def pick(lst):
        return f"{_sql_list(lst)}[CAST(r.i % {n_true} + 1 AS INT)]"

    return f"""entities AS MATERIALIZED (
  SELECT printf('e%05d', r.i) AS entity_key,
         CASE CAST(r.i // {n_true} AS INT)
           WHEN 0 THEN {pick(full)}
           WHEN 1 THEN {pick(initial)}
           ELSE {pick(varform)} END AS surface,
         CAST(r.i % 7 + 1 AS BIGINT) AS mention_count,
         CAST(r.i % 3 + 1 AS BIGINT) AS doc_freq,
         CAST(r.i % {n_true} AS BIGINT) AS truth_id
  FROM range(0, {3 * n_true}) r(i)
)"""


# ---------------------------------------------------------------------------
# metric operators
# ---------------------------------------------------------------------------

def blocked_pair_metrics(
    entities: DataFrame,
    *,
    truth_col: str = "truth_id",
    max_block_size: int = 200,
    threshold: float | None = None,
) -> DataFrame:
    """Blocking quality + pairwise P/R/F1 on labeled pairs sharing a
    blocking key — the BASELINE.json metric as ONE distributed query.

    Input: (entity_key, surface, {truth_col}). The candidate set comes
    from the pipeline's own ``blocking_pairs`` (name-key + MinHash
    channels, salted), so the measured numbers describe the production
    blocking, not a reimplementation. Output is a single row:

      n_entities, n_candidates, n_true_pairs, covered_true_pairs,
      tp_pairs / fp_pairs / fn_pairs  (predicted = score >= threshold),
      pair_completeness  = covered_true_pairs / n_true_pairs,
      reduction_ratio    = 1 - n_candidates / C(n_entities, 2),
      pair_precision / pair_recall / pair_f1.

    fn_pairs counts ALL missed true pairs (including those blocking
    never proposed) — recall is end-to-end, not scorer-conditional.

    100 TB shape: candidate generation is the pipeline's own bounded
    blocking; everything after is two aggregations (one over candidates,
    one vocabulary-sized over truth groups) cross-joined at one row each.
    """
    from ..operators import scoring as S
    from .er_pipeline import blocking_pairs

    thr = S.MIN_SIMILARITY if threshold is None else threshold
    pairs = blocking_pairs(
        entities.select("entity_key", "surface"), max_block_size=max_block_size
    )
    scored = S.score_pairs(pairs, threshold=thr)
    truth = entities.select("entity_key", truth_col)
    lab = (
        scored.select("left_id", "right_id", "match")
        .join(
            truth.select(
                F.col("entity_key").alias("left_id"), F.col(truth_col).alias("lt")
            ),
            "left_id",
        )
        .join(
            truth.select(
                F.col("entity_key").alias("right_id"), F.col(truth_col).alias("rt")
            ),
            "right_id",
        )
    )
    same = F.col("lt") == F.col("rt")
    cand = lab.agg(
        F.count("*").alias("n_candidates"),
        F.sum(same.cast("long")).alias("covered_true_pairs"),
        F.sum((same & F.col("match")).cast("long")).alias("tp_pairs"),
        F.sum((~same & F.col("match")).cast("long")).alias("fp_pairs"),
    )
    tot = (
        entities.groupBy(truth_col)
        .agg(F.count("*").alias("n"))
        .agg(
            F.sum("n").alias("n_entities"),
            F.sum(F.expr("n * (n - 1) DIV 2")).alias("n_true_pairs"),
        )
    )
    row = cand.crossJoin(tot)
    tp, fp = F.col("tp_pairs"), F.col("fp_pairs")
    fn = F.col("n_true_pairs") - tp
    n = F.col("n_entities")
    return row.select(
        "n_entities",
        "n_candidates",
        "n_true_pairs",
        "covered_true_pairs",
        "tp_pairs",
        "fp_pairs",
        fn.alias("fn_pairs"),
        F.round(F.col("covered_true_pairs") / F.col("n_true_pairs"), 6).alias(
            "pair_completeness"
        ),
        F.round(F.lit(1.0) - F.col("n_candidates") / (n * (n - 1) / F.lit(2.0)), 6).alias(
            "reduction_ratio"
        ),
        F.round(tp / (tp + fp), 6).alias("pair_precision"),
        F.round(tp / F.col("n_true_pairs"), 6).alias("pair_recall"),
        F.round(F.lit(2.0) * tp / (F.lit(2.0) * tp + fp + fn), 6).alias("pair_f1"),
    )


def clustering_metrics(assignments: DataFrame, truth: DataFrame) -> DataFrame:
    """Global pairwise P/R/F1 of a clustering vs ground truth WITHOUT
    materializing any pair: from the (cluster_id, truth_id) contingency
    table, TP = sum C(n_ij, 2); predicted pairs = sum C(cluster size, 2);
    true pairs = sum C(truth size, 2); FP/FN/P/R/F1 follow arithmetically
    (F1 = 2*TP / (predicted + true)).

    Input: assignments(entity_key, cluster_id), truth(entity_key,
    truth_id). Output: one row (n_items, n_clusters, n_truths, tp_pairs,
    fp_pairs, fn_pairs, pair_precision, pair_recall, pair_f1).

    100 TB shape: one equi-join on entity_key, one contingency hash agg
    (at most min(clusters, truths)-sized), two roll-ups of it — the
    evaluation never touches pair space, so it costs less than a single
    corpus scan even at 10^12 entities.
    """
    j = assignments.select("entity_key", "cluster_id").join(truth, "entity_key")
    cells = j.groupBy("cluster_id", "truth_id").agg(F.count("*").alias("n"))
    c2 = "DIV 2"
    head = cells.agg(
        F.sum("n").alias("n_items"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.countDistinct("truth_id").alias("n_truths"),
        F.sum(F.expr(f"n * (n - 1) {c2}")).alias("tp_pairs"),
    )
    pred = (
        cells.groupBy("cluster_id")
        .agg(F.sum("n").alias("s"))
        .agg(F.sum(F.expr(f"s * (s - 1) {c2}")).alias("pred_pairs"))
    )
    true = (
        cells.groupBy("truth_id")
        .agg(F.sum("n").alias("s"))
        .agg(F.sum(F.expr(f"s * (s - 1) {c2}")).alias("true_pairs"))
    )
    row = head.crossJoin(pred).crossJoin(true)
    tp = F.col("tp_pairs")
    return row.select(
        "n_items",
        "n_clusters",
        "n_truths",
        "tp_pairs",
        (F.col("pred_pairs") - tp).alias("fp_pairs"),
        (F.col("true_pairs") - tp).alias("fn_pairs"),
        F.round(tp / F.col("pred_pairs"), 6).alias("pair_precision"),
        F.round(tp / F.col("true_pairs"), 6).alias("pair_recall"),
        F.round(F.lit(2.0) * tp / (F.col("pred_pairs") + F.col("true_pairs")), 6).alias(
            "pair_f1"
        ),
    )


def score_threshold_sweep(
    entities: DataFrame,
    *,
    truth_col: str = "truth_id",
    max_block_size: int = 200,
    thresholds: tuple[float, ...] = (
        0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95, 1.0
    ),
) -> DataFrame:
    """Pairwise precision/recall/F1 at EVERY candidate match threshold in
    one pass over the scored candidate pairs — the tuning curve behind
    the pipeline's ``min_similarity`` operating point.

    Each labeled candidate pair is scored once, assigned the COUNT of
    thresholds its score passes (a single bucket id), and aggregated to
    |thresholds|+1 partial rows; per-threshold TP/FP then come from a
    cumulative roll-up of that tiny table. Sweeping k thresholds
    therefore costs ONE blocking + ONE scoring pass + one hash agg —
    never k passes, and never a |pairs| x k explode.

    fn_pairs counts ALL missed true pairs (blocking misses included), so
    recall is end-to-end — at threshold = pipeline default the row
    reproduces ``blocked_pair_metrics`` exactly (asserted in tests).
    pair_precision is NULL where nothing is predicted (tp + fp = 0).

    Output, one row per threshold ordered ascending: (threshold,
    tp_pairs, fp_pairs, fn_pairs, pair_precision, pair_recall, pair_f1).
    """
    from ..operators import scoring as S
    from .er_pipeline import blocking_pairs

    ths = sorted({float(t) for t in thresholds})
    spark = entities.sparkSession
    pairs = blocking_pairs(
        entities.select("entity_key", "surface"), max_block_size=max_block_size
    )
    scored = S.score_pairs(pairs)
    truth = entities.select("entity_key", truth_col)
    lab = (
        scored.select("left_id", "right_id", "score")
        .join(
            truth.select(
                F.col("entity_key").alias("left_id"), F.col(truth_col).alias("lt")
            ),
            "left_id",
        )
        .join(
            truth.select(
                F.col("entity_key").alias("right_id"), F.col(truth_col).alias("rt")
            ),
            "right_id",
        )
    )
    same = F.col("lt") == F.col("rt")
    arr = F.array(*[F.lit(t) for t in ths])
    # bucket b = how many thresholds this score passes; the pair counts
    # toward thresholds[0..b-1] — one codegen'd expression, no explode
    bucket = F.size(F.filter(arr, lambda t: t <= F.col("score")))
    agg = lab.groupBy(bucket.alias("b")).agg(
        F.sum(same.cast("long")).alias("tp"),
        F.sum((~same).cast("long")).alias("fp"),
    )
    thr = spark.range(0, len(ths)).select(
        F.col("id").alias("i"), F.element_at(arr, (F.col("id") + 1).cast("int")).alias("threshold")
    )
    # cumulate the |thresholds|+1-row partial table: threshold i is
    # passed by every bucket b >= i+1 (tiny theta join — both sides are
    # bounded by the threshold count, not the data)
    cum = (
        thr.join(agg, F.col("b") >= F.col("i") + 1, "left")
        .groupBy("i", "threshold")
        .agg(
            F.coalesce(F.sum("tp"), F.lit(0)).alias("tp_pairs"),
            F.coalesce(F.sum("fp"), F.lit(0)).alias("fp_pairs"),
        )
    )
    tot = (
        entities.groupBy(truth_col)
        .agg(F.count("*").alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) DIV 2")).alias("n_true_pairs"))
    )
    tp, fp = F.col("tp_pairs"), F.col("fp_pairs")
    fn = F.col("n_true_pairs") - tp
    return (
        cum.crossJoin(tot)
        .select(
            "threshold",
            "tp_pairs",
            "fp_pairs",
            fn.alias("fn_pairs"),
            F.round(
                F.when(tp + fp > 0, tp / (tp + fp)), 6
            ).alias("pair_precision"),
            F.round(tp / F.col("n_true_pairs"), 6).alias("pair_recall"),
            F.round(F.lit(2.0) * tp / (F.lit(2.0) * tp + fp + fn), 6).alias("pair_f1"),
        )
        .orderBy("threshold")
    )


def score_calibration(
    entities: DataFrame,
    *,
    truth_col: str = "truth_id",
    max_block_size: int = 200,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability curve of the pairwise scorer: fixed-width score bins
    over the labeled candidate pairs — (bin_lo, bin_hi, n_pairs,
    n_true, precision). Where the threshold sweep answers "what do I
    get AT a cutoff", calibration answers "is a 0.9 score actually a
    90% match" — the evidence behind trusting scores as probabilities.

    One blocking + one scoring pass + ONE hash aggregate over
    |pairs| rows into <= n_bins groups (map-side partials); the bin id
    is a codegen'd floor, score 1.0 folded into the top bin. The JW
    score kernel is bit-equal across engines, so bin edges cannot
    disagree.
    """
    from ..operators import scoring as S
    from .er_pipeline import blocking_pairs

    pairs = blocking_pairs(
        entities.select("entity_key", "surface"), max_block_size=max_block_size
    )
    scored = S.score_pairs(pairs)
    truth = entities.select("entity_key", truth_col)
    lab = (
        scored.select("left_id", "right_id", "score")
        .join(
            truth.select(
                F.col("entity_key").alias("left_id"), F.col(truth_col).alias("lt")
            ),
            "left_id",
        )
        .join(
            truth.select(
                F.col("entity_key").alias("right_id"), F.col(truth_col).alias("rt")
            ),
            "right_id",
        )
    )
    same = F.col("lt") == F.col("rt")
    b = F.least(
        F.floor(F.col("score") * n_bins).cast("long"), F.lit(n_bins - 1)
    )
    n_pairs, n_true = F.col("n_pairs"), F.col("n_true")
    return (
        lab.groupBy(b.alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(same.cast("long")).cast("long").alias("n_true"),
        )
        .select(
            F.round(F.col("bin") * 1.0 / n_bins, 6).alias("bin_lo"),
            F.round((F.col("bin") + 1) * 1.0 / n_bins, 6).alias("bin_hi"),
            "n_pairs",
            "n_true",
            F.round(n_true / n_pairs, 6).alias("precision"),
        )
        .orderBy("bin_lo")
    )


def er_score_calibration_sql(
    *, n_base: int = 150, n_twin: int = 30, n_bins: int = 10
) -> str:
    """Oracle for score_calibration: shared blocking + pair-score CTEs,
    the same fold-into-top-bin floor, one GROUP BY."""
    from .er_oracle import blocking_ctes, pair_scores_ctes

    return f"""WITH
{eval_entities_cte(n_base=n_base, n_twin=n_twin)},
{blocking_ctes('entities')},
{pair_scores_ctes('entities')},
lab AS (
  SELECT p.score, lt.truth_id = rt.truth_id AS same
  FROM pair_scores p
  JOIN entities lt ON lt.entity_key = p.left_id
  JOIN entities rt ON rt.entity_key = p.right_id
),
bins AS (
  SELECT least(CAST(floor(score * {n_bins}) AS BIGINT), {n_bins - 1}) AS bin,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(coalesce(sum(CASE WHEN same THEN 1 END), 0) AS BIGINT) AS n_true
  FROM lab GROUP BY 1
)
SELECT round(bin * 1.0 / {n_bins}, 6) AS bin_lo,
       round((bin + 1) * 1.0 / {n_bins}, 6) AS bin_hi,
       n_pairs, n_true,
       round(n_true * 1.0 / n_pairs, 6) AS precision
FROM bins
ORDER BY bin_lo
"""


def blocking_stats(
    entities: DataFrame,
    *,
    max_block_size: int = 200,
) -> DataFrame:
    """Per-channel blocking diagnostics: the numbers an operator tunes
    ``max_block_size`` (and judges channel health) with, computed from
    the EXACT pre-salting block table the pipeline self-joins
    (er_pipeline.blocked_keys).

    Output, one row per channel ('name', 'minhash'):
      n_blocks            distinct blocking keys,
      n_rows              key memberships (minhash: one per band),
      n_entities          distinct entities reaching the channel,
      max_members         largest block,
      singleton_blocks    keys generating no pairs,
      oversized_blocks    keys with members > max_block_size — exactly
                          the blocks ``_salt_oversized`` shards,
      naive_pairs         sum C(members, 2): the pair budget BEFORE
                          salting caps and cross-channel dedup.

    100 TB shape: one hash agg per (channel, key) — partial aggregation
    absorbs hot keys map-side — then a 2-row roll-up; nothing here
    touches pair space, so diagnostics cost a fraction of blocking
    itself. A skew-audit run can execute JUST this before committing to
    the pair join.
    """
    from .er_pipeline import blocked_keys

    # materialize the block table once: both roll-ups below read these
    # partitions instead of re-deriving the minhash channel (the
    # signature build is the expensive part) — same discipline as
    # _salt_oversized
    bk = blocked_keys(
        entities.select("entity_key", "surface")
    ).select("channel", "bkey", "entity_key").localCheckpoint()
    per_key = bk.groupBy("channel", "bkey").agg(F.count("*").alias("m"))
    m = F.col("m")
    stats = per_key.groupBy("channel").agg(
        F.count("*").alias("n_blocks"),
        F.sum("m").alias("n_rows"),
        F.max("m").alias("max_members"),
        F.sum((m == 1).cast("long")).alias("singleton_blocks"),
        F.sum((m > max_block_size).cast("long")).alias("oversized_blocks"),
        F.sum(F.expr("m * (m - 1) DIV 2")).alias("naive_pairs"),
    )
    ents_per_chan = bk.groupBy("channel").agg(
        F.countDistinct("entity_key").alias("n_entities")
    )
    return (
        stats.join(ents_per_chan, "channel")
        .select(
            "channel", "n_blocks", "n_rows", "n_entities", "max_members",
            "singleton_blocks", "oversized_blocks", "naive_pairs",
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# cluster-size distribution
# ---------------------------------------------------------------------------

def cluster_size_histogram(assignments: DataFrame) -> DataFrame:
    """Cluster-size distribution of a clustering: (n_members,
    n_clusters, n_entities, share) — the first thing an ER operator
    reads after a run (a fat head of singletons is under-blocking; a
    giant component is an over-merge/hot-key symptom; the reference's
    transitive closure makes both failure modes size-visible).

    Two hash aggregates (cluster sizes, then the histogram of sizes) —
    both with map-side partials, output bounded by the largest cluster
    size; the total rides as a broadcast 1-row cross join. Exact
    integers until the single rounded share division.
    """
    sizes = assignments.groupBy("cluster_id").agg(
        F.count("*").alias("n_members")
    )
    hist = sizes.groupBy("n_members").agg(
        F.count("*").cast("long").alias("n_clusters")
    )
    tot = hist.agg(
        F.sum(F.col("n_members") * F.col("n_clusters")).alias("t")
    )
    n_ent = (F.col("n_members") * F.col("n_clusters")).cast("long")
    return (
        hist.join(F.broadcast(tot), how="cross")
        .select(
            F.col("n_members").cast("long").alias("n_members"),
            "n_clusters",
            n_ent.alias("n_entities"),
            F.round(n_ent / F.col("t"), 6).alias("share"),
        )
        .orderBy("n_members")
    )


def er_cluster_sizes_sql(*, n_base: int = 150, n_twin: int = 30,
                         min_similarity: float = 0.9) -> str:
    """Oracle for cluster_size_histogram over the eval-corpus
    clustering (same shared chain as the B-cubed oracle)."""
    return f"""WITH RECURSIVE
{_eval_clustering_preamble(n_base, n_twin, min_similarity)},
sizes AS (
  SELECT cluster_id, count(*) AS n_members FROM assignments GROUP BY cluster_id
),
hist AS (
  SELECT CAST(n_members AS BIGINT) AS n_members,
         CAST(count(*) AS BIGINT) AS n_clusters
  FROM sizes GROUP BY n_members
),
tot AS (SELECT CAST(sum(n_members * n_clusters) AS BIGINT) AS t FROM hist)
SELECT n_members, n_clusters,
       CAST(n_members * n_clusters AS BIGINT) AS n_entities,
       round(n_members * n_clusters * 1.0 / t, 6) AS share
FROM hist, tot
ORDER BY n_members
"""


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def er_eval_blocked_sql(*, n_base: int = 150, n_twin: int = 30,
                        min_similarity: float = 0.9) -> str:
    """Oracle for blocked_pair_metrics over eval_entities: regenerated
    corpus → the shared blocking + pair-score CTEs → the same two
    aggregations."""
    from .er_oracle import blocking_ctes, pair_scores_ctes

    return f"""WITH
{eval_entities_cte(n_base=n_base, n_twin=n_twin)},
{blocking_ctes('entities')},
{pair_scores_ctes('entities')},
lab AS (
  SELECT p.score >= {min_similarity} AS match,
         lt.truth_id AS lt, rt.truth_id AS rt
  FROM pair_scores p
  JOIN entities lt ON lt.entity_key = p.left_id
  JOIN entities rt ON rt.entity_key = p.right_id
),
cand AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(sum(CASE WHEN lt = rt THEN 1 ELSE 0 END) AS BIGINT) AS covered_true_pairs,
         CAST(sum(CASE WHEN lt = rt AND match THEN 1 ELSE 0 END) AS BIGINT) AS tp_pairs,
         CAST(sum(CASE WHEN lt <> rt AND match THEN 1 ELSE 0 END) AS BIGINT) AS fp_pairs
  FROM lab
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_entities,
         CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_true_pairs
  FROM (SELECT count(*) AS n FROM entities GROUP BY truth_id)
)
SELECT n_entities, n_candidates, n_true_pairs, covered_true_pairs,
       tp_pairs, fp_pairs,
       n_true_pairs - tp_pairs AS fn_pairs,
       round(covered_true_pairs / n_true_pairs, 6) AS pair_completeness,
       round(1.0 - n_candidates / (n_entities * (n_entities - 1) / 2.0), 6) AS reduction_ratio,
       round(tp_pairs / (tp_pairs + fp_pairs), 6) AS pair_precision,
       round(tp_pairs / n_true_pairs, 6) AS pair_recall,
       round(2.0 * tp_pairs / (2.0 * tp_pairs + fp_pairs + (n_true_pairs - tp_pairs)), 6) AS pair_f1
FROM cand, tot
"""


def er_eval_clusters_sql(*, n_base: int = 150, n_twin: int = 30,
                         min_similarity: float = 0.9) -> str:
    """Oracle for the full clustering evaluation over eval_entities:
    regenerated corpus → the shared clustering CTEs (blocking → scoring
    → recursive closure) → contingency metrics."""
    from .er_oracle import clustering_ctes

    return f"""WITH RECURSIVE
{eval_entities_cte(n_base=n_base, n_twin=n_twin)},
{clustering_ctes('entities', min_similarity=min_similarity)},
cells AS (
  SELECT a.cluster_id, e.truth_id, count(*) AS n
  FROM assignments a JOIN entities e ON e.entity_key = a.entity_key
  GROUP BY 1, 2
),
head AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_items,
         CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         CAST(count(DISTINCT truth_id) AS BIGINT) AS n_truths,
         CAST(sum(n * (n - 1) // 2) AS BIGINT) AS tp_pairs
  FROM cells
),
pred AS (
  SELECT CAST(sum(s * (s - 1) // 2) AS BIGINT) AS pred_pairs
  FROM (SELECT sum(n) AS s FROM cells GROUP BY cluster_id)
),
tru AS (
  SELECT CAST(sum(s * (s - 1) // 2) AS BIGINT) AS true_pairs
  FROM (SELECT sum(n) AS s FROM cells GROUP BY truth_id)
)
SELECT n_items, n_clusters, n_truths, tp_pairs,
       pred_pairs - tp_pairs AS fp_pairs,
       true_pairs - tp_pairs AS fn_pairs,
       round(tp_pairs / pred_pairs, 6) AS pair_precision,
       round(tp_pairs / true_pairs, 6) AS pair_recall,
       round(2.0 * tp_pairs / (pred_pairs + true_pairs), 6) AS pair_f1
FROM head, pred, tru
"""


def er_threshold_sweep_sql(
    *, n_base: int = 150, n_twin: int = 30,
    thresholds: tuple[float, ...] = (
        0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95, 1.0
    ),
) -> str:
    """Oracle for score_threshold_sweep over eval_entities: regenerated
    corpus → shared blocking + pair-score CTEs → per-threshold roll-up
    (the oracle takes the naive pairs x thresholds join — it verifies
    VALUES; the engine's bucket-cumulate shape is the scale claim)."""
    from .er_oracle import blocking_ctes, pair_scores_ctes

    ths = sorted({float(t) for t in thresholds})
    tvals = ", ".join(f"(CAST({t!r} AS DOUBLE))" for t in ths)
    return f"""WITH
{eval_entities_cte(n_base=n_base, n_twin=n_twin)},
{blocking_ctes('entities')},
{pair_scores_ctes('entities')},
lab AS (
  SELECT p.score, lt.truth_id = rt.truth_id AS same
  FROM pair_scores p
  JOIN entities lt ON lt.entity_key = p.left_id
  JOIN entities rt ON rt.entity_key = p.right_id
),
ths(threshold) AS (VALUES {tvals}),
tot AS (
  SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_true_pairs
  FROM (SELECT count(*) AS n FROM entities GROUP BY truth_id)
),
cum AS (
  SELECT t.threshold,
         CAST(coalesce(sum(CASE WHEN same THEN 1 END) FILTER (WHERE lab.score >= t.threshold), 0) AS BIGINT) AS tp_pairs,
         CAST(coalesce(sum(CASE WHEN NOT same THEN 1 END) FILTER (WHERE lab.score >= t.threshold), 0) AS BIGINT) AS fp_pairs
  FROM ths t LEFT JOIN lab ON true
  GROUP BY t.threshold
)
SELECT threshold, tp_pairs, fp_pairs,
       n_true_pairs - tp_pairs AS fn_pairs,
       round(CASE WHEN tp_pairs + fp_pairs > 0
             THEN tp_pairs / (tp_pairs + fp_pairs) END, 6) AS pair_precision,
       round(tp_pairs / n_true_pairs, 6) AS pair_recall,
       round(2.0 * tp_pairs / (2.0 * tp_pairs + fp_pairs + (n_true_pairs - tp_pairs)), 6) AS pair_f1
FROM cum, tot
ORDER BY threshold
"""


def er_blocking_stats_sql(
    *, n_base: int = 150, n_twin: int = 30, max_block_size: int = 50
) -> str:
    """Oracle for blocking_stats over eval_entities: regenerated corpus
    + the shared blocking channel CTEs (chan_key / chan_mh from
    er_oracle.blocking_ctes), rolled up per channel. The eval corpus is
    the substrate because the sandbox documents corpus yields a
    25-entity all-singleton block table (every stat vacuously zero);
    the cap is lowered to 50 here so the oversized accounting is
    exercised (the corpus' hottest LSH bucket has ~79 members)."""
    from .er_oracle import blocking_ctes

    return f"""WITH
{eval_entities_cte(n_base=n_base, n_twin=n_twin)},
{blocking_ctes('entities')},
bl AS (
  SELECT 'name' AS channel, entity_key, bkey FROM chan_key
  UNION ALL
  SELECT 'minhash' AS channel, entity_key, bkey FROM chan_mh
),
per_key AS (
  SELECT channel, bkey, count(*) AS m FROM bl GROUP BY 1, 2
),
stats AS (
  SELECT channel,
         CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(m) AS BIGINT) AS n_rows,
         CAST(max(m) AS BIGINT) AS max_members,
         CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singleton_blocks,
         CAST(sum(CASE WHEN m > {max_block_size} THEN 1 ELSE 0 END) AS BIGINT) AS oversized_blocks,
         CAST(sum(m * (m - 1) // 2) AS BIGINT) AS naive_pairs
  FROM per_key GROUP BY channel
),
epc AS (
  SELECT channel, CAST(count(DISTINCT entity_key) AS BIGINT) AS n_entities
  FROM bl GROUP BY channel
)
SELECT s.channel, s.n_blocks, s.n_rows, e.n_entities, s.max_members,
       s.singleton_blocks, s.oversized_blocks, s.naive_pairs
FROM stats s JOIN epc e USING (channel)
ORDER BY s.channel
"""


def _eval_clustering_preamble(n_base: int, n_twin: int, min_similarity: float) -> str:
    """Regenerated eval corpus + the shared clustering chain — the WITH
    RECURSIVE body the cluster-size and B-cubed oracles build on. The
    organic documents corpus never produces multi-member clusters (every
    noun lemma is its own entity), so these oracles run over the labeled
    variant corpus where cluster shapes are non-trivial."""
    from .er_oracle import clustering_ctes

    return f"""{eval_entities_cte(n_base=n_base, n_twin=n_twin)},
{clustering_ctes('entities', min_similarity=min_similarity)}"""


# ---------------------------------------------------------------------------
# B-cubed clustering metrics
# ---------------------------------------------------------------------------

def bcubed_metrics(
    assignments: DataFrame,
    truth: DataFrame,
    *,
    truth_col: str = "truth_id",
) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin '98; the per-RECORD
    clustering metric next to pairwise F1) — one row: (n_records,
    bcubed_precision, bcubed_recall, bcubed_f1).

    Per record, precision = the fraction of its predicted cluster that
    shares its truth entity; recall = the fraction of its truth entity
    captured by its cluster; B-cubed is the average over records.
    Unlike pairwise F1, singletons count and giant clusters cannot
    dominate quadratically. From the (cluster, truth) contingency
    cells: precision = sum n_ct^2 / n_c over cells / N, recall =
    sum n_ct^2 / n_t / N — so like clustering_metrics it needs only
    THREE vocabulary-sized aggregates; no per-record or per-pair row
    set ever materializes, and the metric itself runs at 10^12
    entities.
    """
    j = assignments.select("entity_key", "cluster_id").join(
        truth.select("entity_key", truth_col), "entity_key"
    )
    cells = j.groupBy("cluster_id", truth_col).agg(F.count("*").alias("n_ct"))
    nc = cells.groupBy("cluster_id").agg(F.sum("n_ct").alias("n_c"))
    nt = cells.groupBy(truth_col).agg(F.sum("n_ct").alias("n_t"))
    sums = (
        cells.join(nc, "cluster_id")
        .join(nt, truth_col)
        .agg(
            F.sum("n_ct").alias("n_records"),
            F.sum(F.col("n_ct") * F.col("n_ct") / F.col("n_c")).alias("_sp"),
            F.sum(F.col("n_ct") * F.col("n_ct") / F.col("n_t")).alias("_sr"),
        )
    )
    p = F.col("_sp") / F.col("n_records")
    r = F.col("_sr") / F.col("n_records")
    return sums.select(
        "n_records",
        F.round(p, 6).alias("bcubed_precision"),
        F.round(r, 6).alias("bcubed_recall"),
        F.round(2 * p * r / (p + r), 6).alias("bcubed_f1"),
    )


def er_bcubed_sql(*, n_base: int = 150, n_twin: int = 30,
                  min_similarity: float = 0.9) -> str:
    """Oracle for bcubed_metrics over the eval-corpus clustering."""
    return f"""WITH RECURSIVE
{_eval_clustering_preamble(n_base, n_twin, min_similarity)},
cells AS (
  SELECT a.cluster_id, e.truth_id, CAST(count(*) AS BIGINT) AS n_ct
  FROM assignments a JOIN entities e USING (entity_key)
  GROUP BY a.cluster_id, e.truth_id
),
nc AS (SELECT cluster_id, sum(n_ct) AS n_c FROM cells GROUP BY cluster_id),
nt AS (SELECT truth_id, sum(n_ct) AS n_t FROM cells GROUP BY truth_id),
sums AS (
  SELECT CAST(sum(n_ct) AS BIGINT) AS n_records,
         sum(n_ct * n_ct / n_c) AS sp,
         sum(n_ct * n_ct / n_t) AS sr
  FROM cells JOIN nc USING (cluster_id) JOIN nt USING (truth_id)
)
SELECT n_records,
       round(sp / n_records, 6) AS bcubed_precision,
       round(sr / n_records, 6) AS bcubed_recall,
       round(2 * (sp / n_records) * (sr / n_records)
             / (sp / n_records + sr / n_records), 6) AS bcubed_f1
FROM sums
"""


# ---------------------------------------------------------------------------
# blocking pair-budget curve (the salting-cap tuning study)
# ---------------------------------------------------------------------------

def blocking_budget_curve(entities: DataFrame,
                          caps: tuple = (10, 25, 50, 200)) -> DataFrame:
    """Candidate-pair budget as a function of ``max_block_size`` — one
    row per cap: (max_block_size, n_pairs, n_blocks, max_block_pairs,
    pair_coverage). The measurement that TUNES the skew knob: salting a
    hot block to ceil(n/cap) shards deliberately drops cross-shard
    pairs, and this curve quantifies exactly how much recall potential
    each cap trades for its pair budget (pair_coverage = surviving
    pairs / the unsalted total).

    Runs the REAL ``blocking.candidate_pairs`` once per cap over the
    same keyed entities (each run a bounded block self-join; the union
    is |caps| independent branches). Per-branch stats are two-level
    vocabulary-sized aggs (per-block counts, then one row). The
    unsalted baseline never self-joins a hot block: ``block_keys``
    gives each entity exactly one key, so with unique entity keys (as
    ``entity_aggregate`` emits them) the distinct-pair count is
    sum C(n, 2) over block sizes — one more vocabulary-sized agg,
    ridden in as a 1-row broadcast.
    """
    from functools import reduce

    from ..operators import blocking as B

    def stats(cap: int) -> DataFrame:
        p = B.candidate_pairs(B.block_keys(entities), max_block_size=cap)
        g = p.groupBy("block_key").agg(F.count("*").alias("_c"))
        return g.agg(
            F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_pairs"),
            F.count("*").alias("n_blocks"),
            F.coalesce(F.max("_c"), F.lit(0)).cast("long").alias("max_block_pairs"),
        ).withColumn("max_block_size", F.lit(cap).cast("long"))

    curve = reduce(lambda a, b: a.unionByName(b), [stats(c) for c in caps])
    base = (
        B.block_keys(entities).groupBy("block_key")
        .agg(F.count("*").alias("_n"))
        .agg(F.coalesce(F.sum(F.expr("_n * (_n - 1) DIV 2")), F.lit(0))
             .alias("_base"))
    )
    # nullif: an empty entity table has a zero baseline — coverage is
    # NULL then, not an ANSI divide-by-zero crash (edge-tested)
    return curve.crossJoin(F.broadcast(base)).select(
        "max_block_size", "n_pairs", "n_blocks", "max_block_pairs",
        F.round(F.col("n_pairs") / F.nullif(F.col("_base"), F.lit(0)), 6)
        .alias("pair_coverage"),
    )


def blocking_budget_curve_sql(caps: tuple = (10, 25, 50, 200)) -> str:
    """DuckDB twin over the salt-oracle hot-entity fixture: one
    ``salted_blocking_pairs_sql`` instance per cap (same shard
    assignment via the inlined xxhash64 sidecar), UNION ALL, coverage
    against the unsalted instance."""
    from .salt_oracle import salted_blocking_pairs_sql

    def one(cap: int) -> str:
        return f"""
SELECT CAST({cap} AS BIGINT) AS max_block_size,
       CAST(coalesce(sum(c), 0) AS BIGINT) AS n_pairs,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(coalesce(max(c), 0) AS BIGINT) AS max_block_pairs
FROM (
  SELECT block_key, count(*) AS c
  FROM ({salted_blocking_pairs_sql(cap)}) GROUP BY block_key
)"""

    union = "\nUNION ALL\n".join(one(c) for c in caps)
    return f"""
WITH _base AS (
  SELECT count(*) AS b FROM ({salted_blocking_pairs_sql(2**31 - 1)})
),
_curve AS ({union})
SELECT max_block_size, n_pairs, n_blocks, max_block_pairs,
       round(n_pairs * 1.0 / nullif(b, 0), 6) AS pair_coverage
FROM _curve CROSS JOIN _base
"""


