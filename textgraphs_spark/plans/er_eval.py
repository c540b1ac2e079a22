"""ER evaluation & post-clustering operators: the measurement half of the
record-linkage job.

The north rule's acceptance metric — "pairwise F1 >= 0.99 vs reference
entity clusters on labeled pairs at shared blocking keys" — lived only in
a pytest until now. This module makes evaluation a first-class distributed
surface (reference parity: textgraphs has no eval operators; these cover
the BASELINE.json metric itself plus the two classic post-clustering
steps every production ER system ships — survivorship and cluster audit):

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
* ``golden_records`` — survivorship: one canonical record per cluster
  (max mention_count, ties broken by min entity_key) plus the surviving
  alternates, the "merge" step that turns clusters into master records.
* ``cluster_cohesion`` — per-cluster match-edge density + minimum edge
  score: transitive closure can chain A~B~C into one cluster even when
  A-C never matched; low density / low min-score clusters are the
  over-merge candidates a steward reviews first.

Every operator has a DuckDB oracle; the labeled-evaluation queries run
over ``eval_entities`` — an RNG-free name-variant table (full form,
initialed form, typo/reversed form per truth entity, plus typo-doppelganger
"twin" entities that FORCE false positives) regenerated bit-identically
by ``eval_entities_cte``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.lehmer import LEHMER_P, det_hash, det_hash_sql


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
    scored = S.score_pairs(pairs, lean=True, threshold=thr)
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
    scored = S.score_pairs(pairs, lean=True)
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
    90% match" — the evidence behind trusting scores as probabilities
    (the Fellegi–Sunter weights downstream assume they can).

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
    scored = S.score_pairs(pairs, lean=True)
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
# post-clustering operators
# ---------------------------------------------------------------------------

def golden_records(assignments: DataFrame) -> DataFrame:
    """Survivorship: one canonical master record per cluster.

    Canonical member = highest mention_count, ties broken by min
    entity_key (both deterministic and oracle-reproducible — never
    "first seen", which depends on shuffle order). Alternates are the
    remaining distinct surfaces, sorted.

    Input: assignments(entity_key, cluster_id, surface, mention_count,
    doc_freq). Output per cluster: canonical_key, canonical_surface,
    n_forms, n_mentions, total_doc_freq, alt_surfaces.

    100 TB shape: one window partitioned by cluster_id (clusters are
    match-graph components — bounded by blocking's max_block_size fan-in,
    never corpus-scale) followed by one hash aggregation on the same key,
    so the shuffle partitioning is reused across both.
    """
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("mention_count").desc(), F.col("entity_key").asc()
    )
    r = assignments.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_forms"),
            F.sum("mention_count").alias("n_mentions"),
            F.sum("doc_freq").alias("total_doc_freq"),
            F.max(F.when(F.col("rn") == 1, F.col("entity_key"))).alias("canonical_key"),
            F.max(F.when(F.col("rn") == 1, F.col("surface"))).alias("canonical_surface"),
            F.array_join(
                F.array_sort(F.collect_set(F.when(F.col("rn") != 1, F.col("surface")))),
                "|",
            ).alias("alt_surfaces"),
        )
        .orderBy(F.desc("n_mentions"), "cluster_id")
    )


def cluster_cohesion(
    assignments: DataFrame,
    match_scores: DataFrame,
    *,
    weak_density: float = 0.5,
) -> DataFrame:
    """Per-cluster audit of the transitive closure: match-edge density
    and minimum edge score for every non-singleton cluster.

    Transitive clustering chains A~B~C into one cluster even when A-C
    never matched; a cluster whose density (match edges / C(n, 2)) is
    low is held together by chains and is the first over-merge suspect.
    ``is_weak`` flags density < ``weak_density``.

    Joining each edge to its LEFT endpoint's cluster suffices — the
    closure guarantees both endpoints share one. min(score) is
    order-independent (an avg over doubles would depend on reduction
    order and could not hash-match an oracle).

    Input: assignments(entity_key, cluster_id), match_scores(left_id,
    right_id, score) — e.g. run_lean(..., return_parts=True).
    Output: (cluster_id, n_members, n_edges, density, min_match_score,
    is_weak), n_members >= 2 only.
    """
    a = assignments.select(
        F.col("entity_key").alias("left_id"), F.col("cluster_id").alias("cl")
    )
    per = (
        match_scores.join(a, "left_id")
        .groupBy(F.col("cl").alias("cluster_id"))
        .agg(F.count("*").alias("n_edges"), F.min("score").alias("mn"))
    )
    sizes = assignments.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    density = F.col("n_edges") / (
        F.col("n_members") * (F.col("n_members") - 1) / F.lit(2.0)
    )
    return (
        sizes.filter(F.col("n_members") >= 2)
        .join(per, "cluster_id", "left")
        .withColumn("n_edges", F.coalesce("n_edges", F.lit(0)))
        .select(
            "cluster_id",
            "n_members",
            "n_edges",
            F.round(density, 6).alias("density"),
            F.round("mn", 6).alias("min_match_score"),
            (density < F.lit(weak_density)).alias("is_weak"),
        )
        .orderBy("cluster_id")
    )


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
    clustering (same shared chain as cohesion/golden records)."""
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
    RECURSIVE body both post-clustering oracles build on. The organic
    documents corpus never produces multi-member clusters (every noun
    lemma is its own entity), so the post-clustering oracles run over
    the labeled variant corpus where survivorship and cohesion are
    non-trivial."""
    from .er_oracle import clustering_ctes

    return f"""{eval_entities_cte(n_base=n_base, n_twin=n_twin)},
{clustering_ctes('entities', min_similarity=min_similarity)}"""


def er_golden_records_sql(*, n_base: int = 150, n_twin: int = 30,
                          min_similarity: float = 0.9) -> str:
    """Oracle for golden_records over the eval-corpus clustering."""
    return f"""WITH RECURSIVE
{_eval_clustering_preamble(n_base, n_twin, min_similarity)},
ranked AS (
  SELECT assignments.*,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY mention_count DESC, entity_key) AS rn
  FROM assignments
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_forms,
       CAST(sum(mention_count) AS BIGINT) AS n_mentions,
       CAST(sum(doc_freq) AS BIGINT) AS total_doc_freq,
       max(CASE WHEN rn = 1 THEN entity_key END) AS canonical_key,
       max(CASE WHEN rn = 1 THEN surface END) AS canonical_surface,
       coalesce(array_to_string(
         list_sort(list(DISTINCT surface) FILTER (WHERE rn <> 1)), '|'), '') AS alt_surfaces
FROM ranked
GROUP BY cluster_id
ORDER BY n_mentions DESC, cluster_id
"""


def er_cluster_cohesion_sql(*, n_base: int = 150, n_twin: int = 30,
                            min_similarity: float = 0.9,
                            weak_density: float = 0.5) -> str:
    """Oracle for cluster_cohesion over the eval-corpus clustering —
    pair_scores comes factored out of the same clustering chain, so
    edge scores and clusters derive from one blocking pass."""
    return f"""WITH RECURSIVE
{_eval_clustering_preamble(n_base, n_twin, min_similarity)},
mscore AS (
  SELECT left_id, right_id, score FROM pair_scores WHERE score >= {min_similarity}
),
per AS (
  SELECT a.cluster_id, CAST(count(*) AS BIGINT) AS n_edges, min(m.score) AS mn
  FROM mscore m JOIN assignments a ON a.entity_key = m.left_id
  GROUP BY a.cluster_id
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
  FROM assignments GROUP BY cluster_id
)
SELECT s.cluster_id, s.n_members,
       coalesce(p.n_edges, 0) AS n_edges,
       round(coalesce(p.n_edges, 0) / (s.n_members * (s.n_members - 1) / 2.0), 6) AS density,
       round(p.mn, 6) AS min_match_score,
       (coalesce(p.n_edges, 0) / (s.n_members * (s.n_members - 1) / 2.0)) < {weak_density} AS is_weak
FROM sizes s LEFT JOIN per p USING (cluster_id)
WHERE s.n_members >= 2
ORDER BY s.cluster_id
"""


# ---------------------------------------------------------------------------
# over-merge split audit
# ---------------------------------------------------------------------------


def strict_subclusters(
    match_scores: DataFrame, *, strict_similarity: float = 0.95
) -> DataFrame:
    """(entity_key, cluster_id) from connected components over only the
    match edges at score >= ``strict_similarity`` — the strict
    reclustering shared by the split audit and the agreement metric.
    Entities with no strict edge are absent; callers coalesce them to
    singleton clusters (their own key)."""
    from ..operators.components import components_over_keys

    return components_over_keys(
        match_scores.filter(F.col("score") >= strict_similarity)
        .select("left_id", "right_id")
    )


def split_overmerged(
    assignments: DataFrame,
    match_scores: DataFrame,
    *,
    strict_similarity: float = 0.95,
) -> DataFrame:
    """Over-merge repair audit: recluster each loose cluster's members
    over only the match edges at score >= ``strict_similarity`` and
    report how every non-singleton cluster decomposes —
    (cluster_id, n_members, n_subclusters, largest_subcluster,
    is_split).

    Transitive closure merges A~B~C even when A-C never matched;
    ``cluster_cohesion`` FLAGS such chains, this measures the repair:
    strict edges are a subset of loose edges, so strict components
    nest inside loose clusters and the decomposition is well-defined —
    the subcluster census is exactly what splitting at the stricter
    threshold would produce. Members with no strict edge become
    singleton subclusters.

    Scale shape: one filter over the already-materialized match edges,
    the same components_over_keys closure the pipeline runs (128-bit
    ids), then two vocabulary-sized aggregates. No pair or member list
    is ever collected.
    """
    per = (
        assignments.select("entity_key", "cluster_id")
        .join(
            strict_subclusters(match_scores, strict_similarity=strict_similarity)
            .withColumnRenamed("cluster_id", "sub_id"),
            "entity_key", "left",
        )
        .withColumn("sub_id", F.coalesce("sub_id", F.col("entity_key")))
        .groupBy("cluster_id", "sub_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        per.groupBy("cluster_id")
        .agg(
            F.sum("n").alias("n_members"),
            F.count("*").alias("n_subclusters"),
            F.max("n").alias("largest_subcluster"),
        )
        .filter(F.col("n_members") >= 2)
        .withColumn("is_split", F.col("n_subclusters") > 1)
        .orderBy("cluster_id")
    )


def er_split_overmerged_sql(*, n_base: int = 150, n_twin: int = 30,
                            min_similarity: float = 0.9,
                            strict_similarity: float = 0.95) -> str:
    """Oracle for split_overmerged over the eval-corpus clustering: a
    SECOND recursive closure over the strict-edge subset of the same
    pair_scores the loose clustering used."""
    return f"""WITH RECURSIVE
{_eval_clustering_preamble(n_base, n_twin, min_similarity)},
smatch AS MATERIALIZED (
  SELECT left_id, right_id FROM pair_scores WHERE score >= {strict_similarity}
),
sedges AS MATERIALIZED (
  SELECT left_id AS a, right_id AS b FROM smatch
  UNION SELECT right_id, left_id FROM smatch
),
sreach(node, r) AS (
  SELECT entity_key, entity_key FROM entities
  UNION
  SELECT e.b, x.r FROM sreach x JOIN sedges e ON e.a = x.node
),
scomp AS MATERIALIZED (
  SELECT node AS entity_key, min(r) AS sub_id FROM sreach GROUP BY node
),
per AS (
  SELECT a.cluster_id, s.sub_id, CAST(count(*) AS BIGINT) AS n
  FROM assignments a JOIN scomp s USING (entity_key)
  GROUP BY a.cluster_id, s.sub_id
)
SELECT cluster_id,
       CAST(sum(n) AS BIGINT) AS n_members,
       CAST(count(*) AS BIGINT) AS n_subclusters,
       max(n) AS largest_subcluster,
       count(*) > 1 AS is_split
FROM per
GROUP BY cluster_id
HAVING sum(n) >= 2
ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# B-cubed clustering metrics + clustering agreement
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


def clustering_agreement(
    a_assign: DataFrame,
    b_assign: DataFrame,
) -> DataFrame:
    """Agreement between two clusterings of the same records — one row
    (n_records, ari, nmi): Adjusted Rand Index (Hubert & Arabie '85)
    and normalized mutual information (sqrt normalization), both from
    the A x B contingency cells.

    This is the measurement behind threshold / model choices: how
    different are the clusterings two configurations produce, beyond
    chance? ARI 1 = identical partitions, ~0 = random relabeling.
    Everything reduces to the contingency table and its margins —
    three vocabulary-sized aggregates joined into 1-row frames, the
    clustering_metrics / bcubed envelope — so comparing two 10^12-
    entity clusterings costs three hash aggs, never a pair set.

    NaN guards: ARI's denominator is 0 only when both partitions are
    all-singletons or one cluster (returned NULL via nullif); NMI's
    when either partition has zero entropy (single cluster).
    """
    j = a_assign.select("entity_key", F.col("cluster_id").alias("_ca")).join(
        b_assign.select("entity_key", F.col("cluster_id").alias("_cb")),
        "entity_key",
    )
    cells = j.groupBy("_ca", "_cb").agg(F.count("*").alias("n_ij"))
    rows = cells.groupBy("_ca").agg(F.sum("n_ij").alias("n_a"))
    cols = cells.groupBy("_cb").agg(F.sum("n_ij").alias("n_b"))

    def c2(c):
        return F.col(c) * (F.col(c) - 1) / 2.0

    idx = cells.agg(
        F.sum("n_ij").alias("n"), F.sum(c2("n_ij")).alias("_idx")
    )
    ea = rows.agg(F.sum(c2("n_a")).alias("_ea"))
    eb = cols.agg(F.sum(c2("n_b")).alias("_eb"))
    # mutual information and entropies off the same margins
    mi = (
        cells.join(rows, "_ca").join(cols, "_cb")
        .crossJoin(F.broadcast(idx.select("n")))
        .agg(F.sum(
            (F.col("n_ij") / F.col("n"))
            * F.log(F.col("n") * F.col("n_ij") / (F.col("n_a") * F.col("n_b")))
        ).alias("_mi"))
    )
    ha = rows.crossJoin(F.broadcast(idx.select("n"))).agg(
        (-F.sum((F.col("n_a") / F.col("n")) * F.log(F.col("n_a") / F.col("n"))))
        .alias("_ha")
    )
    hb = cols.crossJoin(F.broadcast(idx.select("n"))).agg(
        (-F.sum((F.col("n_b") / F.col("n")) * F.log(F.col("n_b") / F.col("n"))))
        .alias("_hb")
    )
    one = (
        idx.crossJoin(F.broadcast(ea)).crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(mi)).crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
    )
    total = c2("n")
    exp = F.col("_ea") * F.col("_eb") / total
    ari = (F.col("_idx") - exp) / F.nullif(
        (F.col("_ea") + F.col("_eb")) / 2.0 - exp, F.lit(0.0)
    )
    nmi = F.col("_mi") / F.nullif(
        F.sqrt(F.col("_ha") * F.col("_hb")), F.lit(0.0)
    )
    return one.select(
        F.col("n").cast("long").alias("n_records"),
        F.round(ari, 6).alias("ari"),
        F.round(nmi, 6).alias("nmi"),
    )


def er_clustering_agreement_sql(*, n_base: int = 150, n_twin: int = 30,
                                min_similarity: float = 0.9,
                                strict_similarity: float = 0.95) -> str:
    """Oracle for clustering_agreement between the loose (0.9) clusters
    and the strict (0.95) subclusters — the two closures from the
    split-audit oracle, reduced to ARI + NMI."""
    return f"""WITH RECURSIVE
{_eval_clustering_preamble(n_base, n_twin, min_similarity)},
smatch AS MATERIALIZED (
  SELECT left_id, right_id FROM pair_scores WHERE score >= {strict_similarity}
),
sedges AS MATERIALIZED (
  SELECT left_id AS a, right_id AS b FROM smatch
  UNION SELECT right_id, left_id FROM smatch
),
sreach(node, r) AS (
  SELECT entity_key, entity_key FROM entities
  UNION
  SELECT e.b, x.r FROM sreach x JOIN sedges e ON e.a = x.node
),
scomp AS MATERIALIZED (
  SELECT node AS entity_key, min(r) AS sub_id FROM sreach GROUP BY node
),
cells AS (
  SELECT a.cluster_id AS ca, s.sub_id AS cb, CAST(count(*) AS BIGINT) AS n_ij
  FROM assignments a JOIN scomp s USING (entity_key)
  GROUP BY a.cluster_id, s.sub_id
),
rmarg AS (SELECT ca, sum(n_ij) AS n_a FROM cells GROUP BY ca),
cmarg AS (SELECT cb, sum(n_ij) AS n_b FROM cells GROUP BY cb),
tot AS (
  SELECT sum(n_ij) AS n, sum(n_ij * (n_ij - 1) / 2.0) AS idx FROM cells
),
easum AS (SELECT sum(n_a * (n_a - 1) / 2.0) AS ea FROM rmarg),
ebsum AS (SELECT sum(n_b * (n_b - 1) / 2.0) AS eb FROM cmarg),
misum AS (
  SELECT sum((n_ij / n) * ln(n * n_ij / (n_a * n_b))) AS mi
  FROM cells JOIN rmarg USING (ca) JOIN cmarg USING (cb), tot
),
hasum AS (SELECT -sum((n_a / n) * ln(n_a / n)) AS ha FROM rmarg, tot),
hbsum AS (SELECT -sum((n_b / n) * ln(n_b / n)) AS hb FROM cmarg, tot)
SELECT CAST(n AS BIGINT) AS n_records,
       round((idx - ea * eb / (n * (n - 1) / 2.0))
             / nullif((ea + eb) / 2.0 - ea * eb / (n * (n - 1) / 2.0), 0.0),
             6) AS ari,
       round(mi / nullif(sqrt(ha * hb), 0.0), 6) AS nmi
FROM tot, easum, ebsum, misum, hasum, hbsum
"""


# ---------------------------------------------------------------------------
# star clustering — the over-merge-resistant alternative to transitive
# closure (Aslam et al., "The Star Clustering Algorithm", lifted to a
# deterministic one-shot parallel form)
# ---------------------------------------------------------------------------

def star_clusters(entities: DataFrame, match_scores: DataFrame) -> DataFrame:
    """Deterministic star clustering over the pipeline's match edges —
    the classic precision-first alternative to transitive closure
    (reference kg.py links each span to ONE best entity; closure chains
    A~B~C into one cluster even when A and C never matched — star
    refuses exactly those chains).

    Definition (RNG-free, order-free):

    * a node is a CENTER iff it beats every match-graph neighbor under
      the strict total order (degree DESC, entity_key ASC) — two
      adjacent nodes can never both be centers, so centers form an
      independent set by construction;
    * every non-center adjacent to >= 1 center joins its best-scoring
      adjacent center (ties on score -> min center key);
    * everything else (centers, isolated nodes, non-centers whose
      neighbors are all non-centers) is its own cluster.

    Compared to closure, star can only SPLIT clusters, never merge —
    pairwise precision is monotonically >= the closure clustering's on
    any input (pinned in tests), recall pays for the chains it refuses.

    Input: ``entities`` (entity_key, ...), ``match_scores`` (left_id,
    right_id, score) as produced by ERPipeline.run_lean(return_parts=
    True). Output: (entity_key, cluster_id).

    100 TB shape: degree is one hash agg over match edges (vocabulary-
    scale, NOT corpus-scale); the center test is one edge-to-degree
    join + bool_and agg; the satellite attach is two more bounded aggs
    (max score, then min key at the max). No window over an unbounded
    partition, no iteration — a fixed 4-agg DAG regardless of graph
    diameter, vs closure's O(log n) large/small-star rounds.
    """
    e = match_scores.select("left_id", "right_id", "score")
    und = e.select(
        F.col("left_id").alias("u"), F.col("right_id").alias("v"), "score"
    ).unionByName(
        e.select(F.col("right_id").alias("u"), F.col("left_id").alias("v"), "score")
    )
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    adj = (
        und.join(deg.select(F.col("u").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v")
    )
    beats = (F.col("du") > F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    ctr = adj.groupBy("u").agg(F.bool_and(beats).alias("is_center"))
    centers = ctr.filter("is_center").select(F.col("u").alias("v"))
    # non-center -> best adjacent center: centers are never adjacent to
    # centers, so joining edges on center-endpoint v already excludes
    # every center from the satellite side
    to_ctr = und.join(centers, "v")
    best = to_ctr.groupBy("u").agg(F.max("score").alias("bs"))
    sat = (
        to_ctr.join(best, "u")
        .filter(F.col("score") == F.col("bs"))
        .groupBy("u")
        .agg(F.min("v").alias("cluster_id"))
        .select(F.col("u").alias("entity_key"), "cluster_id")
    )
    return entities.select("entity_key").join(sat, "entity_key", "left").select(
        "entity_key", F.coalesce("cluster_id", F.col("entity_key")).alias("cluster_id")
    )


def star_vs_closure(entities: DataFrame, parts: dict) -> DataFrame:
    """Side-by-side contingency evaluation of the two clusterers over
    the SAME match edges: one row per method ('closure' = the pipeline's
    transitive closure, 'star' = star_clusters) with the pairwise
    P/R/F1 columns of ``clustering_metrics``. The star row's precision
    >= the closure row's by construction (star only splits) — the
    measured gap is the over-merge cost of chaining, the recall gap the
    price star pays for refusing it."""
    truth = entities.select("entity_key", "truth_id")
    cc = clustering_metrics(
        parts["assignments"].select("entity_key", "cluster_id"), truth
    ).withColumn("method", F.lit("closure"))
    st = clustering_metrics(
        star_clusters(entities, parts["match_scores"]), truth
    ).withColumn("method", F.lit("star"))
    cols = ["method"] + [c for c in cc.columns if c != "method"]
    return cc.select(cols).unionByName(st.select(cols)).orderBy("method")


def _contingency_cte(assign: str, prefix: str) -> str:
    """Contingency-metric CTE chain over ``{assign}(entity_key,
    cluster_id)`` vs the entities truth labels, emitting one metrics
    row from ``{prefix}row`` — the SQL twin of clustering_metrics."""
    p = prefix
    return f"""{p}cells AS (
  SELECT a.cluster_id, e.truth_id, count(*) AS n
  FROM {assign} a JOIN entities e ON e.entity_key = a.entity_key
  GROUP BY 1, 2
),
{p}head AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_items,
         CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         CAST(count(DISTINCT truth_id) AS BIGINT) AS n_truths,
         CAST(sum(n * (n - 1) // 2) AS BIGINT) AS tp_pairs
  FROM {p}cells
),
{p}pred AS (
  SELECT CAST(sum(s * (s - 1) // 2) AS BIGINT) AS pred_pairs
  FROM (SELECT sum(n) AS s FROM {p}cells GROUP BY cluster_id)
),
{p}tru AS (
  SELECT CAST(sum(s * (s - 1) // 2) AS BIGINT) AS true_pairs
  FROM (SELECT sum(n) AS s FROM {p}cells GROUP BY truth_id)
),
{p}row AS (
  SELECT n_items, n_clusters, n_truths, tp_pairs,
         pred_pairs - tp_pairs AS fp_pairs,
         true_pairs - tp_pairs AS fn_pairs,
         round(tp_pairs / pred_pairs, 6) AS pair_precision,
         round(tp_pairs / true_pairs, 6) AS pair_recall,
         round(2.0 * tp_pairs / (pred_pairs + true_pairs), 6) AS pair_f1
  FROM {p}head, {p}pred, {p}tru
)"""


def er_star_clusters_sql(*, n_base: int = 150, n_twin: int = 30,
                         min_similarity: float = 0.9) -> str:
    """Oracle for star_vs_closure: the shared clustering chain gives
    pair_scores + the closure assignments; the star CTEs re-derive the
    star assignment from the same match edges; both feed the shared
    contingency-metric twin."""
    return f"""WITH RECURSIVE
{_eval_clustering_preamble(n_base, n_twin, min_similarity)},
sund AS MATERIALIZED (
  SELECT left_id AS u, right_id AS v, score FROM pair_scores WHERE score >= {min_similarity}
  UNION ALL
  SELECT right_id AS u, left_id AS v, score FROM pair_scores WHERE score >= {min_similarity}
),
sdeg AS (SELECT u, count(*) AS d FROM sund GROUP BY u),
sctr AS (
  SELECT a.u,
         bool_and(da.d > db.d OR (da.d = db.d AND a.u < a.v)) AS is_center
  FROM sund a JOIN sdeg da ON da.u = a.u JOIN sdeg db ON db.u = a.v
  GROUP BY a.u
),
scenters AS (SELECT u AS v FROM sctr WHERE is_center),
stoc AS (SELECT a.u, a.v, a.score FROM sund a JOIN scenters c ON c.v = a.v),
sbest AS (SELECT u, max(score) AS bs FROM stoc GROUP BY u),
ssat AS (
  SELECT t.u AS entity_key, min(t.v) AS cluster_id
  FROM stoc t JOIN sbest b ON b.u = t.u AND t.score = b.bs
  GROUP BY t.u
),
star_assign AS (
  SELECT e.entity_key, coalesce(s.cluster_id, e.entity_key) AS cluster_id
  FROM entities e LEFT JOIN ssat s ON s.entity_key = e.entity_key
),
{_contingency_cte('assignments', 'cc')},
{_contingency_cte('star_assign', 'st')}
SELECT 'closure' AS method, * FROM ccrow
UNION ALL
SELECT 'star' AS method, * FROM strow
ORDER BY method
"""


# BFS cap shared by cluster_depth_census and its oracle — ONE constant so
# a cap change cannot desynchronize the engines (the harmonic-centrality
# lesson from the round-4 advice).
DEPTH_MAX_ITER = 32


def cluster_depth_census(
    assignments: DataFrame,
    match_scores: DataFrame,
    *,
    max_iter: int = DEPTH_MAX_ITER,
) -> DataFrame:
    """Chain-geometry census of the transitive closure — (max_depth,
    n_clusters, n_entities) ordered by depth, where ``max_depth`` is a
    cluster's BFS eccentricity from its representative (cluster_id =
    min member key). Depth 0 = singletons; depth 1 = every member
    directly matched the representative; DEEP clusters are chains of
    pairwise matches whose endpoints never compared — exactly where
    transitive closure over-merges (the quantitative companion to
    er_star_clusters / er_split_overmerged).

    Scale: BFS rounds are per-round hash joins keyed by node (the same
    shuffle shape as label propagation), frontier-only (each round
    joins the new frontier, not the visited set), with an early exit
    on an empty frontier — a convergence signature, not a data
    collect. Depth values are bounded by ``max_iter`` (shared with the
    oracle via DEPTH_MAX_ITER).
    """
    und = (
        match_scores.select(F.col("left_id").alias("a"), F.col("right_id").alias("b"))
        .unionByName(
            match_scores.select(
                F.col("right_id").alias("a"), F.col("left_id").alias("b")
            )
        )
        .distinct()
        .localCheckpoint()
    )
    roots = assignments.select(F.col("cluster_id").alias("node")).distinct()
    visited = roots.withColumn("d", F.lit(0)).localCheckpoint()
    frontier = visited
    for _ in range(int(max_iter)):
        if frontier.isEmpty():
            break
        nxt = (
            und.join(frontier, und["a"] == frontier["node"])
            .select(F.col("b").alias("node"), (F.col("d") + 1).alias("d"))
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .join(visited.select(F.col("node").alias("_v")),
                  F.col("node") == F.col("_v"), "left_anti")
            .localCheckpoint()
        )
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    per_cluster = (
        assignments.select("entity_key", "cluster_id")
        .join(visited.select(F.col("node").alias("entity_key"), "d"),
              "entity_key", "left")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.max(F.coalesce("d", F.lit(0))).alias("max_depth"),
        )
    )
    return (
        per_cluster.groupBy("max_depth")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("n_members").cast("long").alias("n_entities"),
        )
        .select(F.col("max_depth").cast("long"), "n_clusters", "n_entities")
        .orderBy("max_depth")
    )


def er_cluster_depth_sql(
    *, n_base: int = 150, n_twin: int = 30, min_similarity: float = 0.9,
    max_iter: int = DEPTH_MAX_ITER,
) -> str:
    """Oracle for cluster_depth_census over the pipeline clustering of
    eval_entities: the shared clustering CTEs, then a recursive-CTE BFS
    from each cluster representative capped at the SAME DEPTH_MAX_ITER,
    min-depth per node, per-cluster eccentricity, depth histogram."""
    from .er_oracle import clustering_ctes

    return f"""WITH RECURSIVE
{eval_entities_cte(n_base=n_base, n_twin=n_twin)},
{clustering_ctes('entities', min_similarity=min_similarity)},
bfs(node, d) AS (
  SELECT DISTINCT cluster_id, 0 FROM assignments
  UNION
  SELECT e.b, x.d + 1
  FROM bfs x JOIN edgesu e ON e.a = x.node
  WHERE x.d < {int(max_iter)}
),
dmin AS (SELECT node, min(d) AS d FROM bfs GROUP BY node),
percl AS (
  SELECT a.cluster_id,
         count(*) AS n_members,
         max(coalesce(m.d, 0)) AS max_depth
  FROM assignments a LEFT JOIN dmin m ON m.node = a.entity_key
  GROUP BY a.cluster_id
)
SELECT CAST(max_depth AS BIGINT) AS max_depth,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(n_members) AS BIGINT) AS n_entities
FROM percl
GROUP BY max_depth
ORDER BY max_depth
"""


def two_table_linkage(
    entities: DataFrame,
    *,
    n_true: int = 180,
    truth_col: str = "truth_id",
) -> DataFrame:
    """Record LINKAGE (A x B across two files), the classic
    configuration next to the repo's self-dedup pipelines: table A =
    the full-name registry (variant 0 of each truth entity), table B =
    the incoming file (initials + variant spellings). Candidates come
    from the name blocking channel restricted to CROSS-table key
    shares, scored by the PRODUCTION decision scorer
    (scoring.score_pairs lean — the same kernel the clustering
    pipeline thresholds), gated at the pipeline match threshold, then
    assigned one-to-one by reciprocal best (both directions agree;
    ties break on the partner key) — (left_id, right_id, score,
    is_true) ordered by pair.

    Scale: the cross-table restriction makes the candidate join
    strictly smaller than the self-join; reciprocal best is two
    map-side-combining hash aggs (min of a (-score, partner) struct —
    no window over a hot key).
    """
    from ..operators.blocking import block_keys
    from ..operators.scoring import score_pairs

    idx = F.substring("entity_key", 2, 10).cast("long")
    sides = entities.select("entity_key", (idx < n_true).alias("_is_a"))
    bk = (
        block_keys(entities.select("entity_key", "surface"))
        .select(F.col("block_key").alias("bkey"), "entity_key", "surface")
        .join(sides, "entity_key")
    )
    cand = (
        bk.filter(F.col("_is_a"))
        .select("bkey", F.col("entity_key").alias("left_id"),
                F.col("surface").alias("left_surface"))
        .join(
            bk.filter(~F.col("_is_a"))
            .select("bkey", F.col("entity_key").alias("right_id"),
                    F.col("surface").alias("right_surface")),
            "bkey",
        )
        .select("left_id", "right_id", "left_surface", "right_surface")
        .distinct()
    )
    scored = (
        score_pairs(cand, lean=True)
        .filter(F.col("match"))
        .select("left_id", "right_id", F.col("score"))
        .localCheckpoint()
    )
    best_a_for_b = (
        scored.groupBy("right_id")
        .agg(F.min(F.struct((-F.col("score")).alias("ns"),
                            F.col("left_id").alias("k"))).alias("s"))
        .select(F.col("s.k").alias("left_id"), "right_id")
    )
    best_b_for_a = (
        scored.groupBy("left_id")
        .agg(F.min(F.struct((-F.col("score")).alias("ns"),
                            F.col("right_id").alias("k"))).alias("s"))
        .select("left_id", F.col("s.k").alias("right_id"))
    )
    mutual = best_a_for_b.join(best_b_for_a, ["left_id", "right_id"])
    truth = entities.select("entity_key", truth_col)
    return (
        mutual.join(scored, ["left_id", "right_id"])
        .join(truth.select(F.col("entity_key").alias("left_id"),
                           F.col(truth_col).alias("_at")), "left_id")
        .join(truth.select(F.col("entity_key").alias("right_id"),
                           F.col(truth_col).alias("_bt")), "right_id")
        .select(
            "left_id", "right_id",
            F.round("score", 6).alias("score"),
            (F.col("_at") == F.col("_bt")).alias("is_true"),
        )
        .orderBy("left_id", "right_id")
    )


def er_two_table_sql(
    *, n_base: int = 150, n_twin: int = 30, min_similarity: float = 0.9,
) -> str:
    """Oracle for two_table_linkage over eval_entities: the shared
    blocking + pair-scoring CTEs (the SAME _score_case_expr decision
    kernel as the clustering oracles) with the candidate set replaced
    by the cross-table key-share join, match gate, reciprocal-best via
    two window ranks."""
    from .er_oracle import blocking_ctes, pair_scores_ctes

    n_true = n_base + n_twin
    return f"""WITH
{eval_entities_cte(n_base=n_base, n_twin=n_twin)},
{blocking_ctes('entities')},
sides AS (
  SELECT entity_key,
         CAST(substr(entity_key, 2) AS BIGINT) < {n_true} AS is_a
  FROM entities
),
xcands AS MATERIALIZED (
  SELECT DISTINCT a.entity_key AS left_id, b.entity_key AS right_id
  FROM chan_key a JOIN sides sa ON sa.entity_key = a.entity_key AND sa.is_a
  JOIN chan_key b ON b.bkey = a.bkey
  JOIN sides sb ON sb.entity_key = b.entity_key AND NOT sb.is_a
),
{pair_scores_ctes('entities').replace('FROM cands c', 'FROM xcands c')},
matched AS MATERIALIZED (
  SELECT left_id, right_id, score FROM pair_scores
  WHERE score >= {min_similarity}
),
ba AS (
  SELECT left_id, right_id, score,
         row_number() OVER (PARTITION BY right_id
                            ORDER BY score DESC, left_id ASC) AS rn
  FROM matched
),
ab AS (
  SELECT left_id, right_id,
         row_number() OVER (PARTITION BY left_id
                            ORDER BY score DESC, right_id ASC) AS rn
  FROM matched
)
SELECT ba.left_id, ba.right_id, round(ba.score, 6) AS score,
       (ea.truth_id = eb.truth_id) AS is_true
FROM ba
JOIN ab ON ab.left_id = ba.left_id AND ab.right_id = ba.right_id
       AND ba.rn = 1 AND ab.rn = 1
JOIN entities ea ON ea.entity_key = ba.left_id
JOIN entities eb ON eb.entity_key = ba.right_id
ORDER BY ba.left_id, ba.right_id
"""


def two_table_metrics(
    entities: DataFrame,
    *,
    n_true: int = 180,
    truth_col: str = "truth_id",
) -> DataFrame:
    """One-row quality summary of the A x B linkage — (n_a, n_b,
    n_linked, n_correct, precision, recall): every B record has exactly
    one true partner in the registry (A carries one row per truth), so
    recall = correct links / |B|. The number an operator reads before
    trusting the assignment table downstream.

    Scale: the linkage itself plus two O(1)-row aggregates stitched by
    broadcast crossJoins — no new pair-space work.
    """
    linked = two_table_linkage(entities, n_true=n_true, truth_col=truth_col)
    idx = F.substring("entity_key", 2, 10).cast("long")
    sides = entities.agg(
        F.sum((idx < n_true).cast("long")).alias("n_a"),
        F.sum((idx >= n_true).cast("long")).alias("n_b"),
    )
    link_agg = linked.agg(
        F.count("*").cast("long").alias("n_linked"),
        F.sum(F.col("is_true").cast("long")).alias("n_correct"),
    )
    return (
        sides.crossJoin(F.broadcast(link_agg))
        .select(
            "n_a", "n_b", "n_linked", "n_correct",
            F.round(F.col("n_correct") / F.col("n_linked"), 6).alias("precision"),
            F.round(F.col("n_correct") / F.col("n_b"), 6).alias("recall"),
        )
    )


def er_two_table_metrics_sql(
    *, n_base: int = 150, n_twin: int = 30, min_similarity: float = 0.9,
) -> str:
    """Oracle for two_table_metrics: the full linkage oracle as a
    subquery plus the generator-constant side counts (A = the n_true
    variant-0 rows, B = the 2*n_true initial/variant rows — fixed by
    the eval_entities construction; re-deriving them here would need a
    second `entities` CTE, which collides with the inner query's)."""
    n_true = n_base + n_twin
    return f"""WITH
linked AS (
  SELECT * FROM ({er_two_table_sql(n_base=n_base, n_twin=n_twin,
                                   min_similarity=min_similarity)}) t
),
sides AS (
  SELECT CAST({n_true} AS BIGINT) AS n_a,
         CAST({2 * n_true} AS BIGINT) AS n_b
),
la AS (
  SELECT CAST(count(*) AS BIGINT) AS n_linked,
         CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM linked
)
SELECT n_a, n_b, n_linked, n_correct,
       round(n_correct * 1.0 / n_linked, 6) AS precision,
       round(n_correct * 1.0 / n_b, 6) AS recall
FROM sides, la
"""


def _constrained_preamble(n_base: int, n_twin: int, min_similarity: float,
                          modulus: int) -> str:
    """Regenerated eval corpus + the CONSTRAINED clustering chain
    (er_oracle.constrained_clustering_ctes: deterministic-reviewer
    cannot-link removal before the closure, ``cannot`` CTE kept visible
    for the audit)."""
    from .er_oracle import constrained_clustering_ctes

    return f"""{eval_entities_cte(n_base=n_base, n_twin=n_twin)},
{constrained_clustering_ctes('entities', min_similarity=min_similarity, modulus=modulus)}"""


def er_constrained_clusters_sql(*, n_base: int = 150, n_twin: int = 30,
                                min_similarity: float = 0.9,
                                modulus: int = 7) -> str:
    """Cluster summary after cannot-link removal — the constrained twin
    of the eval-corpus clustering."""
    return f"""WITH RECURSIVE
{_constrained_preamble(n_base, n_twin, min_similarity, modulus)}
SELECT cluster_id,
       count(*) AS n_forms,
       CAST(sum(mention_count) AS BIGINT) AS n_mentions,
       array_to_string(list_sort(list(DISTINCT surface)), '|') AS members,
       max(mention_count) AS max_mentions
FROM assignments
GROUP BY cluster_id
ORDER BY n_mentions DESC, cluster_id
"""


def er_constraint_violations_sql(*, n_base: int = 150, n_twin: int = 30,
                                 min_similarity: float = 0.9,
                                 modulus: int = 7) -> str:
    """The audit twin: every rejected pair with whether OTHER accepted
    edges still put both endpoints in one cluster."""
    return f"""WITH RECURSIVE
{_constrained_preamble(n_base, n_twin, min_similarity, modulus)}
SELECT c.left_id, c.right_id,
       (a1.cluster_id = a2.cluster_id) AS violated
FROM cannot c
JOIN assignments a1 ON c.left_id = a1.entity_key
JOIN assignments a2 ON c.right_id = a2.entity_key
"""


# ---------------------------------------------------------------------------
# run-over-run cluster churn (snapshot lineage)
# ---------------------------------------------------------------------------

def _key_hash(col):
    """Engine-neutral Lehmer hash of an entity key (md5 → 60-bit int →
    MINSTD mixer, operators/lehmer.py) applied to string keys, shared
    with the churn oracle via key_hash_sql."""
    gid = F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    return det_hash(gid)


def key_hash_sql(expr: str) -> str:
    """DuckDB twin of ``_key_hash`` — keep in lockstep."""
    return det_hash_sql(f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)")


def cluster_churn(entities: DataFrame, parts: dict, *,
                  prior_frac: float = 2 / 3) -> DataFrame:
    """Run-over-run cluster lineage — one row per CURRENT cluster:
    (cluster_id, n_members, n_prior, n_prior_clusters, best_prior,
    best_overlap, status). The production ER-ops monitor: a nightly
    rerun that silently merges yesterday's clusters (or shatters them)
    is a pipeline regression the aggregate metrics can hide.

    The PRIOR run is the deterministic ``prior_frac`` entity subset
    (Lehmer key hash — a pure function of the key, so the
    "yesterday" corpus is stable across retries) clustered on its
    subset-internal match edges — exactly the closure an earlier run
    over only those entities would have produced, derived WITHOUT a
    second blocking/scoring pass (edge filtering, not re-scoring: the
    er_incremental reuse argument). Status per current cluster:

    * ``new``    — no member existed in the prior run;
    * ``merged`` — members arrive from >= 2 distinct prior clusters
                   (chaining alarm: review before shipping);
    * ``grown``  — one prior cluster plus newly-arrived entities;
    * ``stable`` — byte-identical membership carried forward.

    100 TB shape: one extra CC over the FILTERED edge set (shared
    128-bit kernel, size-adaptive), then two key-keyed joins and two
    vocabulary-sized hash aggs; best-overlap is a ``max(struct)``
    argmax, no window.
    """
    from ..operators import components as C

    thr = int(prior_frac * LEHMER_P)
    edges = parts["match_scores"].select("left_id", "right_id")
    e_prior = edges.filter(
        (_key_hash(F.col("left_id")) < thr) & (_key_hash(F.col("right_id")) < thr)
    )
    cc = C.components_over_keys(e_prior)
    prior = (
        entities.filter(_key_hash(F.col("entity_key")) < thr)
        .select("entity_key")
        .join(cc, "entity_key", "left")
        .withColumn("prior_id", F.coalesce("cluster_id", F.col("entity_key")))
        .select("entity_key", "prior_id")
    )
    cur = parts["assignments"].select("entity_key", "cluster_id")
    j = cur.join(prior, "entity_key", "left")
    overlaps = (
        j.filter(F.col("prior_id").isNotNull())
        .groupBy("cluster_id", "prior_id")
        .agg(F.count("*").alias("n_ij"))
    )
    best = overlaps.groupBy("cluster_id").agg(
        F.count("*").alias("n_prior_clusters"),
        F.max(F.struct(F.col("n_ij").alias("n"), F.col("prior_id").alias("p"))).alias("_b"),
    )
    sizes = j.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.count("prior_id").alias("n_prior"),
    )
    out = sizes.join(best, "cluster_id", "left")
    status = (
        F.when(F.col("n_prior") == 0, F.lit("new"))
        .when(F.coalesce(F.col("n_prior_clusters"), F.lit(0)) >= 2, F.lit("merged"))
        .when(F.col("n_members") > F.col("n_prior"), F.lit("grown"))
        .otherwise(F.lit("stable"))
    )
    return out.select(
        "cluster_id", "n_members", "n_prior",
        F.coalesce(F.col("n_prior_clusters"), F.lit(0)).alias("n_prior_clusters"),
        F.col("_b.p").alias("best_prior"),
        F.coalesce(F.col("_b.n"), F.lit(0)).alias("best_overlap"),
        status.alias("status"),
    )


def er_cluster_churn_sql(*, n_base: int = 150, n_twin: int = 30,
                         min_similarity: float = 0.9,
                         prior_frac: float = 2 / 3) -> str:
    """Oracle for ``cluster_churn``: the eval clustering chain plus a
    p-prefixed second closure over the hash-filtered prior edge subset
    (the er_clustering_agreement two-closure pattern)."""
    thr = int(prior_frac * LEHMER_P)
    hl = key_hash_sql("left_id")
    hr = key_hash_sql("right_id")
    hk = key_hash_sql("entity_key")
    return f"""WITH RECURSIVE
{_eval_clustering_preamble(n_base, n_twin, min_similarity)},
pmatch AS MATERIALIZED (
  SELECT left_id, right_id FROM matches
  WHERE ({hl}) < {thr} AND ({hr}) < {thr}
),
pedges AS MATERIALIZED (
  SELECT left_id AS a, right_id AS b FROM pmatch
  UNION SELECT right_id, left_id FROM pmatch
),
preach(node, r) AS (
  SELECT entity_key, entity_key FROM entities WHERE ({hk}) < {thr}
  UNION
  SELECT e.b, x.r FROM preach x JOIN pedges e ON e.a = x.node
),
prior_assign AS MATERIALIZED (
  SELECT node AS entity_key, min(r) AS prior_id FROM preach GROUP BY node
),
joined AS (
  SELECT a.cluster_id, p.prior_id
  FROM assignments a LEFT JOIN prior_assign p ON a.entity_key = p.entity_key
),
ovl AS (
  SELECT cluster_id, prior_id, CAST(count(*) AS BIGINT) AS n_ij
  FROM joined WHERE prior_id IS NOT NULL GROUP BY cluster_id, prior_id
),
best AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_prior_clusters,
         max({{'n': n_ij, 'p': prior_id}}) AS b
  FROM ovl GROUP BY cluster_id
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         CAST(count(prior_id) AS BIGINT) AS n_prior
  FROM joined GROUP BY cluster_id
)
SELECT s.cluster_id, s.n_members, s.n_prior,
       coalesce(b.n_prior_clusters, 0) AS n_prior_clusters,
       b.b.p AS best_prior,
       coalesce(b.b.n, 0) AS best_overlap,
       CASE WHEN s.n_prior = 0 THEN 'new'
            WHEN coalesce(b.n_prior_clusters, 0) >= 2 THEN 'merged'
            WHEN s.n_members > s.n_prior THEN 'grown'
            ELSE 'stable' END AS status
FROM sizes s LEFT JOIN best b USING (cluster_id)
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


def merge_review(entities: DataFrame, parts: dict, *,
                 prior_frac: float = 2 / 3) -> DataFrame:
    """The review queue for ``cluster_churn``'s 'merged' alarms — one
    row per BRIDGING match edge: (cluster_id, left_id, right_id, score,
    left_prior, right_prior). A bridging edge connects members that
    belonged to two DIFFERENT prior-run clusters; these are exactly the
    edges a reviewer must approve before shipping the merged clustering
    (and the natural input to the cannot-link loop in
    plans/er_constraints.py when they reject one).

    Scale shape: the prior closure is shared with cluster_churn (edge
    filtering + the 128-bit CC kernel); bridging detection is the match
    edges joined twice against the vocabulary-sized (entity_key →
    prior_id, cluster_id) table, keeping only rows whose endpoints
    carry DIFFERENT non-null prior ids — no pair materialization beyond
    the already-checkpointed match edges. Scores ride along from the
    scoring stage (match_scores keeps them precisely so audits never
    re-run the UDF).
    """
    from ..operators import components as C

    thr = int(prior_frac * LEHMER_P)
    edges = parts["match_scores"]
    e_prior = edges.filter(
        (_key_hash(F.col("left_id")) < thr) & (_key_hash(F.col("right_id")) < thr)
    ).select("left_id", "right_id")
    cc = C.components_over_keys(e_prior)
    prior = (
        entities.filter(_key_hash(F.col("entity_key")) < thr)
        .select("entity_key")
        .join(cc, "entity_key", "left")
        .withColumn("prior_id", F.coalesce("cluster_id", F.col("entity_key")))
        .select("entity_key", "prior_id")
    )
    lab = parts["assignments"].select("entity_key", "cluster_id").join(
        prior, "entity_key", "left"
    )
    # a cluster is MERGED when its members span >= 2 distinct prior ids;
    # by construction a direct prior-to-prior edge cannot exist (it would
    # have merged the priors already), so the stitching runs through NEW
    # entities — the reviewable edges are those whose endpoints carry
    # DIFFERENT prior lineage (null-safe: new-entity endpoints differ
    # from every prior id, and from each other only via their cluster)
    merged = (
        lab.filter(F.col("prior_id").isNotNull())
        .groupBy("cluster_id")
        .agg(F.countDistinct("prior_id").alias("_np"))
        .filter(F.col("_np") >= 2)
        .select("cluster_id")
    )
    a = lab.select(
        F.col("entity_key").alias("left_id"), F.col("cluster_id"),
        F.col("prior_id").alias("left_prior"),
    )
    b = lab.select(
        F.col("entity_key").alias("right_id"),
        F.col("prior_id").alias("right_prior"),
    )
    return (
        edges.join(a, "left_id").join(b, "right_id")
        .join(merged, "cluster_id", "left_semi")
        .filter(~F.col("left_prior").eqNullSafe(F.col("right_prior")))
        .select(
            "cluster_id", "left_id", "right_id",
            F.round("score", 6).alias("score"),
            "left_prior", "right_prior",
        )
    )


def _merge_review_ctes(n_base: int, n_twin: int, min_similarity: float,
                       prior_frac: float) -> str:
    """CTE chain through ``bridges(cluster_id, left_id, right_id,
    score, left_prior, right_prior)`` — the full clustering + prior
    closure + merged-cluster bridging edges. Must be placed under WITH
    RECURSIVE. Shared by the merge-review oracle and the reviewed-
    clustering oracle (which removes rejected bridges and re-closes)."""
    thr = int(prior_frac * LEHMER_P)
    hl = key_hash_sql("left_id")
    hr = key_hash_sql("right_id")
    hk = key_hash_sql("entity_key")
    return f"""{_eval_clustering_preamble(n_base, n_twin, min_similarity)},
mscore AS MATERIALIZED (
  SELECT least(left_id, right_id) AS left_id,
         greatest(left_id, right_id) AS right_id, score
  FROM pair_scores WHERE score >= {min_similarity}
),
pmatch AS MATERIALIZED (
  SELECT left_id, right_id FROM mscore
  WHERE ({hl}) < {thr} AND ({hr}) < {thr}
),
pedges AS MATERIALIZED (
  SELECT left_id AS a, right_id AS b FROM pmatch
  UNION SELECT right_id, left_id FROM pmatch
),
preach(node, r) AS (
  SELECT entity_key, entity_key FROM entities WHERE ({hk}) < {thr}
  UNION
  SELECT e.b, x.r FROM preach x JOIN pedges e ON e.a = x.node
),
prior_assign AS MATERIALIZED (
  SELECT node AS entity_key, min(r) AS prior_id FROM preach GROUP BY node
),
lab AS (
  SELECT a.entity_key, a.cluster_id, p.prior_id
  FROM assignments a LEFT JOIN prior_assign p ON a.entity_key = p.entity_key
),
merged AS (
  SELECT cluster_id FROM lab WHERE prior_id IS NOT NULL
  GROUP BY cluster_id HAVING count(DISTINCT prior_id) >= 2
),
bridges AS (
  SELECT la.cluster_id, m.left_id, m.right_id, round(m.score, 6) AS score,
         la.prior_id AS left_prior, lb.prior_id AS right_prior
  FROM mscore m
  JOIN lab la ON m.left_id = la.entity_key
  JOIN lab lb ON m.right_id = lb.entity_key
  JOIN merged ON la.cluster_id = merged.cluster_id
  WHERE la.prior_id IS DISTINCT FROM lb.prior_id
)"""


def er_merge_review_sql(*, n_base: int = 150, n_twin: int = 30,
                        min_similarity: float = 0.9,
                        prior_frac: float = 2 / 3) -> str:
    """Oracle for ``merge_review`` — the churn preamble's prior closure
    plus the bridging-edge filter over the scored matches."""
    return f"""WITH RECURSIVE
{_merge_review_ctes(n_base, n_twin, min_similarity, prior_frac)}
SELECT * FROM bridges
"""


def er_reviewed_clusters_sql(*, n_base: int = 150, n_twin: int = 30,
                             min_similarity: float = 0.9,
                             prior_frac: float = 2 / 3,
                             min_bridge_score: float = 0.95) -> str:
    """Oracle for ``reviewed_clusters`` — rejected (low-score) bridges
    removed from the scored matches, then a THIRD recursive closure and
    the cluster summary of the reviewed clustering."""
    return f"""WITH RECURSIVE
{_merge_review_ctes(n_base, n_twin, min_similarity, prior_frac)},
rejected AS MATERIALIZED (
  SELECT left_id, right_id FROM bridges WHERE score < {min_bridge_score}
),
rkept AS MATERIALIZED (
  SELECT m.left_id, m.right_id FROM mscore m
  WHERE NOT EXISTS (
    SELECT 1 FROM rejected r
    WHERE r.left_id = m.left_id AND r.right_id = m.right_id
  )
),
redges AS MATERIALIZED (
  SELECT left_id AS a, right_id AS b FROM rkept
  UNION SELECT right_id, left_id FROM rkept
),
rreach(node, r) AS (
  SELECT entity_key, entity_key FROM entities
  UNION
  SELECT e.b, x.r FROM rreach x JOIN redges e ON e.a = x.node
),
rcomp AS MATERIALIZED (
  SELECT node AS entity_key, min(r) AS cluster_id FROM rreach GROUP BY node
),
rassign AS (
  SELECT e.entity_key, c.cluster_id, e.surface, e.mention_count
  FROM entities e JOIN rcomp c ON e.entity_key = c.entity_key
)
SELECT cluster_id,
       count(*) AS n_forms,
       CAST(sum(mention_count) AS BIGINT) AS n_mentions,
       array_to_string(list_sort(list(DISTINCT surface)), '|') AS members,
       max(mention_count) AS max_mentions
FROM rassign
GROUP BY cluster_id
"""


def reviewed_clusters(entities: DataFrame, parts: dict, *,
                      prior_frac: float = 2 / 3,
                      min_bridge_score: float = 0.95) -> DataFrame:
    """The full ER-ops loop as ONE query — monitor → review → constrain
    → re-close: ``merge_review``'s bridging edges below
    ``min_bridge_score`` are treated as reviewer REJECTIONS (the
    low-confidence stitches a human declines), anti-joined out of the
    match edges, and the closure re-runs. Output is the cluster summary
    of the reviewed clustering — the table that ships after review.

    High-score bridges survive (the reviewer approves confident
    merges), so this is strictly gentler than refusing every merge;
    clusters without merge alarms pass through untouched. One extra CC
    over the kept edges (shared 128-bit kernel); everything upstream is
    the already-checkpointed pipeline output.
    """
    from ..operators import components as C

    edges = parts["match_scores"]
    rejected = (
        merge_review(entities, parts, prior_frac=prior_frac)
        .filter(F.col("score") < min_bridge_score)
        .select("left_id", "right_id")
    )
    kept = edges.select(
        F.least("left_id", "right_id").alias("left_id"),
        F.greatest("left_id", "right_id").alias("right_id"),
    ).join(rejected, ["left_id", "right_id"], "left_anti")
    clusters = C.components_over_keys(kept)
    assignments = (
        entities.select("entity_key", "surface", "mention_count", "doc_freq")
        .join(clusters, "entity_key", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("entity_key")))
    )
    return (
        assignments.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_forms"),
            F.sum("mention_count").alias("n_mentions"),
            F.array_join(F.sort_array(F.collect_set("surface")), "|").alias("members"),
            F.max("mention_count").alias("max_mentions"),
        )
    )
