"""ER evaluation operators (plans/er_eval): hand-computed metric
fixtures, reconciliation with pair-level rederivations, and determinism
of the RNG-free labeled corpus."""

import pytest

from textgraphs_spark.plans import er_eval as E
from textgraphs_spark.plans.er_pipeline import ERPipeline


@pytest.fixture(scope="module")
def eval_run(spark):
    ents = E.eval_entities(spark, n_base=40, n_twin=8)
    assignments = ERPipeline(spark).run_lean(
        None,
        entities=ents.select(
            "entity_key", "surface", "label", "mention_count", "doc_freq"
        ),
    )
    return ents, assignments


def test_clustering_metrics_hand_computed(spark):
    """clusters {a,b,c},{d},{e} vs truth {a,b},{c,d},{e}:
    cells (C1,T1)=2,(C1,T2)=1,(C2,T2)=1,(C3,T3)=1 → TP=1, pred=C(3,2)=3,
    true=1+1=2 → FP=2, FN=1, P=1/3, R=1/2, F1=2*1/(3+2)=0.4."""
    assign = spark.createDataFrame(
        [("a", "C1"), ("b", "C1"), ("c", "C1"), ("d", "C2"), ("e", "C3")],
        ["entity_key", "cluster_id"],
    )
    truth = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2), ("d", 2), ("e", 3)],
        ["entity_key", "truth_id"],
    )
    row = E.clustering_metrics(assign, truth).collect()[0]
    assert (row["n_items"], row["n_clusters"], row["n_truths"]) == (5, 3, 3)
    assert (row["tp_pairs"], row["fp_pairs"], row["fn_pairs"]) == (1, 2, 1)
    assert row["pair_precision"] == pytest.approx(1 / 3, abs=1e-6)
    assert row["pair_recall"] == 0.5
    assert row["pair_f1"] == pytest.approx(0.4, abs=1e-6)


def test_blocked_metrics_reconcile_with_pair_level_rederivation(spark):
    """The one-row aggregate must equal a brute-force pair-level
    recomputation from the same blocking + scoring outputs."""
    from textgraphs_spark.operators import scoring as S
    from textgraphs_spark.plans.er_pipeline import blocking_pairs

    ents = E.eval_entities(spark, n_base=30, n_twin=6)
    row = E.blocked_pair_metrics(ents).collect()[0]

    pairs = blocking_pairs(ents.select("entity_key", "surface"))
    scored = S.score_pairs(pairs).toPandas()
    truth = {r["entity_key"]: r["truth_id"] for r in ents.collect()}
    same = scored.apply(
        lambda r: truth[r["left_id"]] == truth[r["right_id"]], axis=1
    )
    n = len(truth)
    import collections

    sizes = collections.Counter(truth.values())
    true_pairs = sum(s * (s - 1) // 2 for s in sizes.values())
    tp = int((same & scored["match"]).sum())
    fp = int((~same & scored["match"]).sum())
    assert row["n_entities"] == n
    assert row["n_candidates"] == len(scored)
    assert row["n_true_pairs"] == true_pairs
    assert row["covered_true_pairs"] == int(same.sum())
    assert (row["tp_pairs"], row["fp_pairs"]) == (tp, fp)
    assert row["fn_pairs"] == true_pairs - tp
    assert row["pair_f1"] == pytest.approx(
        2 * tp / (2 * tp + fp + (true_pairs - tp)), abs=1e-6
    )
    # the labeled corpus is adversarial by design: twins force FPs,
    # reversed forms force FNs — the metrics must be non-degenerate
    assert tp > 0 and fp > 0 and row["fn_pairs"] > 0


def test_eval_entities_deterministic_and_matches_helper(spark):
    """The Spark generator is a pure function of the row index: stable
    under repartitioning and byte-identical to the Python name lists."""
    a = E.eval_entities(spark, n_base=20, n_twin=5)
    b = E.eval_entities(spark, n_base=20, n_twin=5).repartition(7)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    full, initial, varform = E._eval_name_lists(20, 5)
    got = {r["entity_key"]: r["surface"] for r in a.collect()}
    n_true = 25
    for i in [0, 7, 24, 25, 49, 50, 74]:
        t, v = i % n_true, i // n_true
        expect = [full, initial, varform][v][t]
        assert got[f"e{i:05d}"] == expect, (i, t, v)


def test_threshold_sweep_reconciles_with_blocked_metrics(spark):
    """At the pipeline's default threshold the sweep row must reproduce
    blocked_pair_metrics exactly; along the curve TP/FP/recall are
    non-increasing in the threshold (cumulative counting is correct)."""
    from textgraphs_spark.operators.scoring import MIN_SIMILARITY

    ents = E.eval_entities(spark, n_base=40, n_twin=8)
    sweep = {r["threshold"]: r for r in E.score_threshold_sweep(ents).collect()}
    assert MIN_SIMILARITY in sweep
    base = E.blocked_pair_metrics(ents).collect()[0]
    at = sweep[MIN_SIMILARITY]
    for c in ("tp_pairs", "fp_pairs", "fn_pairs", "pair_precision",
              "pair_recall", "pair_f1"):
        assert at[c] == base[c], c
    ordered = [sweep[t] for t in sorted(sweep)]
    for lo, hi in zip(ordered, ordered[1:]):
        assert hi["tp_pairs"] <= lo["tp_pairs"]
        assert hi["fp_pairs"] <= lo["fp_pairs"]
        assert hi["fn_pairs"] >= lo["fn_pairs"]
    # every row accounts for the same true-pair total
    totals = {r["tp_pairs"] + r["fn_pairs"] for r in ordered}
    assert len(totals) == 1


def test_threshold_sweep_brute_force_rederivation(spark):
    """Bucket-then-cumulate must equal the naive per-threshold recount
    from the scored pair list."""
    from textgraphs_spark.operators import scoring as S
    from textgraphs_spark.plans.er_pipeline import blocking_pairs

    ents = E.eval_entities(spark, n_base=30, n_twin=6)
    ths = (0.6, 0.9, 0.97)
    rows = {
        r["threshold"]: r
        for r in E.score_threshold_sweep(ents, thresholds=ths).collect()
    }
    scored = S.score_pairs(
        blocking_pairs(ents.select("entity_key", "surface"))
    ).toPandas()
    truth = {r["entity_key"]: r["truth_id"] for r in ents.collect()}
    same = scored.apply(
        lambda r: truth[r["left_id"]] == truth[r["right_id"]], axis=1
    )
    for t in ths:
        passed = scored["score"] >= t
        assert rows[t]["tp_pairs"] == int((same & passed).sum()), t
        assert rows[t]["fp_pairs"] == int((~same & passed).sum()), t


def test_blocking_stats_hand_fixture(spark):
    """Name channel on a controlled vocabulary: 3 entities sharing
    (last token, first initial) form one 3-block → C(3,2)=3 naive pairs;
    the two loners are singletons. Minhash channel: every entity emits
    exactly `bands`=4 band rows."""
    ents = spark.createDataFrame(
        [
            ("a", "Xavier Quill"), ("b", "Xenia Quill"), ("c", "Xer Quill"),
            ("d", "Maria Stone"), ("e", "Nolan Drift"),
        ],
        ["entity_key", "surface"],
    )
    rows = {r["channel"]: r for r in E.blocking_stats(ents, max_block_size=2).collect()}
    nm = rows["name"]
    assert (nm["n_blocks"], nm["n_rows"], nm["n_entities"]) == (3, 5, 5)
    assert nm["max_members"] == 3
    assert nm["singleton_blocks"] == 2
    assert nm["oversized_blocks"] == 1  # the 3-block > cap 2: salting fires
    assert nm["naive_pairs"] == 3
    mh = rows["minhash"]
    assert mh["n_rows"] == 4 * 5 and mh["n_entities"] == 5


def test_blocking_stats_pair_budget_bounds_candidates(spark):
    """naive_pairs summed across channels upper-bounds the distinct
    candidate pairs the pipeline actually generates (dedup + salting
    only remove pairs)."""
    from textgraphs_spark.plans.er_pipeline import blocking_pairs

    ents = E.eval_entities(spark, n_base=40, n_twin=8)
    stats = E.blocking_stats(ents).collect()
    budget = sum(r["naive_pairs"] for r in stats)
    n_cand = blocking_pairs(ents.select("entity_key", "surface")).count()
    assert 0 < n_cand <= budget


def test_closure_amplifies_blocked_fp(eval_run):
    """Transitive closure can only ADD false-positive pairs relative to
    the per-pair scorer verdicts — the over-merge effect of chaining.
    (Recall is unchanged or better: every scored match survives into the
    closure.)"""
    ents, assignments = eval_run
    blocked = E.blocked_pair_metrics(ents).collect()[0]
    clustered = E.clustering_metrics(
        assignments, ents.select("entity_key", "truth_id")
    ).collect()[0]
    assert clustered["fp_pairs"] >= blocked["fp_pairs"]
    assert clustered["tp_pairs"] >= blocked["tp_pairs"]


def test_bcubed_hand_computed(spark):
    """clusters {a,b,c},{d,e} vs truth {a,b},{c,d},{e}:
    per-record P = (2/3, 2/3, 1/3, 1/2, 1/2) -> mean 0.533333;
    per-record R = (1, 1, 1/2, 1/2, 1) -> mean 0.8."""
    assign = spark.createDataFrame(
        [("a", "C1"), ("b", "C1"), ("c", "C1"), ("d", "C2"), ("e", "C2")],
        ["entity_key", "cluster_id"],
    )
    truth = spark.createDataFrame(
        [("a", "T1"), ("b", "T1"), ("c", "T2"), ("d", "T2"), ("e", "T3")],
        ["entity_key", "truth_id"],
    )
    row = E.bcubed_metrics(assign, truth).collect()[0]
    assert row.n_records == 5
    assert row.bcubed_precision == pytest.approx(8 / 15, abs=1e-6)
    assert row.bcubed_recall == pytest.approx(0.8, abs=1e-6)
    p, r = 8 / 15, 0.8
    assert row.bcubed_f1 == pytest.approx(2 * p * r / (p + r), abs=1e-6)


def test_bcubed_perfect_clustering(spark):
    """Clustering == truth gives P = R = F1 = 1 (incl. singletons)."""
    assign = spark.createDataFrame(
        [("a", "X"), ("b", "X"), ("c", "Y")], ["entity_key", "cluster_id"]
    )
    truth = spark.createDataFrame(
        [("a", "X"), ("b", "X"), ("c", "Y")], ["entity_key", "truth_id"]
    )
    row = E.bcubed_metrics(assign, truth).collect()[0]
    assert (row.bcubed_precision, row.bcubed_recall, row.bcubed_f1) == (1.0, 1.0, 1.0)


def test_cluster_size_histogram_hand_case(spark):
    """Sizes {3, 2, 2, 1}: histogram rows (1,1,1,.125), (2,2,4,.5),
    (3,1,3,.375); shares sum to 1."""
    a = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1), ("d", 2), ("e", 2),
         ("f", 3), ("g", 3), ("h", 4)],
        "entity_key string, cluster_id long",
    )
    rows = E.cluster_size_histogram(a).collect()
    got = {r["n_members"]: (r["n_clusters"], r["n_entities"], r["share"])
           for r in rows}
    assert got == {1: (1, 1, 0.125), 2: (2, 4, 0.5), 3: (1, 3, 0.375)}
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9


def test_score_calibration_reconciles_with_sweep(spark):
    """Bin totals must reconcile with the scored pair list: sum(n_pairs)
    = all candidates, sum(n_true) = covered true pairs; per-bin
    precision is the in-bin true fraction; bins tile [0, 1] with the
    top bin absorbing score 1.0."""
    ents = E.eval_entities(spark, n_base=40, n_twin=8)
    rows = E.score_calibration(ents).collect()
    base = E.blocked_pair_metrics(ents).collect()[0]
    assert sum(r["n_pairs"] for r in rows) == base["n_candidates"]
    assert sum(r["n_true"] for r in rows) == base["covered_true_pairs"]
    for r in rows:
        assert 0.0 <= r["bin_lo"] < r["bin_hi"] <= 1.0
        assert 0 <= r["n_true"] <= r["n_pairs"]
        assert r["precision"] == pytest.approx(r["n_true"] / r["n_pairs"], abs=1e-6)
    # monotone-ish sanity: the top bin must be purer than the bottom bin
    lo, hi = rows[0], rows[-1]
    assert hi["precision"] >= lo["precision"]
