"""ER evaluation & post-clustering operators (plans/er_eval): hand-computed
metric fixtures, survivorship tie-breaks, cohesion flags, and determinism
of the RNG-free labeled corpus."""

import pytest
from pyspark.sql import functions as F

from textgraphs_spark.plans import er_eval as E
from textgraphs_spark.plans.er_pipeline import ERPipeline


@pytest.fixture(scope="module")
def eval_run(spark):
    ents = E.eval_entities(spark, n_base=40, n_twin=8)
    parts = ERPipeline(spark).run_lean(
        None,
        entities=ents.select(
            "entity_key", "surface", "label", "mention_count", "doc_freq"
        ),
        return_parts=True,
    )
    return ents, parts


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
    scored = S.score_pairs(pairs, lean=True).toPandas()
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


def test_golden_records_canonical_and_tiebreak(spark):
    """Canonical member = max mention_count; ties break to the MIN
    entity_key; alternates are the remaining distinct surfaces sorted."""
    assign = spark.createDataFrame(
        [
            ("k2", "C1", "Beta", 5, 2),
            ("k1", "C1", "Alpha", 5, 1),   # tie on count → k1 wins (min key)
            ("k3", "C1", "Gamma", 1, 1),
            ("k9", "C2", "Solo", 7, 3),
        ],
        ["entity_key", "cluster_id", "surface", "mention_count", "doc_freq"],
    )
    rows = {r["cluster_id"]: r for r in E.golden_records(assign).collect()}
    c1 = rows["C1"]
    assert c1["canonical_key"] == "k1"
    assert c1["canonical_surface"] == "Alpha"
    assert c1["n_forms"] == 3
    assert c1["n_mentions"] == 11
    assert c1["total_doc_freq"] == 4
    assert c1["alt_surfaces"] == "Beta|Gamma"
    c2 = rows["C2"]
    assert c2["canonical_key"] == "k9" and c2["alt_surfaces"] == ""


def test_cluster_cohesion_hand_computed(spark):
    """Chain of 5 with 4 edges → density 0.4 (weak); triangle-with-tail
    of 3 with 3 edges → density 1.0; singletons excluded."""
    assign = spark.createDataFrame(
        [(k, "A") for k in "abcde"]
        + [(k, "B") for k in "xyz"]
        + [("solo", "S")],
        ["entity_key", "cluster_id"],
    )
    edges = spark.createDataFrame(
        [("a", "b", 0.95), ("b", "c", 0.93), ("c", "d", 0.91), ("d", "e", 0.92),
         ("x", "y", 0.99), ("y", "z", 0.98), ("x", "z", 0.97)],
        ["left_id", "right_id", "score"],
    )
    rows = {r["cluster_id"]: r for r in E.cluster_cohesion(assign, edges).collect()}
    assert set(rows) == {"A", "B"}  # singleton S excluded
    a = rows["A"]
    assert (a["n_members"], a["n_edges"]) == (5, 4)
    assert a["density"] == pytest.approx(0.4, abs=1e-6)
    assert a["min_match_score"] == pytest.approx(0.91, abs=1e-6)
    assert a["is_weak"]
    b = rows["B"]
    assert b["density"] == 1.0 and not b["is_weak"]
    assert b["min_match_score"] == pytest.approx(0.97, abs=1e-6)


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
        blocking_pairs(ents.select("entity_key", "surface")), lean=True
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
    the per-pair scorer verdicts — the over-merge effect the cohesion
    operator audits. (Recall is unchanged or better: every scored match
    survives into the closure.)"""
    ents, parts = eval_run
    blocked = E.blocked_pair_metrics(ents).collect()[0]
    clustered = E.clustering_metrics(
        parts["assignments"], ents.select("entity_key", "truth_id")
    ).collect()[0]
    assert clustered["fp_pairs"] >= blocked["fp_pairs"]
    assert clustered["tp_pairs"] >= blocked["tp_pairs"]


def test_run_lean_return_parts_consistent(eval_run, spark):
    """return_parts exposes the SAME assignments the plain path returns,
    and every exposed match edge scores >= the decision threshold."""
    ents, parts = eval_run
    plain = ERPipeline(spark).run_lean(
        None,
        entities=ents.select(
            "entity_key", "surface", "label", "mention_count", "doc_freq"
        ),
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, parts["assignments"].collect())
    )
    from textgraphs_spark.operators.scoring import MIN_SIMILARITY

    bad = parts["match_scores"].filter(F.col("score") < MIN_SIMILARITY).count()
    assert bad == 0

    # weak clusters exist in the adversarial corpus and every weak flag
    # reflects its density
    coh = E.cluster_cohesion(parts["assignments"], parts["match_scores"]).toPandas()
    assert len(coh) > 0
    assert ((coh["density"] < 0.5) == coh["is_weak"]).all()


# ---------------------------------------------------------------------------
# over-merge split
# ---------------------------------------------------------------------------


def test_split_overmerged_nests_and_rederives(eval_run, spark):
    """Strict subclusters nest inside loose clusters (member counts
    reconcile), splitting only appears for clusters holding a strict
    edge gap, and a brute-force union-find over the strict edges
    rederives the same census."""
    ents, parts = eval_run
    out = E.split_overmerged(
        parts["assignments"], parts["match_scores"], strict_similarity=0.95
    ).collect()
    sizes = {
        r.cluster_id: r.n_members
        for r in parts["assignments"].groupBy("cluster_id").count()
        .withColumnRenamed("count", "n_members").collect()
    }
    for r in out:
        assert r.n_members == sizes[r.cluster_id]
        assert 1 <= r.largest_subcluster <= r.n_members
        assert r.is_split == (r.n_subclusters > 1)
        assert r.n_subclusters <= r.n_members

    # brute-force union-find rederivation on the driver
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = parts["match_scores"].filter(F.col("score") >= 0.95).collect()
    for e in edges:
        parent[find(e.left_id)] = find(e.right_id)
    assign = parts["assignments"].collect()
    from collections import defaultdict

    subs = defaultdict(set)
    members = defaultdict(int)
    for a in assign:
        subs[a.cluster_id].add(find(a.entity_key))
        members[a.cluster_id] += 1
    expect = {
        c: len(s) for c, s in subs.items() if members[c] >= 2
    }
    assert {r.cluster_id: r.n_subclusters for r in out} == expect


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


def test_clustering_agreement_hand_computed(spark):
    """A = {a,b,c},{d,e} vs B = {a,b},{c},{d,e}: cells n_ij = 2,1,2 →
    index = 1+0+1 = 2; EA = 3+1 = 4, EB = 1+0+1 = 2, C(5,2) = 10 →
    exp = 0.8, max = 3 → ARI = (2-0.8)/(3-0.8) = 6/11."""
    a = spark.createDataFrame(
        [("a", "A1"), ("b", "A1"), ("c", "A1"), ("d", "A2"), ("e", "A2")],
        ["entity_key", "cluster_id"],
    )
    b = spark.createDataFrame(
        [("a", "B1"), ("b", "B1"), ("c", "B2"), ("d", "B3"), ("e", "B3")],
        ["entity_key", "cluster_id"],
    )
    row = E.clustering_agreement(a, b).collect()[0]
    assert row.n_records == 5
    assert row.ari == pytest.approx(6 / 11, abs=1e-6)
    # sklearn-checked NMI for this fixture (sqrt normalization)
    import math

    n = 5
    h_a = -(3 / n) * math.log(3 / n) - (2 / n) * math.log(2 / n)
    h_b = (
        -(2 / n) * math.log(2 / n)
        - (1 / n) * math.log(1 / n)
        - (2 / n) * math.log(2 / n)
    )
    mi = (
        (2 / n) * math.log(n * 2 / (3 * 2))
        + (1 / n) * math.log(n * 1 / (3 * 1))
        + (2 / n) * math.log(n * 2 / (2 * 2))
    )
    assert row.nmi == pytest.approx(mi / math.sqrt(h_a * h_b), abs=1e-6)


def test_clustering_agreement_identity_and_symmetry(eval_run, spark):
    """Self-agreement is exactly 1/1; the metric is symmetric in its
    two arguments (ARI and NMI both are)."""
    _, parts = eval_run
    a = parts["assignments"].select("entity_key", "cluster_id")
    b = (
        a.select("entity_key")
        .join(E.strict_subclusters(parts["match_scores"]), "entity_key", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("entity_key")))
    )
    self_row = E.clustering_agreement(a, a).collect()[0]
    assert (self_row.ari, self_row.nmi) == (1.0, 1.0)
    ab = E.clustering_agreement(a, b).collect()[0]
    ba = E.clustering_agreement(b, a).collect()[0]
    assert (ab.ari, ab.nmi) == (ba.ari, ba.nmi)
    # strict refines loose -> positive but imperfect agreement
    assert 0.0 < ab.ari < 1.0


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


def test_star_clusters_chain_split(spark):
    """Path e1-e2-e3-e4: closure merges all four; star elects e2
    (degree-2, lowest key) as the only center — e3 loses the degree tie
    to e2 and e4's only neighbor is the non-center e3, so star yields
    {e1,e2,e3} + {e4}: the chain is split exactly where no direct match
    exists to a center."""
    ents = spark.createDataFrame(
        [("e1",), ("e2",), ("e3",), ("e4",)], "entity_key string"
    )
    edges = spark.createDataFrame(
        [("e1", "e2", 0.95), ("e2", "e3", 0.95), ("e3", "e4", 0.95)],
        "left_id string, right_id string, score double",
    )
    got = {r["entity_key"]: r["cluster_id"]
           for r in E.star_clusters(ents, edges).collect()}
    assert got == {"e1": "e2", "e2": "e2", "e3": "e2", "e4": "e4"}


def test_star_clusters_best_score_attach(spark):
    """A satellite adjacent to two centers joins the higher-scoring one;
    on an exact score tie it takes the min center key. s has centers c1
    (score .92) and c2 (score .99) -> joins c2."""
    ents = spark.createDataFrame(
        [("c1",), ("c2",), ("s",), ("x1",), ("x2",)], "entity_key string"
    )
    # c1 and c2 each have degree 2 (one pendant + s); s has degree 2 too
    # but loses the tie on key order to c1/c2? No: keys c1 < c2 < s, so
    # c1 beats s and x1; c2 beats s and x2; s loses to both -> satellite.
    edges = spark.createDataFrame(
        [("c1", "s", 0.92), ("c2", "s", 0.99),
         ("c1", "x1", 0.91), ("c2", "x2", 0.91)],
        "left_id string, right_id string, score double",
    )
    got = {r["entity_key"]: r["cluster_id"]
           for r in E.star_clusters(ents, edges).collect()}
    assert got["s"] == "c2"
    assert got["x1"] == "c1" and got["x2"] == "c2"
    assert got["c1"] == "c1" and got["c2"] == "c2"


def test_star_vs_closure_eval_corpus(spark):
    """On the labeled corpus: star is a refinement of closure (every
    match edge lies inside a closure component, so star clusters are
    subsets of closure clusters) -> star precision >= closure precision,
    star tp_pairs <= closure tp_pairs, star has >= as many clusters;
    every entity is assigned exactly once; the run is deterministic."""
    from textgraphs_spark.plans.er_pipeline import ERPipeline

    ents = E.eval_entities(spark)
    parts = ERPipeline(spark).run_lean(
        None,
        entities=ents.select(
            "entity_key", "surface", "label", "mention_count", "doc_freq"),
        return_parts=True,
    )
    sa = E.star_clusters(ents, parts["match_scores"])
    assert sa.count() == ents.count()
    assert sa.select("entity_key").distinct().count() == ents.count()
    rows = {r["method"]: r for r in E.star_vs_closure(ents, parts).collect()}
    cc, st = rows["closure"], rows["star"]
    assert st["pair_precision"] >= cc["pair_precision"]
    assert st["tp_pairs"] <= cc["tp_pairs"]
    assert st["n_clusters"] >= cc["n_clusters"]
    assert st["n_items"] == cc["n_items"] == ents.count()
    rows2 = {r["method"]: r for r in E.star_vs_closure(ents, parts).collect()}
    assert sorted(map(tuple, rows.values())) == sorted(map(tuple, rows2.values()))
