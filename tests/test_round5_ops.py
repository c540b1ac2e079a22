"""Round-5 operator tests: clustering coefficient, degree
assortativity, n-gram containment.

Each pins hand-computable values on tiny synthetic graphs/corpora —
the oracle sweep covers corpus-scale value parity, these cover the
semantics the oracle can't isolate (known-topology coefficients,
subset-dup vs resemblance separation)."""

import pytest
from pyspark.sql import functions as F

from textgraphs_spark.operators.dedup import (
    ngram_containment_pairs, ngram_jaccard_pairs,
)
from textgraphs_spark.operators.graphops import (
    clustering_coefficient, degree_assortativity,
)


def test_clustering_coefficient_known_graph(spark):
    # triangle a-b-c plus pendant d hanging off a:
    #   b, c: deg 2, 1 triangle -> coeff 1.0
    #   a:    deg 3, 1 triangle -> 2*1/(3*2) = 0.333333
    #   d:    deg 1 -> omitted (undefined)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")], "src string, dst string"
    )
    got = {r["node"]: r for r in clustering_coefficient(edges).collect()}
    assert set(got) == {"a", "b", "c"}
    assert got["a"]["deg"] == 3 and got["a"]["triangles"] == 1
    assert got["a"]["coeff"] == 0.333333
    assert got["b"]["coeff"] == 1.0 and got["c"]["coeff"] == 1.0


def test_clustering_coefficient_zero_triangles(spark):
    # path a-b-c: b has deg 2, 0 triangles -> coeff 0.0 (left-join fill)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    got = {r["node"]: r for r in clustering_coefficient(edges).collect()}
    assert set(got) == {"b"}
    assert got["b"]["triangles"] == 0 and got["b"]["coeff"] == 0.0


def test_assortativity_star_is_minus_one(spark):
    # star: every edge joins deg-3 hub to deg-1 leaf -> r = -1 exactly
    edges = spark.createDataFrame(
        [("c", "a"), ("c", "b"), ("c", "d")], "src string, dst string"
    )
    row = degree_assortativity(edges).collect()[0]
    assert row["n_edges"] == 3
    assert row["assortativity"] == -1.0


def test_assortativity_regular_graph_is_null(spark):
    # 4-cycle: all degrees 2, zero variance -> undefined -> NULL
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )
    row = degree_assortativity(edges).collect()[0]
    assert row["n_edges"] == 4
    assert row["assortativity"] is None


def test_containment_finds_subset_dup_jaccard_misses(spark):
    base = "alpha beta gamma delta epsilon zeta"
    long = base + " " + " ".join(f"tok{i} filler{i} pad{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, base, "s"), (2, long, "s"), (3, "unrelated words entirely here", "s")],
        "doc_id long, text string, source string",
    )
    cont = {
        (r["left_id"], r["right_id"]): r["containment"]
        for r in ngram_containment_pairs(
            docs, n=3, threshold=0.9, block_col="source"
        ).collect()
    }
    # every trigram of the short doc appears in the long one
    assert cont == {(1, 2): 1.0}
    # resemblance on the same pair is low: Jaccard misses it at 0.5
    jac = ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, block_col="source"
    ).collect()
    assert all({r["left_id"], r["right_id"]} != {1, 2} for r in jac)


def test_containment_requires_positive_threshold(spark):
    docs = spark.createDataFrame(
        [(1, "a b c", "s")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError):
        ngram_containment_pairs(docs, threshold=0.0)


def test_containment_short_docs_empty_grams(spark):
    # docs shorter than n tokens have EMPTY gram sets (the sequence(1,0)
    # guard) -> no pairs, never a phantom 1.0
    docs = spark.createDataFrame(
        [(1, "ab", "s"), (2, "ab", "s")],
        "doc_id long, text string, source string",
    )
    assert ngram_containment_pairs(docs, n=3, threshold=0.1).count() == 0


def test_ktruss_peels_pendant_triangle(spark):
    # two K4-ish blocks? keep it minimal: K4 on {a,b,c,d} is a 4-truss
    # (every edge closes 2 triangles); a pendant triangle {d,e,f} has
    # edge support 1 everywhere, so k=4 peels it entirely — INCLUDING
    # the shared corner d's spokes
    from textgraphs_spark.operators.graphops import ktruss

    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    pend = [("d", "e"), ("d", "f"), ("e", "f")]
    edges = spark.createDataFrame(k4 + pend, "src string, dst string")
    got = {(r["a"], r["b"]): r["support"] for r in ktruss(edges, k=4).collect()}
    assert set(got) == set(k4)
    assert all(s == 2 for s in got.values())


def test_ktruss_cascading_peel(spark):
    # triangle chain a-b-c, b-c-d, c-d-e: every edge has support 1,
    # so k=4 empties the graph — and the empty frame has the schema
    from textgraphs_spark.operators.graphops import ktruss

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"),
         ("c", "e"), ("d", "e")],
        "src string, dst string",
    )
    out = ktruss(edges, k=4)
    assert out.count() == 0
    assert out.columns == ["a", "b", "support"]
    # k=3 (support >= 1) keeps all 7 edges of the triangle chain
    assert ktruss(edges, k=3).count() == 7


def test_hits_matches_numpy_power_iteration(spark):
    # step-identical 8-round L2-normalized HITS in numpy must agree to
    # the rounded 6 decimals — the pagerank-vs-numpy parity pattern
    import numpy as np

    from textgraphs_spark.operators.pagerank import hits

    edge_list = [("h1", "a1"), ("h1", "a2"), ("h2", "a1"), ("a2", "a1"),
                 ("h2", "x"), ("x", "a2")]
    nodes = sorted({n for e in edge_list for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in edge_list:
        A[idx[s], idx[d]] = 1.0
    hub = np.ones(len(nodes))
    for _ in range(8):
        auth = A.T @ hub
        auth = auth / np.sqrt((auth ** 2).sum())
        hub = A @ auth
        hub = hub / np.sqrt((hub ** 2).sum())
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r["node"]: (r["authority"], r["hub"]) for r in hits(edges).collect()}
    for n in nodes:
        assert got[n][0] == round(float(auth[idx[n]]), 6), n
        assert got[n][1] == round(float(hub[idx[n]]), 6), n
    # structure: a1 is the dominant authority, h1 the dominant hub
    assert got["a1"][0] == max(v[0] for v in got.values())
    assert got["h1"][1] == max(v[1] for v in got.values())


def test_readability_hand_computed(spark):
    from textgraphs_spark.operators.textquality import readability

    docs = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in readability(docs).collect()}
    r1 = got[1]
    assert r1["n_words"] == 6 and r1["n_sentences"] == 2
    assert r1["n_syllables"] == 6          # one vowel group per word
    # 206.835 - 1.015*(6/2) - 84.6*(6/6) = 119.19
    assert r1["flesch"] == 119.19
    assert r1["ttr"] == 0.833333           # 5 distinct / 6
    r2 = got[2]                            # empty text: NULLs, zero counts
    assert r2["n_words"] == 0 and r2["flesch"] is None and r2["ttr"] is None


def test_readability_syllable_floor(spark):
    # a word with no vowels still counts >= 1 syllable ('rhythm' minus
    # its y? use 'zzz'), and multi-group words count their groups
    from textgraphs_spark.operators.textquality import readability

    docs = spark.createDataFrame(
        [(1, "zzz beautiful")], "doc_id long, text string"
    )
    r = readability(docs).collect()[0]
    # zzz -> 1 (floor); beautiful -> eau, i, u -> 3
    assert r["n_syllables"] == 4


def test_bigram_xent_word_salad_scores_high(spark):
    # three docs of the SAME unigram distribution; doc 3 scrambles the
    # adjacencies. Unigram xent cannot separate it; bigram xent must.
    from textgraphs_spark.operators.webdata import (
        bigram_cross_entropy, unigram_cross_entropy,
    )

    normal = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(1, normal), (2, normal), (3, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    uni = {r["doc_id"]: r["xent"] for r in unigram_cross_entropy(docs).collect()}
    bi = {r["doc_id"]: r["xent2"] for r in bigram_cross_entropy(docs).collect()}
    assert uni[3] == uni[1]            # unigram-blind to order
    assert bi[3] > bi[1]               # bigram catches the salad
    assert bi[1] == bi[2]


def test_bigram_xent_short_docs(spark):
    from textgraphs_spark.operators.webdata import bigram_cross_entropy

    docs = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "two words")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bigram_cross_entropy(docs).collect()}
    assert got[1]["n_bigrams"] == 0 and got[1]["xent2"] is None
    assert got[2]["n_bigrams"] == 0 and got[2]["xent2"] is None
    assert got[3]["n_bigrams"] == 1    # its lone bigram: P = 1 -> xent 0
    assert got[3]["xent2"] == 0.0


def test_pack_efficiency_conservation(spark, sf_dir):
    # per-shard invariants of the packing plan: capacity covers tokens,
    # padding < one sequence's worth, and the doc/token totals
    # reconcile with the raw pack output
    import __spark_entry__ as em

    out = em.queries()["pack_efficiency"](spark, sf_dir).collect()
    assert len(out) == 4
    for r in out:
        cap = r["n_seqs"] * 512
        assert 0 <= cap - r["n_tokens"] < 512
        assert 0.0 <= r["padding_frac"] < 512 / cap


def test_span_removal_hand_case(spark):
    """Shared 4-token run 'alpha beta gamma delta' (k=3 grams at two
    starts) disappears from both docs; unique prose survives; the
    untouched doc and the empty doc pass through."""
    from textgraphs_spark.operators.dedup import duplicated_span_removal

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta unique one"),
         (1, "zzz alpha beta gamma delta other words"),
         (2, "totally different text here now"),
         (3, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in duplicated_span_removal(docs).collect()}
    assert got[0]["cleaned"] == "unique one" and got[0]["n_removed"] == 4
    assert got[1]["cleaned"] == "zzz other words"
    assert got[2]["n_removed"] == 0
    assert got[3] == (3, 0, 0, "")


def test_span_removal_intra_doc_repeats_survive(spark):
    """min_docs=2 counts DISTINCT documents: a k-gram repeated twice
    inside one doc but appearing nowhere else is NOT removed."""
    from textgraphs_spark.operators.dedup import duplicated_span_removal

    docs = spark.createDataFrame(
        [(0, "x y z q x y z"), (1, "totally unrelated words here")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in duplicated_span_removal(docs).collect()}
    assert got[0]["n_removed"] == 0
    assert got[0]["cleaned"] == "x y z q x y z"


def test_span_removal_short_docs_untouched(spark):
    """Docs below k tokens produce no grams and survive verbatim, even
    when byte-identical to each other (exact dedup's job, not this)."""
    from textgraphs_spark.operators.dedup import duplicated_span_removal

    docs = spark.createDataFrame(
        [(0, "ab cd"), (1, "ab cd")], "doc_id long, text string")
    rows = duplicated_span_removal(docs, k=3).collect()
    assert all(r["n_removed"] == 0 and r["cleaned"] == "ab cd" for r in rows)


def test_gopher_flags_isolate_each_rule(spark):
    """Seven crafted docs, each violating exactly one Gopher rule, plus
    one clean doc — per-doc flags must pinpoint the single failure."""
    from textgraphs_spark.operators.textquality import gopher_flags

    clean = ("the corpus page of record with words that have value to be used "
             + "data quality filter corpus token mix " * 8).strip()
    docs = [
        ("short", "the tiny little page of nine"),
        ("longwords", "the of " + "extraordinarily incomprehensible " * 30),
        ("symbols", clean + " #" * 10),
        ("bullets", "- the item list of entry records here\n" * 10),
        ("ellipses", ("plain line about the corpus of record\n"
                      "noted line trails away the record of it...\n"
                      "more line drifts beyond the record of it…\n") * 5),
        ("numeric", clean + " 1234567" * 20),
        ("nostop", ("corpus data " + "corpus token filter quality data mix " * 9).strip()),
        ("clean", clean),
    ]
    expect_fail = {
        "short": "word_count", "longwords": "mean_word_len",
        "symbols": "symbol_ratio", "bullets": "bullet_lines",
        "ellipses": "ellipsis_lines", "numeric": "alpha_words",
        "nostop": "stop_words", "clean": None,
    }
    df = spark.createDataFrame(docs, "name string, text string")
    flags = gopher_flags("text")
    rows = df.select("name", *[c.alias(n) for n, c in flags]).collect()
    for r in rows:
        failed = [n for n, _ in flags if r[n] == 0]
        want = expect_fail[r["name"]]
        assert failed == ([want] if want else []), (r["name"], failed)


def test_gopher_census_on_generator(spark):
    """Census totals over gopher_pages(400): each rule's n_fail equals
    the size of its residue class (i % 13 == r), all_rules passes are
    exactly the non-violating residues."""
    from textgraphs_spark.operators.textquality import gopher_census
    from textgraphs_spark.sources.pages import gopher_pages

    n = 400
    res_count = {r: len([i for i in range(n) if i % 13 == r]) for r in range(13)}
    rule_residue = {
        "word_count": 1, "mean_word_len": 2, "symbol_ratio": 3,
        "bullet_lines": 4, "ellipsis_lines": 5, "alpha_words": 6,
        "stop_words": 7,
    }
    got = {r["rule"]: r for r in gopher_census(gopher_pages(spark, n)).collect()}
    assert set(got) == set(rule_residue) | {"all_rules"}
    for rule, res in rule_residue.items():
        assert got[rule]["n_fail"] == res_count[res], rule
        assert got[rule]["n_pass"] == n - res_count[res], rule
    n_bad = sum(res_count[r] for r in rule_residue.values())
    assert got["all_rules"]["n_pass"] == n - n_bad
    assert abs(got["all_rules"]["pass_share"] - (n - n_bad) / n) < 1e-9


def test_c4_line_filter_on_generator(spark):
    """Every C4 gate fires on exactly the residues built to trip it:
    0-kept pages (no terminal punct / short lines), 2-kept pages
    (javascript / policy lines pruned, sentence gate then fails),
    page-gate drops with intact kept lines (lorem kept 5, brace kept 4,
    badword kept 5), and the 3/11 clean residues keep=1."""
    from textgraphs_spark.operators.textquality import c4_line_filter
    from textgraphs_spark.sources.pages import c4_pages

    rows = c4_line_filter(c4_pages(spark, n_pages=440)).collect()
    by_res = {}
    for r in rows:
        by_res.setdefault(r["doc_id"] % 11, []).append(r)
    for res, want_kept, want_keep in [
        (1, 0, 0), (2, 0, 0), (3, 2, 0), (4, 2, 0),
        (5, 5, 0), (6, 4, 0), (7, 5, 0), (8, 2, 0),
        (0, 4, 1), (9, 4, 1), (10, 4, 1),
    ]:
        assert all(r["n_kept"] == want_kept for r in by_res[res]), res
        assert all(r["keep"] == want_keep for r in by_res[res]), res
    # page-gate drops keep their cleaned text (sentences >= 3) — the
    # drop is attributable to the page gate alone
    for res in (5, 6, 7):
        assert all(r["n_sentences"] >= 3 for r in by_res[res])
    # empty cleaned text hashes as md5('') in both engines
    import hashlib
    empty = hashlib.md5(b"").hexdigest()
    assert all(r["clean_md5"] == empty for r in by_res[1])


def test_modularity_two_triangles_bridge(spark):
    """Two triangles joined by a bridge, plus a pendant in its own
    community: hand-computed q_part per community (m=8), including the
    zero-intra-edge community (left-join fill, negative q_part)."""
    from textgraphs_spark.operators.graphops import modularity_by_community

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("d", "e"), ("e", "f"), ("f", "d"),
         ("c", "d"), ("a", "g")],
        "src string, dst string",
    )
    labels = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "x"),
         ("d", "y"), ("e", "y"), ("f", "y"), ("g", "z")],
        "node string, label string",
    )
    got = {r["label"]: r for r in modularity_by_community(edges, labels).collect()}
    assert got["x"]["n_nodes"] == 3 and got["x"]["m_intra"] == 3
    assert got["x"]["d_sum"] == 8          # deg a=3, b=2, c=3
    assert got["x"]["q_part"] == round(3 / 8 - (8 / 16) ** 2, 6)
    assert got["y"]["d_sum"] == 7          # deg d=3, e=2, f=2
    assert got["y"]["q_part"] == round(3 / 8 - (7 / 16) ** 2, 6)
    assert got["z"]["m_intra"] == 0 and got["z"]["d_sum"] == 1
    assert got["z"]["q_part"] == round(-((1 / 16) ** 2), 6)
    # partition quality is the sum of the parts
    q = sum(r["q_part"] for r in got.values())
    assert abs(q - (0.125 + round(3 / 8 - (7 / 16) ** 2, 6) - 0.003906)) < 1e-5


def test_modularity_default_labels_are_label_prop(spark):
    """With labels omitted the operator scores its own label-prop
    partition — every node appears exactly once and q_part sums to a
    finite Q in [-1, 1]."""
    from textgraphs_spark.operators.graphops import (
        label_propagation, modularity_by_community,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"), ("e", "f"),
         ("f", "d"), ("c", "d")],
        "src string, dst string",
    )
    rows = modularity_by_community(edges).collect()
    n_nodes = sum(r["n_nodes"] for r in rows)
    assert n_nodes == 6
    q = sum(r["q_part"] for r in rows)
    assert -1.0 <= q <= 1.0
    # the partition scored is exactly label_propagation's
    labs = label_propagation(edges)
    want_labels = {r["label"] for r in labs.collect()}
    assert {r["label"] for r in rows} == want_labels


def test_source_mixture_weights_upweights_small_sources(spark):
    """alpha=0.5 mixture: a source with 4x the tokens gets only 2x the
    weight (sqrt scaling); weights sum to 1; eff_epochs flags the small
    source as over-sampled (> 1 pass) under a budget equal to the
    corpus size."""
    docs = spark.createDataFrame(
        [(i, "tok " * 400, "big") for i in range(4)]
        + [(100, "tok " * 400, "small")],
        "doc_id long, text string, source string",
    )
    from textgraphs_spark.operators.webdata import source_mixture_weights

    got = {r["source"]: r for r in source_mixture_weights(
        docs, token_budget=2000).collect()}
    assert got["big"]["n_tokens"] == 1600 and got["small"]["n_tokens"] == 400
    # sqrt(1600)=40, sqrt(400)=20 -> weights 2/3 and 1/3
    assert got["big"]["weight"] == round(2 / 3, 6)
    assert got["small"]["weight"] == round(1 / 3, 6)
    assert abs(sum(r["weight"] for r in got.values()) - 1.0) < 1e-5
    # small source: 2000 * 1/3 / 400 = 1.67 epochs -> over-sampled
    assert got["small"]["eff_epochs"] > 1.0
    assert got["big"]["eff_epochs"] < 1.0


def test_k_anonymity_census_hand_computed(spark):
    """Groups of sizes 1, 2, 5 over one QI column: at k=2 only the
    singleton is below; at k=5 the pair joins it; share_below follows
    the ROW mass, not the group count."""
    from textgraphs_spark.operators.pii import k_anonymity_census

    rows = [("a",)] * 1 + [("b",)] * 2 + [("c",)] * 5
    df = spark.createDataFrame(rows, "qi string")
    got = {r["k"]: r for r in k_anonymity_census(df, ["qi"], ks=(2, 5)).collect()}
    assert got[2]["n_groups"] == 3
    assert got[2]["groups_below"] == 1 and got[2]["rows_below"] == 1
    assert got[2]["share_below"] == 0.125
    assert got[5]["groups_below"] == 2 and got[5]["rows_below"] == 3
    assert got[5]["share_below"] == 0.375


def test_contrastive_pairs_labels_and_determinism(spark):
    """Near-identical docs label 1; bucket-colliding low-Jaccard pairs
    label 0 (when the pair hash keeps them); labels never overlap; and
    the mined set is bit-identical across runs (deterministic
    thinning, no RNG)."""
    from textgraphs_spark.operators.webdata import contrastive_pairs

    base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),
            (3, base.replace("quick", "rapid").replace("lazy", "idle")
                 .replace("dog", "cat").replace("fox", "wolf")),
            (4, "completely different text about spark physical plans and shuffles"),
        ],
        "doc_id long, text string",
    )
    r1 = contrastive_pairs(docs, hi=0.6, lo=0.4, neg_keep=1.0).collect()
    r2 = contrastive_pairs(docs, hi=0.6, lo=0.4, neg_keep=1.0).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    by_label = {}
    for r in r1:
        by_label.setdefault(r["label"], []).append((r["left_id"], r["right_id"]))
    assert (1, 2) in by_label.get(1, [])           # near-identical pair
    for lab, pairs in by_label.items():
        other = by_label.get(1 - lab, [])
        assert not set(pairs) & set(other)
    for r in r1:
        assert (r["jaccard"] >= 0.6) if r["label"] == 1 else (r["jaccard"] <= 0.4)


def test_dedup_ablation_channels_and_overlaps(spark):
    """A corpus with byte-exact twins (caught by every channel),
    near-identical docs (minhash+simhash), and unrelated docs: the
    census reports each channel's removals, their overlaps, and the
    deduplicated union."""
    from textgraphs_spark.operators.webdata import dedup_channel_ablation

    base = ("the quick brown fox jumps over the lazy dog beside the "
            "quiet river bank every single morning before dawn arrives")
    docs = spark.createDataFrame(
        [
            (1, base), (2, base),                       # byte-exact pair
            (3, base + " today"),                       # near-dup of 1
            (4, "completely unrelated text about catalyst optimizer rules"
                " and adaptive query execution in distributed engines"),
        ],
        "doc_id long, text string",
    )
    got = {r["channel"]: r["n_removed"]
           for r in dedup_channel_ablation(docs).collect()}
    assert got["exact"] == 1                      # doc 2
    assert got["minhash"] >= 2                    # docs 2 and 3 at least
    assert got["exact_and_minhash"] == 1          # doc 2 in both
    assert got["any"] >= got["minhash"]
    assert got["any"] <= 3                        # doc 4 never removed
    # union counts distinct ids, never double-counts channel overlaps
    assert got["any"] < got["exact"] + got["minhash"] + got.get("simhash", 0) \
        or got["exact_and_minhash"] == 0


def test_dsir_weights_separate_target_from_offtarget(spark):
    """Docs resembling the high-quality target subset score POSITIVE
    importance weights; off-target token salad scores negative; empty
    docs carry NULL (no signal)."""
    from textgraphs_spark.operators.webdata import dsir_importance_weights

    quality = ("the analyst wrote careful notes about the spark plans and "
               "the optimizer rules that shape them in practice for the team")
    docs = spark.createDataFrame(
        [
            (1, quality),
            (2, quality.replace("analyst", "engineer")),
            # off-target salad that FAILS the quality gate (15-char
            # gibberish words -> mean-word-len rule trips -> q = 0.625)
            (3, " ".join("zxq" * 5 for _ in range(10))),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dsir_importance_weights(docs).collect()}
    # absolute sign is smoothing-dependent on tiny corpora (add-one over
    # the full vocabulary depresses every target prob); the ORDERING is
    # the contract: target-like docs far above the off-target salad
    assert got[1]["dsir_weight"] > got[3]["dsir_weight"]
    assert got[2]["dsir_weight"] > got[3]["dsir_weight"]
    assert got[3]["dsir_weight"] < 0          # salad is decisively off-target
    assert got[1]["dsir_weight"] - got[3]["dsir_weight"] > 1.0
    assert got[4]["dsir_weight"] is None and got[4]["n_tokens"] == 0


def test_imatch_collapses_band_filtered_near_dups(spark):
    """Docs differing ONLY in out-of-band terms (a corpus-wide stopword
    or a df=1 rare term) share an I-Match signature; docs differing in
    an in-band term do not; docs with zero retained terms are skipped."""
    from textgraphs_spark.operators.dedup import imatch_duplicates, imatch_signatures

    # 'the' appears in 5/6 docs -> df 5 > floor(0.5*6)=3 -> too common.
    # 'zzyzx' appears once -> df 1 < min_df 2 -> too rare.
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "quick brown fox zzyzx"),        # rare term ignored -> dup of 1
            (3, "the quick brown fox"),          # exact dup of 1
            (4, "the quick brown wolf"),         # in-band diff ('wolf' df=2)
            (5, "quick brown wolf"),             # dup of 4
            (6, "the"),                          # all terms filtered -> skipped
        ],
        "doc_id long, text string",
    )
    sig = imatch_signatures(docs, min_df=2, max_df_frac=0.5)
    assert {r["doc_id"] for r in sig.collect()} == {1, 2, 3, 4, 5}
    groups = {r["keep_id"]: r for r in
              imatch_duplicates(docs, min_df=2, max_df_frac=0.5).collect()}
    assert groups[1]["doc_ids"] == "1|2|3"
    assert groups[4]["doc_ids"] == "4|5"


def test_capture_drift_counts_revision_events(spark):
    """Unchanged consecutive captures are byte-equal (hamming 0, not a
    change); each change-predicate firing is exactly one counted change.
    Hand-computed from chg(u,j) = (u*31 + j*17) % 5 < 2 over 5 captures:
    url 0 changes at j=3 only; url 2 at j=2 and j=4."""
    from textgraphs_spark.operators.webdata import capture_drift
    from textgraphs_spark.sources.pages import capture_pages

    got = {r["url"]: r for r in capture_drift(capture_pages(spark, n_urls=4, n_caps=5)).collect()}
    assert all(r["n_captures"] == 5 for r in got.values())
    u0 = got["https://site0.example.com/page/0"]
    u2 = got["https://site2.example.com/page/2"]
    assert u0["n_changes"] == 1 and u0["change_rate"] == 0.25
    assert u2["n_changes"] == 2 and u2["change_rate"] == 0.5

    # a url whose captures never change: 0 changes, mean hamming 0
    static = spark.createDataFrame(
        [(1, "u", "2024-01-01 00:00:00", "same text body"),
         (2, "u", "2024-01-02 00:00:00", "same text body")],
        "doc_id long, url string, warc_ts string, text string",
    )
    row = capture_drift(static).collect()[0]
    assert row["n_changes"] == 0 and row["change_rate"] == 0.0 and row["mean_hamming"] == 0.0


def test_mirror_hosts_content_channel_and_gates(spark):
    """Hosts sharing content under DIFFERENT urls pair up with the right
    shared counts; the hosts-per-hash cap excludes syndicated
    boilerplate; min_shared excludes one-off coincidences."""
    from textgraphs_spark.operators.webdata import mirror_hosts

    rows = [
        # a.org and b.net mirror docs 1 and 2 (different paths)
        (1, "https://a.org/x/1", "doc one"),
        (2, "https://a.org/x/2", "doc two"),
        (3, "https://b.net/y/1", "doc one"),
        (4, "https://b.net/y/2", "doc two"),
        # c.com shares ONE doc with a.org -> below min_shared=2
        (5, "https://c.com/z", "doc one"),
        # boilerplate snippet on 4 hosts -> excluded by max_hosts_per_hash=3
        (6, "https://a.org/b", "cookie banner"),
        (7, "https://b.net/b", "cookie banner"),
        (8, "https://c.com/b", "cookie banner"),
        (9, "https://d.io/b", "cookie banner"),
    ]
    pages = spark.createDataFrame(rows, "doc_id long, url string, text string")
    got = mirror_hosts(pages, min_shared=2, max_hosts_per_hash=3).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["host_a"], r["host_b"], r["shared"]) == ("a.org", "b.net", 2)
    # overlap = 2 shared / min(3, 3) distinct hashes per host
    assert abs(r["overlap"] - 2 / 3) < 1e-6


def test_token_stats_by_lang_fertility(spark):
    """Per-lang word totals and chars-per-word; zero-word docs count
    toward n_docs but contribute no chars to the fertility ratio."""
    from textgraphs_spark.operators.textquality import token_stats_by_lang

    docs = spark.createDataFrame(
        [(1, "en", "one two three"), (2, "en", "four five"),
         (3, "de", "ein"), (4, "de", "...")],
        "doc_id long, lang string, text string",
    )
    got = {r["lang"]: r for r in token_stats_by_lang(docs).collect()}
    assert got["en"]["n_docs"] == 2 and got["en"]["total_words"] == 5
    assert got["en"]["avg_words_per_doc"] == 2.5
    # chars: 13 + 9 = 22 over 5 words
    assert abs(got["en"]["avg_chars_per_word"] - 22 / 5) < 1e-6
    # the zero-word doc 4: counted in n_docs, excluded from chars
    assert got["de"]["n_docs"] == 2 and got["de"]["total_words"] == 1
    assert got["de"]["avg_chars_per_word"] == 3.0


def test_mirror_farms_transitive_closure(spark):
    """Hosts chained by pairwise mirror overlap close into one farm even
    when the endpoints share nothing directly; disjoint mirror pairs stay
    separate farms; farm_id is the lexicographic min member host."""
    from textgraphs_spark.operators.webdata import mirror_farms

    rows = [
        # chain: a.org <-> b.net on docs 1,2; b.net <-> c.com on docs 3,4
        # (a.org and c.com share NOTHING -> only closure links them)
        (1, "https://a.org/p/1", "doc one"),
        (2, "https://a.org/p/2", "doc two"),
        (3, "https://b.net/q/1", "doc one"),
        (4, "https://b.net/q/2", "doc two"),
        (5, "https://b.net/q/3", "doc three"),
        (6, "https://b.net/q/4", "doc four"),
        (7, "https://c.com/r/3", "doc three"),
        (8, "https://c.com/r/4", "doc four"),
        # a disjoint two-host farm
        (9, "https://x.io/s/1", "other one"),
        (10, "https://x.io/s/2", "other two"),
        (11, "https://y.dev/t/1", "other one"),
        (12, "https://y.dev/t/2", "other two"),
    ]
    pages = spark.createDataFrame(rows, "doc_id long, url string, text string")
    got = {r["farm_id"]: r for r in mirror_farms(pages, min_shared=2).collect()}
    assert set(got) == {"a.org", "x.io"}
    assert got["a.org"]["n_hosts"] == 3
    assert got["a.org"]["hosts"] == "a.org|b.net|c.com"
    assert got["x.io"]["n_hosts"] == 2
    assert got["x.io"]["hosts"] == "x.io|y.dev"


def test_mirror_pages_fixture_four_farms(spark):
    """The synthetic mirror corpus carries exactly four 3-host farm
    universes; content never crosses universes."""
    from textgraphs_spark.operators.webdata import mirror_farms
    from textgraphs_spark.sources.pages import mirror_pages

    got = mirror_farms(mirror_pages(spark)).collect()
    assert len(got) == 4
    assert all(r["n_hosts"] == 3 for r in got)
    # farm_id is the LEXICOGRAPHIC min host: "mirror10.org" < "mirror9.org"
    assert sorted(r["farm_id"] for r in got) == [
        "mirror0.org", "mirror10.org", "mirror3.org", "mirror6.org"
    ]


def test_crawl_delta_new_changed_unchanged(spark):
    """First capture of a url is 'new'; later captures split changed vs
    unchanged by text hash against the SAME url's previous capture."""
    from textgraphs_spark.operators.webdata import crawl_delta

    rows = [
        (1, "u1", "2024-01-01 00:00:00", "body v1"),
        (2, "u2", "2024-01-01 00:00:00", "other v1"),
        (3, "u1", "2024-01-02 00:00:00", "body v2"),      # changed
        (4, "u2", "2024-01-02 00:00:00", "other v1"),     # unchanged
        (5, "u3", "2024-01-02 00:00:00", "brand new"),    # new
    ]
    pages = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts string, text string"
    )
    got = {str(r["snapshot_ts"]): r for r in crawl_delta(pages).collect()}
    d1 = got["2024-01-01 00:00:00"]
    assert (d1["n_urls"], d1["n_new"], d1["n_changed"]) == (2, 2, 0)
    assert d1["change_rate"] is None
    d2 = got["2024-01-02 00:00:00"]
    assert (d2["n_new"], d2["n_changed"], d2["n_unchanged"]) == (1, 1, 1)
    assert d2["change_rate"] == 0.5


def test_crawler_traps_separates_trap_from_organic_hosts(spark):
    """Trap hosts (calendar paths, session-id hex paths) collapse to one
    template so trap_score -> 1; organic word-path hosts keep template
    count == url count so trap_score == 0 and the gate stays False."""
    from textgraphs_spark.operators.webdata import crawler_traps
    from textgraphs_spark.sources.pages import trap_pages

    got = {r["host"]: r for r in crawler_traps(trap_pages(spark, 400)).collect()}
    assert set(got) == {
        "org0.example", "org1.example", "cal.example", "session.example"
    }
    # calendar trap: ?sid stripped + digits collapsed -> ONE template
    cal = got["cal.example"]
    assert cal["n_templates"] == 1 and cal["n_urls"] == 100
    assert cal["is_trap"] and cal["trap_score"] == 0.99
    # session-id trap: 8-hex run collapsed -> ONE template
    ses = got["session.example"]
    assert ses["n_templates"] == 1 and ses["is_trap"]
    # organic hosts: every distinct word path IS its own template
    for h in ("org0.example", "org1.example"):
        assert got[h]["n_templates"] == got[h]["n_urls"]
        assert got[h]["trap_score"] == 0.0 and not got[h]["is_trap"]


def test_crawler_traps_min_urls_evidence_floor(spark):
    """A host with one templated url is NOT flagged — min_urls guards
    against deciding trap-ness on no evidence."""
    from textgraphs_spark.operators.webdata import crawler_traps

    pages = spark.createDataFrame(
        [(1, "https://tiny.example/view/2024")], "doc_id long, url string"
    )
    row = crawler_traps(pages, min_urls=10).collect()[0]
    assert not row["is_trap"] and row["n_urls"] == 1


def test_resolve_redirects_chains_cycles_offcrawl(spark):
    """Chains resolve to their landing url with exact hop counts;
    3-cycles AND pages feeding into them are flagged unresolvable;
    off-crawl targets are terminals reached in one hop."""
    from textgraphs_spark.operators.webdata import resolve_redirects
    from textgraphs_spark.sources.pages import redirect_pages

    got = {r["url"]: r for r in
           resolve_redirects(redirect_pages(spark, 20)).collect()}
    assert len(got) == 120
    # group 3 (g%5=3): chain 0->1->2->3; position 3 lands
    u = lambda g, p: f"https://h{g % 7}.example/r/{g}/{p}"  # noqa: E731
    assert got[u(3, 0)]["final_url"] == u(3, 3) and got[u(3, 0)]["n_hops"] == 3
    assert got[u(3, 2)]["n_hops"] == 1 and not got[u(3, 2)]["is_cycle"]
    assert got[u(3, 3)]["final_url"] == u(3, 3) and got[u(3, 3)]["n_hops"] == 0
    # group 9: 3-cycle members and the feeder are all unresolvable
    for p in (0, 1, 2, 3):
        r = got[u(9, p)]
        assert r["is_cycle"] and r["final_url"] is None and r["n_hops"] is None
    assert not got[u(9, 4)]["is_cycle"]
    # group 4, p5: off-crawl target is the terminal, one hop
    r = got[u(4, 5)]
    assert r["final_url"] == "https://offsite.example/4" and r["n_hops"] == 1


def test_resolve_redirects_max_hops_gate(spark):
    """A chain longer than max_hops is reported unresolvable even if the
    doubling overshoot internally reached its terminal."""
    from textgraphs_spark.operators.webdata import resolve_redirects

    rows = [(f"u{i}", f"u{i+1}" if i < 6 else None) for i in range(7)]
    pages = spark.createDataFrame(rows, "url string, redirect_to string")
    got = {r["url"]: r for r in
           resolve_redirects(pages, max_hops=4).collect()}
    assert got["u0"]["is_cycle"] and got["u0"]["n_hops"] is None
    assert got["u2"]["final_url"] == "u6" and got["u2"]["n_hops"] == 4


def test_soft404_hosts_separates_body_collapse(spark):
    """dead.example answers 70% of urls with one body -> suspect;
    organic hosts stay near 1/n; sparse.example is 100% collapsed but
    below the min_urls evidence floor -> NOT flagged."""
    from textgraphs_spark.operators.webdata import soft404_hosts
    from textgraphs_spark.sources.pages import soft404_pages

    got = {r["host"]: r for r in
           soft404_hosts(soft404_pages(spark, 400)).collect()}
    dead = got["dead.example"]
    assert dead["is_suspect"] and abs(dead["dominant_share"] - 0.7) < 1e-9
    assert got["sparse.example"]["dominant_share"] == 1.0
    assert not got["sparse.example"]["is_suspect"]  # only 3 urls
    for h in ("org0.example", "org1.example", "org2.example"):
        assert not got[h]["is_suspect"]
        assert got[h]["n_texts"] == got[h]["n_urls"]


def test_host_lang_entropy_flags_mt_mix(spark):
    """A single-language host has entropy 0; a uniform 4-language host
    has ln(4) and crosses the mixing gate; the evidence floor keeps
    small hosts unflagged."""
    import math

    from textgraphs_spark.operators.webdata import host_lang_entropy

    rows = (
        [(f"d{i}", "en", "mono.example") for i in range(12)]
        + [(f"m{i}", ["en", "de", "fr", "ja"][i % 4], "farm.example")
           for i in range(12)]
        + [(f"s{i}", ["en", "de"][i % 2], "tiny.example") for i in range(4)]
    )
    docs = spark.createDataFrame(rows, "doc_id string, lang string, source string")
    got = {r["host"]: r for r in
           host_lang_entropy(docs, min_docs=10, max_entropy=1.0).collect()}
    assert got["mono.example"]["lang_entropy"] == 0.0
    assert not got["mono.example"]["is_mixed"]
    assert abs(got["farm.example"]["lang_entropy"] - round(math.log(4), 6)) < 1e-9
    assert got["farm.example"]["is_mixed"]
    assert not got["tiny.example"]["is_mixed"]  # 4 docs < min_docs


def test_crawl_policy_composes_signals(spark):
    """Blocked where either hygiene flag fires (even with zero rank
    signal), boosted only for clean high-rank hosts, and hosts missing
    from a census default to no-signal rather than erroring."""
    from textgraphs_spark.operators.webdata import crawl_policy

    traps = spark.createDataFrame(
        [("cal.example", True), ("org0.example", False)],
        "host string, is_trap boolean",
    )
    soft = spark.createDataFrame(
        [("dead.example", True), ("org0.example", False)],
        "host string, is_suspect boolean",
    )
    ranks = spark.createDataFrame(
        [("org0.example", 0.4), ("quiet.example", 0.01)],
        "host string, rank double",
    )
    got = {r["host"]: r for r in
           crawl_policy(traps, soft, ranks, high_rank=0.1).collect()}
    assert got["cal.example"]["verdict"] == "block"
    assert got["cal.example"]["rank"] == 0.0  # absent from ranks
    assert got["dead.example"]["verdict"] == "block"
    assert not got["dead.example"]["is_trap"]  # absent from traps
    assert got["org0.example"]["verdict"] == "boost"
    assert got["quiet.example"]["verdict"] == "normal"
    assert len(got) == 4


def test_entity_pmi_math_and_gates(spark):
    """PMI is ln(co*N / (df_a*df_b)) over doc-level co-mention; min_co
    prunes one-off pairs; the per-doc cap excludes listy documents."""
    import math

    from textgraphs_spark.operators.extract import entity_pmi

    docs = spark.createDataFrame(
        [
            (1, "the festival visited germany", "en"),
            (2, "the festival visited germany", "en"),
            (3, "the festival continued", "en"),
            (4, "a quiet day", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {(r["key_a"], r["key_b"]): r
           for r in entity_pmi(docs, min_co=2, max_per_doc=10).collect()}
    k = ("festival.NOUN", "germany.NOUN")
    assert k in got
    r = got[k]
    # festival df=3, germany df=2, co=2, N=4
    assert (r["co_docs"], r["df_a"], r["df_b"]) == (2, 3, 2)
    assert abs(r["pmi"] - round(math.log(2 * 4 / (3 * 2)), 6)) < 1e-9
    # 'day' co-occurs with nothing twice -> pruned by min_co
    assert not any("day.NOUN" in key for key in got)


def test_entity_pmi_per_doc_cap_drops_listy_docs(spark):
    """A document whose entity set exceeds max_per_doc contributes no
    pairs at all."""
    from textgraphs_spark.operators.extract import entity_pmi

    listy = "alpha beta gamma delta epsilon zeta"  # 6 nouns
    docs = spark.createDataFrame(
        [(1, listy, "en"), (2, listy, "en")],
        "doc_id long, text string, lang string",
    )
    assert entity_pmi(docs, min_co=2, max_per_doc=5).count() == 0
    assert entity_pmi(docs, min_co=2, max_per_doc=6).count() == 15


def test_bpe_pair_census_counts_occurrences(spark):
    """Pairs are counted over word OCCURRENCES (not distinct words),
    single-char words contribute nothing, and the (n desc, pair asc)
    tie-break is total."""
    from textgraphs_spark.operators.textquality import bpe_pair_census

    docs = spark.createDataFrame(
        [(1, "abab abab"), (2, "ab x")],
        "doc_id long, text string",
    )
    got = [(r["pair"], r["n"]) for r in
           bpe_pair_census(docs, top_k=10).collect()]
    # 'abab' x2 occurrences: ab,ba,ab each -> ab 4/occurrence-pair math:
    # per 'abab': ab(2), ba(1); two occurrences + one 'ab' word
    assert got[0] == ("ab", 5)
    assert ("ba", 2) in got
    assert all(p != "x" for p, _ in got)  # len-1 word excluded
    # tie-break: equal-count pairs sort ascending by pair
    ns = [n for _, n in got]
    assert ns == sorted(ns, reverse=True)


def test_minhash_incremental_restricts_to_new_sides(spark):
    """Incremental mode emits exactly the full-run pairs touching a new
    doc: new-new and new-old pairs survive, old-old pairs are pruned,
    and jaccard values match the full run's."""
    from pyspark.sql import functions as F

    from textgraphs_spark.operators.dedup import minhash_dedup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, False), (2, base, False),              # old-old dup
        (3, base + " tail", True),                        # new, near both
        (4, "completely different content here", True),   # new, no dup
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, is_new boolean")
    full = {(r["left_id"], r["right_id"]): r["jaccard"]
            for r in minhash_dedup_pairs(docs, threshold=0.5).collect()}
    inc = {(r["left_id"], r["right_id"]): r["jaccard"]
           for r in minhash_dedup_pairs(
               docs, threshold=0.5, new_col="is_new").collect()}
    assert (1, 2) in full and (1, 2) not in inc          # old-old pruned
    expected = {k: v for k, v in full.items() if 3 in k or 4 in k}
    assert inc == expected and (1, 3) in inc and (2, 3) in inc


def test_bloom_decontamination_matches_exact_even_saturated(spark):
    """Bloom + exact verify equals the exact operator; with m_bits tiny
    enough that the bitmap saturates (every probe hits), the verify
    stage still kills every false positive — the losslessness contract
    under the worst case."""
    from pyspark.sql import functions as F

    from textgraphs_spark.operators.webdata import (
        contaminated_docs, contaminated_docs_bloom,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta shared one two three four"
          if i % 3 == 0 else f"tok{i} five six seven eight nine ten")
         for i in range(1, 31)],
        "doc_id long, text string",
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    exact = {r["doc_id"]: r for r in contaminated_docs(corpus, ev, n=3).collect()}
    for m_bits in (1 << 16, 64):  # healthy and fully saturated
        got = {r["doc_id"]: r for r in contaminated_docs_bloom(
            corpus, ev, n=3, m_bits=m_bits).collect()}
        assert got.keys() == exact.keys()
        for k in exact:
            assert got[k]["n_matched"] == exact[k]["n_matched"]
            assert got[k]["overlap_frac"] == exact[k]["overlap_frac"]


def test_frontier_schedule_waves_and_gates(spark):
    """Blocked hosts vanish, unknown hosts default to normal, boost
    hosts ship two urls per wave, normal hosts one per wave."""
    from textgraphs_spark.operators.webdata import frontier_schedule

    cands = spark.createDataFrame(
        [(f"https://{h}/p/{i}",) for h in
         ("fast.example", "slow.example", "bad.example", "new.example")
         for i in range(4)],
        "url string",
    )
    pol = spark.createDataFrame(
        [("fast.example", "boost"), ("slow.example", "normal"),
         ("bad.example", "block")],
        "host string, verdict string",
    )
    got = {(r["host"], r["url"]): r["wave"] for r in
           frontier_schedule(cands, pol).collect()}
    hosts = {h for h, _ in got}
    assert "bad.example" not in hosts and "new.example" in hosts
    fast = sorted(v for (h, _), v in got.items() if h == "fast.example")
    slow = sorted(v for (h, _), v in got.items() if h == "slow.example")
    new = sorted(v for (h, _), v in got.items() if h == "new.example")
    assert fast == [1, 1, 2, 2]     # 2x interleave
    assert slow == [1, 2, 3, 4] and new == [1, 2, 3, 4]


def test_bm25_ranks_relevance_and_length_norm(spark):
    """A doc matching both query terms outranks single-term docs; among
    single-term docs the SHORTER one ranks higher (length
    normalization); a no-match query returns nothing."""
    from textgraphs_spark.operators.textquality import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana"),                      # both terms, short
            (2, "apple pear plum cherry fig date"),   # one term, long
            (3, "apple pear"),                        # one term, short
            (4, "kiwi mango"),                        # no terms
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(1, "apple banana"), (2, "zzz")], "q_id long, q_text string"
    )
    got = bm25_topk(docs, q, top_k=5).collect()
    r1 = [r["doc_id"] for r in sorted(
        (r for r in got if r["q_id"] == 1), key=lambda r: r["rk"])]
    assert r1[0] == 1           # both terms win
    assert r1.index(3) < r1.index(2)  # shorter single-term doc ranks higher
    assert 4 not in r1
    assert not [r for r in got if r["q_id"] == 2]


def test_round5_ops_empty_inputs(spark):
    """Every round-5 operator returns an empty, correctly-schema'd
    frame on empty input instead of throwing — the resume/first-batch
    path of a staged pipeline."""
    from textgraphs_spark.operators.webdata import (
        crawl_policy, crawler_traps, frontier_schedule, resolve_redirects,
        soft404_hosts,
    )

    no_urls = spark.createDataFrame([], "doc_id long, url string")
    no_pages = spark.createDataFrame([], "doc_id long, url string, text string")
    no_redirects = spark.createDataFrame([], "url string, redirect_to string")
    no_policy = spark.createDataFrame([], "host string, verdict string")

    assert crawler_traps(no_urls).count() == 0
    assert soft404_hosts(no_pages).count() == 0
    rr = resolve_redirects(no_redirects)
    assert rr.count() == 0 and set(rr.columns) == {
        "url", "final_url", "n_hops", "is_cycle"}
    pol = crawl_policy(
        crawler_traps(no_urls), soft404_hosts(no_pages),
        spark.createDataFrame([], "host string, rank double"),
    )
    assert pol.count() == 0
    assert frontier_schedule(no_urls.select("url"), no_policy).count() == 0


def test_entity_pmi_and_bm25_empty_inputs(spark):
    """Extraction-backed round-5 operators tolerate an empty corpus."""
    from textgraphs_spark.operators.extract import entity_pmi
    from textgraphs_spark.operators.textquality import bm25_topk

    no_docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert entity_pmi(no_docs).count() == 0
    q = spark.createDataFrame([(1, "anything")], "q_id long, q_text string")
    assert bm25_topk(no_docs, q).count() == 0


def test_plan_shards_byte_balance_and_determinism(spark):
    """Shards within a source respect the byte target (every shard but
    the last holds >= target once it closes), indices start at 0, and
    the assignment is a pure function of the table."""
    from textgraphs_spark.operators.webdata import plan_shards

    docs = spark.createDataFrame(
        [(i, "s1" if i < 8 else "s2", 100) for i in range(12)],
        "doc_id long, source string, n_chars long",
    )
    got = {r["doc_id"]: r["shard_idx"] for r in
           plan_shards(docs, target_bytes=300).collect()}
    # s1: cum-exclusive 0,100,200 -> shard 0; 300..500 -> 1; 600,700 -> 2
    assert [got[i] for i in range(8)] == [0, 0, 0, 1, 1, 1, 2, 2]
    # s2 restarts at shard 0
    assert got[8] == 0 and got[11] == 1
    again = {r["doc_id"]: r["shard_idx"] for r in
             plan_shards(docs.repartition(7), target_bytes=300).collect()}
    assert again == got  # partition-layout independent


def test_dsir_resample_gate_semantics(spark):
    """kept is exactly (hash-micro < keep_prob_micro); positive-weight
    docs cap at 10^6 (always kept); token-less docs are dropped."""
    from textgraphs_spark.operators.webdata import dsir_resample

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha beta gamma delta epsilon"),
         (2, "zz qq xx"), (3, "...")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dsir_resample(docs).collect()}
    assert 3 not in got  # token-less: no signal, no sample
    for r in got.values():
        assert 0 <= r["keep_prob_micro"] <= 1_000_000
        if r["keep_prob_micro"] == 1_000_000:
            assert r["kept"]


def test_grouped_cumsum_matches_window(spark):
    """The anti-funnel grouped cumsum is value-identical to the SQL
    window form, including across repartitioning."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from textgraphs_spark.operators.rankops import grouped_cumsum

    df = spark.range(500).select(
        (F.col("id") % 5).alias("g"), F.col("id").alias("o"),
        (F.col("id") % 13 + 1).alias("v"),
    ).repartition(11)
    got = grouped_cumsum(df, "g", [F.asc("o")], "v").orderBy("g", "o")
    w = Window.partitionBy("g").orderBy("o").rowsBetween(
        Window.unboundedPreceding, 0)
    exp = df.withColumn("cum", F.sum("v").over(w).cast("long")).orderBy("g", "o")
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in exp.select(got.columns).collect()]


def test_latest_captures_keeps_newest_per_url(spark):
    """One row per url, carrying the max-timestamp capture; ties break
    deterministically by the remaining columns."""
    import datetime as dt

    from textgraphs_spark.operators.webdata import latest_captures

    t = lambda s: dt.datetime(2024, 1, s)  # noqa: E731
    rows = [
        (1, "https://a/x", t(1), "old"),
        (2, "https://a/x", t(5), "new"),
        (3, "https://b/y", t(2), "only"),
        (4, "https://c/z", t(3), "tie-lo"),
        (5, "https://c/z", t(3), "tie-hi"),  # same ts: doc_id 5 wins
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts timestamp, text string")
    got = {r["url"]: r for r in latest_captures(df).collect()}
    assert len(got) == 3
    assert got["https://a/x"]["text"] == "new"
    assert got["https://c/z"]["doc_id"] == 5
