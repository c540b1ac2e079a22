"""Operator-level tests: dedup, text quality, pagerank, streaming."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from textgraphs_spark.operators import dedup as D
from textgraphs_spark.operators import textquality as TQ


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "a"),
        (1, "the quick brown fox jumps over the lazy dog", "en", "a"),   # exact dup of 0
        (2, "the quick brown fox jumped over the lazy dogs", "en", "a"),  # near dup
        (3, "der schnelle braune fuchs springt und ist nicht mit auf", "de", "b"),
        (4, "el zorro es rapido y salta con la una por los campos", "es", "b"),
        (5, "completely different content about spark query engines", "en", "b"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])


def test_exact_duplicates(docs):
    groups = D.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [0, 1]
    assert groups[0]["keep_id"] == 0


def test_ngram_jaccard(docs):
    pairs = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, block_col="source", threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.3


def test_ngram_jaccard_hot_block_bounded(spark):
    """A hot block (every doc same source) is salted: pairs stay
    O(n * max_block_size), not O(n^2), and cross-shard pairs are the
    explicit pair budget — mirrors the candidate_pairs salting bound."""
    n = 400
    docs = spark.createDataFrame(
        [(i, "hot", f"alpha beta gamma delta {i % 7}") for i in range(n)],
        "doc_id long, source string, text string",
    )
    pairs = D.ngram_jaccard_pairs(
        docs, block_col="source", threshold=0.0, max_block_size=50
    )
    n_pairs = pairs.count()
    assert 0 < n_pairs < 3 * n * 50 / 2, n_pairs  # uncapped would be C(400,2)=79800


def test_ngram_jaccard_inverted_index_matches_all_pairs(spark):
    """The threshold > 0 inverted-index branch must be value-identical
    to the all-pairs array_intersect branch (threshold <= 0 form,
    re-filtered) — same pairs, same 6-decimal jaccard."""
    rng = np.random.default_rng(7)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = [
        (i, f"s{i % 3}", " ".join(rng.choice(vocab, size=rng.integers(3, 12))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    inv = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            docs, block_col="source", n=2, threshold=0.25
        ).collect()
    }
    allp = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            docs, block_col="source", n=2, threshold=0.0
        ).collect()
        if r["jaccard"] >= 0.25
    }
    assert inv == allp and len(inv) > 0


def test_ngram_jaccard_matches_python_reference(spark):
    """Pin the whole operator — tokenizer, gram build, inverted-index
    count — against an independent pure-Python set reference on a corpus
    of edge cases (unicode separators, empties, punctuation-only,
    repeated grams, exact dups)."""
    import re

    texts = [
        "the quick brown fox",                     # plain
        "the quick  brown\tfox",                   # whitespace runs
        "THE QUICK BROWN FOX",                     # case folding
        "the-quick;brown_fox",                     # ascii separators
        "thé qüick brøwn føx",                     # non-ascii = separators
        "",                                        # empty
        "!!! ??? ...",                             # punctuation only
        "fox fox fox fox",                         # repeated gram
        "the quick brown fox",                     # exact dup of doc 0
        "a b a b a b",                             # alternating repeats
    ]
    rows = [(i, "blk", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    def grams(t):
        toks = [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]
        return {" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)}

    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            gi, gj = grams(texts[i]), grams(texts[j])
            uni = len(gi | gj)
            jac = len(gi & gj) / uni if uni else 0.0
            if jac >= 0.3:
                want[(i, j)] = round(jac, 6)
    got = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            df, block_col="source", n=2, threshold=0.3
        ).collect()
    }
    assert got == want and len(want) >= 2, (got, want)


def test_dedup_family_null_and_empty_texts(spark):
    """Web corpora carry NULL and empty text rows; every dedup channel
    must stay crash-free with pinned semantics: NULL-text docs never
    pair (no signal != same), empty docs pair only where exact-dup
    semantics apply (minhash's phantom shingle / exact's hash — both
    oracle-mirrored), and real duplicate pairs still surface."""
    rows = [
        (0, "blk", "the quick brown fox"),
        (1, "blk", None),
        (2, "blk", ""),
        (3, "blk", None),
        (4, "blk", ""),
        (5, "blk", "the quick brown fox"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pair = lambda df: {(r["left_id"], r["right_id"]) for r in df.collect()}
    assert pair(D.ngram_jaccard_pairs(d, block_col="source", threshold=0.2)) == {(0, 5)}
    assert pair(D.minhash_dedup_pairs(d, threshold=0.5)) == {(0, 5), (2, 4)}
    assert pair(D.simhash_near_dup_pairs(d, max_hamming=8)) == {(0, 5)}
    groups = {g["keep_id"]: g["doc_ids"] for g in D.exact_duplicates(d).collect()}
    assert groups == {0: [0, 5], 1: [1, 3], 2: [2, 4]}


def test_minhash_dedup_finds_near_dups(docs):
    pairs = {
        (r["left_id"], r["right_id"])
        for r in D.minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) in pairs
    assert (0, 5) not in pairs


def test_minhash_single_band_skips_prefilter(spark):
    from textgraphs_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog " * 4),
         (2, "the quick brown fox jumps over the lazy dog " * 4),
         (3, "a completely different document about spark plans")],
        "doc_id long, text string",
    )
    out = minhash_dedup_pairs(
        docs, num_hashes=16, bands=1, threshold=0.9
    ).collect()
    assert [(r.left_id, r.right_id) for r in out] == [(1, 2)]


def test_simhash_hamming(docs):
    fps = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert fps[0] == fps[1]
    ham02 = bin(fps[0] ^ fps[2]).count("1")
    ham05 = bin(fps[0] ^ fps[5]).count("1")
    assert ham02 < ham05


def test_simhash_near_dup_pairs(docs):
    pairs = {
        (r["left_id"], r["right_id"]): r["hamming"]
        for r in D.simhash_near_dup_pairs(docs, max_hamming=16).collect()
    }
    assert pairs.get((0, 1)) == 0


def test_lang_id(docs):
    langs = {r["doc_id"]: r["pred_lang"] for r in TQ.lang_id(docs).collect()}
    assert langs[0] == "en"
    assert langs[3] == "de"
    assert langs[4] == "es"


def test_quality_and_tokens(docs):
    q = {r["doc_id"]: r for r in TQ.quality_score(docs).collect()}
    assert 0.0 <= q[0]["quality"] <= 1.0
    t = {r["doc_id"]: r for r in TQ.token_count(docs).collect()}
    assert t[0]["n_words"] == 9


def test_corpus_pagerank_matches_doclevel(spark):
    """Iterative-join PageRank agrees with the in-doc numpy implementation."""
    from textgraphs_spark.doclevel.rank import pagerank as np_pr
    from textgraphs_spark.operators.pagerank import pagerank as df_pr

    edges = [(0, 1, 1.0), (1, 2, 2.0), (2, 0, 1.0), (0, 2, 1.0), (3, 0, 1.0)]
    expected = np_pr(4, edges)
    df = spark.createDataFrame(edges, ["src", "dst", "weight"])
    got = {r["node"]: r["rank"] for r in df_pr(df, max_iter=100).collect()}
    for i in range(4):
        assert abs(got[i] - expected[i]) < 1e-5, (i, got[i], expected[i])


def test_stripe_column_guards():
    """np.percentile NaN/empty semantics are guarded: NaN weights fail
    loudly instead of corrupting every stripe edge."""
    import numpy as np
    import pytest as _pytest

    from textgraphs_spark.doclevel.rank import calc_quantile_bins, stripe_column

    bins = calc_quantile_bins(10)
    assert stripe_column(np.zeros(0), bins).size == 0
    with _pytest.raises(ValueError, match="NaN"):
        stripe_column(np.array([1.0, np.nan]), bins)
    got = stripe_column(np.array([1.0, 2.0, 3.0]), bins)
    assert got.shape == (3,)


def test_xxh64_matches_spark(spark):
    """plans/salt_oracle.xxh64 must be bit-equal to Spark's F.xxhash64
    (seed 42, UTF-8 bytes, signed long) — the salted-blocking oracle
    inlines its values as the shard-assignment sidecar."""
    from textgraphs_spark.plans.salt_oracle import xxh64_str

    samples = ["", "a", "abc", "hello world", "e007", "Alfaab Omega",
               "x" * 31, "y" * 32, "z" * 100, "üñîçødé", "New York"]
    df = spark.createDataFrame([(s,) for s in samples], ["s"]).select(
        "s", F.xxhash64("s").alias("h")
    )
    got = {r["s"]: r["h"] for r in df.collect()}
    for s in samples:
        assert got[s] == xxh64_str(s), s


def test_salted_blocking_budget(spark):
    """The hot block's pair count stays within the per-shard budget:
    no shard exceeds ~2x the cap (pmod imbalance), and cross-shard
    pairs of the hot block are absent."""
    from textgraphs_spark.operators import blocking as B
    from textgraphs_spark.plans.salt_oracle import MAX_BLOCK_SIZE, hot_entities

    ents = spark.createDataFrame(hot_entities(), ["entity_key", "surface"])
    pairs = B.candidate_pairs(B.block_keys(ents), max_block_size=MAX_BLOCK_SIZE)
    hot = pairs.filter(F.col("block_key") == "omega|a").count()
    # unsalted the hot block would emit C(120,2) = 7140 pairs; 5 shards
    # cap it near 5 * C(24,2) = 1380 (pmod imbalance gives some slack)
    assert 0 < hot < 2500, hot


def test_winnow_selection_semantics(spark):
    """Local-min selection: first position always selects, strict <
    collapses identical-gram runs to one fingerprint, docs shorter than
    k tokens and NULL/empty texts produce no rows."""
    from textgraphs_spark.operators.dedup import winnow_fingerprints

    rows = [
        (0, "x " * 30),             # one gram repeated: 1 fingerprint
        (1, "a b c d"),             # < k=5 tokens: none
        (2, None), (3, ""),
        (4, "the quick brown fox jumps over the lazy dog again"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(d).collect():
        got.setdefault(r.doc_id, []).append(r.pos)
    assert got[0] == [1]
    assert 1 not in got and 2 not in got and 3 not in got
    assert got[4] and got[4][0] == 1 and sorted(got[4]) == got[4]


def test_winnow_containment_quotation(spark):
    """A short doc quoted verbatim inside a long doc scores high
    containment (interior fingerprints of the quote re-select inside
    the host; only boundary grams — windows spanning the splice — can
    differ, an inherent property of positional schemes) — the signal
    Jaccard-style channels dilute toward zero as the host grows."""
    from textgraphs_spark.operators.dedup import winnow_near_dup_pairs

    quote = ("we hold these truths to be self evident that all men are "
             "created equal and endowed with certain unalienable rights")
    filler = ("the committee met on tuesday to discuss the quarterly "
              "budget and the agenda covered staffing facilities and the "
              "annual review process for every department in the region ")
    d = spark.createDataFrame(
        [(0, quote), (1, filler * 3 + quote + filler)],
        "doc_id long, text string",
    )
    pairs = winnow_near_dup_pairs(d, min_shared=1, max_df=10).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.left_id, p.right_id) == (0, 1) and p.containment >= 0.7


def test_winnow_max_df_cuts_boilerplate(spark):
    """A license line shared by every doc must not pair them once its
    fingerprints exceed max_df; genuinely shared prose still pairs."""
    from textgraphs_spark.operators.dedup import winnow_near_dup_pairs

    boiler = "all rights reserved see the license file for details "
    rows = [(i, boiler + f"unique filler number {i} " * 4) for i in range(6)]
    rows += [(10, "shared private prose about winnowing fingerprints here"),
             (11, "shared private prose about winnowing fingerprints here")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.left_id, r.right_id)
        for r in winnow_near_dup_pairs(d, min_shared=1, max_df=3).collect()
    }
    assert got == {(10, 11)}


def test_personalized_pagerank_semantics(spark):
    """Walk-with-restart invariants: total mass conserved at 1 (dangling
    restarts at seeds), seed-side mass dominates on a symmetric barbell,
    and nodes unreachable from the seeds score exactly 0."""
    from textgraphs_spark.operators.pagerank import personalized_pagerank

    # two triangles bridged at 3-4, plus an isolated directed pair 20->21
    # unreachable from the left triangle
    tri1 = [(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)]
    tri2 = [(4, 5), (5, 6), (6, 4), (5, 4), (6, 5), (4, 6)]
    rows = tri1 + tri2 + [(3, 4), (4, 3), (20, 21)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    pr = {r.node: r.rank for r in
          personalized_pagerank(edges, seeds, weight=None).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert pr[1] == max(pr.values())
    left, right = pr[1] + pr[2] + pr[3], pr[4] + pr[5] + pr[6]
    assert left > right > 0
    assert pr[20] == 0.0 and pr[21] == 0.0


def test_personalized_pagerank_all_seeds_is_uniform_pagerank(spark):
    """With every node in the seed set the restart distribution is
    uniform, so PPR must reproduce plain PageRank to float precision."""
    from pyspark.sql import functions as F

    from textgraphs_spark.operators.pagerank import (
        pagerank, personalized_pagerank,
    )

    rows = [(1, 2, 2.0), (2, 3, 1.0), (3, 1, 1.0), (1, 3, 1.0), (4, 1, 1.0)]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "node long")
    a = {r.node: r.rank for r in pagerank(edges).collect()}
    b = {r.node: r.rank for r in personalized_pagerank(edges, nodes).collect()}
    assert set(a) == set(b)
    assert all(abs(a[n] - b[n]) < 1e-9 for n in a)


def test_personalized_pagerank_rejects_absent_seeds(spark):
    import pytest

    from textgraphs_spark.operators.pagerank import personalized_pagerank

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(99,)], "node long")
    with pytest.raises(ValueError, match="seed"):
        personalized_pagerank(edges, seeds, weight=None)
