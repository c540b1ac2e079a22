"""Round-5 property tests: randomized (seeded, deterministic) checks of
the cross-engine expression contracts and the algebraic invariants the
fixtures can't cover exhaustively.

Batch style, not per-example hypothesis: each case ships ONE random
corpus through Spark and DuckDB and compares wholesale — a JVM round
trip per example would be minutes per test."""

import random

import duckdb
import pytest
from pyspark.sql import functions as F


def _rand_words(rng, n, alpha="abcdefghijklmnopqrstuvwxyz"):
    return [
        "".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))
        for _ in range(n)
    ]


def test_suffix_explode_parity_fuzz(spark):
    # the suffix-key generator (Spark IF/sequence/substring vs DuckDB
    # range/slice) must emit the identical suffix MULTISET per key,
    # including the empty set below min_len
    rng = random.Random(5_002)
    keys = sorted(set(_rand_words(rng, 200)) | {"", "abc", "abcd", "abcde"})
    ml = 4
    sdf = spark.createDataFrame([(k,) for k in keys], "k string").select(
        "k",
        F.explode(
            F.expr(
                f"IF(length(k) >= {ml},"
                f" transform(sequence(1, length(k) - {ml} + 1), i -> substring(k, i)),"
                f" cast(array() as array<string>))"
            )
        ).alias("s"),
    )
    got_spark = sorted((r["k"], r["s"]) for r in sdf.collect())
    vals = ", ".join(f"('{k}')" for k in keys)
    got_duck = sorted(duckdb.sql(
        f"""SELECT k, k[i:] FROM (VALUES {vals}) v(k),
            unnest(range(1, greatest(length(k) - {ml} + 1, 0) + 1)) AS u(i)"""
    ).fetchall())
    assert got_spark == got_duck


def test_containment_dominates_jaccard(spark):
    # algebraic invariant: containment >= jaccard on every pair (the
    # min denominator can only shrink), checked on a random corpus with
    # heavy shared vocabulary so pairs actually surface
    from textgraphs_spark.operators.dedup import (
        ngram_containment_pairs, ngram_jaccard_pairs,
    )

    rng = random.Random(5_003)
    vocab = _rand_words(rng, 30)
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 40))), "s")
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    jac = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, n=2, threshold=0.05).collect()
    }
    cont = {
        (r["left_id"], r["right_id"]): r["containment"]
        for r in ngram_containment_pairs(df, n=2, threshold=0.05).collect()
    }
    assert jac, "fuzz corpus produced no candidate pairs"
    for pair, j in jac.items():
        assert pair in cont and cont[pair] >= j - 1e-9, pair


def test_ktruss_inside_kcore(spark):
    # theorem: every node of the k-truss belongs to the (k-1)-core —
    # checked on a random graph dense enough to have a 4-truss
    from textgraphs_spark.operators.graphops import kcore, ktruss

    rng = random.Random(5_004)
    nodes = [f"n{i}" for i in range(18)]
    edges = sorted({
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(90)
    })
    df = spark.createDataFrame(edges, "src string, dst string")
    k = 4
    truss = ktruss(df, k=k)
    truss_nodes = {r["a"] for r in truss.collect()} | {
        r["b"] for r in truss.collect()
    }
    assert truss_nodes, "fuzz graph had no 4-truss; densify the sample"
    core_nodes = {r["node"] for r in kcore(df, k=k - 1).collect()}
    assert truss_nodes <= core_nodes
    # and every surviving edge meets the support bar
    assert all(r["support"] >= k - 2 for r in truss.collect())


def test_hits_scale_invariance(spark):
    # L2 normalization makes HITS invariant to duplicated edge input
    # (the operator dedups) and the output unit-norm up to rounding
    from textgraphs_spark.operators.pagerank import hits

    rng = random.Random(5_005)
    nodes = [f"n{i}" for i in range(12)]
    base = sorted({
        (a, b) for a, b in (rng.sample(nodes, 2) for _ in range(40))
    })
    once = spark.createDataFrame(base, "src string, dst string")
    twice = spark.createDataFrame(base + base, "src string, dst string")
    r1 = {r["node"]: (r["authority"], r["hub"]) for r in hits(once).collect()}
    r2 = {r["node"]: (r["authority"], r["hub"]) for r in hits(twice).collect()}
    assert r1 == r2
    s = sum(a * a for a, _ in r1.values())
    assert s == pytest.approx(1.0, abs=1e-4)


def test_concentration_matches_numpy_fuzz(spark):
    """Gini / HHI / top-shares recomputed directly in numpy from three
    seeded random count multisets (skewed, uniform-ish, heavy-head) —
    the closed forms must agree to the rounding."""
    import numpy as np

    from textgraphs_spark.operators.corpusstats import concentration_metrics

    rng = random.Random(5_101)
    shapes = [
        [rng.randint(1, 50) for _ in range(80)],
        [7] * 40,
        [1] * 60 + [500, 900],
    ]
    for ci, counts in enumerate(shapes):
        df = spark.createDataFrame(
            [(f"k{i:04d}", c) for i, c in enumerate(counts)], "k string, w long"
        )
        r = concentration_metrics(df, key_col="k", weight_col="w").collect()[0]
        x = np.sort(np.array(counts, dtype=np.int64))
        n, tot = len(x), x.sum()
        gini = (2 * (np.arange(1, n + 1) * x).sum() - (n + 1) * tot) / (n * tot)
        hhi = (x.astype(np.float64) ** 2).sum() / float(tot) ** 2
        assert r["n_keys"] == n and r["total"] == tot, ci
        assert r["gini"] == pytest.approx(gini, abs=1.1e-6), ci
        assert r["hhi"] == pytest.approx(hhi, abs=1.1e-6), ci
        assert r["top1_share"] == pytest.approx(x[-1] / tot, abs=1.1e-6), ci
        assert r["topk_share"] == pytest.approx(
            x[-10:].sum() / tot if n >= 10 else 1.0, abs=1.1e-6
        ), ci
        assert 0.0 <= r["gini"] < 1.0


def test_zipf_matches_numpy_polyfit_fuzz(spark):
    """OLS slope/intercept vs numpy.polyfit on the identical
    (ln rank, ln freq) points from a seeded random corpus."""
    import numpy as np

    from textgraphs_spark.operators.corpusstats import zipf_fit

    rng = random.Random(5_102)
    vocab = _rand_words(rng, 60)
    words = []
    for i, w in enumerate(sorted(set(vocab))):
        words += [w] * rng.randint(1, 200)
    rng.shuffle(words)
    df = spark.createDataFrame([(" ".join(words),)], "text string")
    r = zipf_fit(df).collect()[0]
    from collections import Counter

    freqs = sorted(Counter(words).values(), reverse=True)
    x = np.log(np.arange(1, len(freqs) + 1, dtype=np.float64))
    y = np.log(np.array(freqs, dtype=np.float64))
    slope, intercept = np.polyfit(x, y, 1)
    assert r["n_vocab"] == len(freqs) and r["n_tokens"] == len(words)
    assert r["slope"] == pytest.approx(slope, abs=1e-5)
    assert r["intercept"] == pytest.approx(intercept, abs=1e-5)


def test_span_removal_oracle_parity_fuzz(spark):
    """Random template-flood corpus (shared spans spliced into random
    prose) through the Spark transform AND the DuckDB twin — cleaned
    text must match byte-for-byte, including all-boilerplate docs."""
    from textgraphs_spark.operators.dedup import (
        duplicated_span_removal, span_removal_oracle_sql,
    )

    rng = random.Random(5_103)
    template = _rand_words(rng, 6)
    docs = []
    for i in range(40):
        words = _rand_words(rng, rng.randint(0, 12))
        if i % 3 == 0:
            at = rng.randint(0, len(words))
            words = words[:at] + template + words[at:]
        if i % 7 == 0:
            words = list(template)
        docs.append((i, " ".join(words)))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(map(tuple, duplicated_span_removal(sdf).collect()))
    con = duckdb.connect()
    con.register("documents", sdf.toPandas())
    want = sorted(map(tuple, con.sql(span_removal_oracle_sql()).fetchall()))
    assert got == want
