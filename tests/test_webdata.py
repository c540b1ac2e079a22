"""Corpus-curation operator tests: repetition signals, boilerplate
n-gram mining, benchmark decontamination, minhash cluster closure."""

import pytest
from pyspark.sql import functions as F

from textgraphs_spark.operators import webdata as W


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # "a a a b": 4 words / 2 distinct; bigrams (a a)x2 (a b);
        # trigrams (a a a) (a a b)
        (0, "a a a b"),
        (1, "x"),                              # sub-bigram doc: fractions 0.0
        (2, ""),                               # empty doc: all zeros
        (3, "alpha beta gamma delta epsilon"),  # all-distinct, flat grams
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_repetition_signals_known_values(docs):
    out = {r["doc_id"]: r for r in W.repetition_signals(docs).collect()}
    assert len(out) == 4  # sub-bigram docs still present via the left join
    r0 = out[0]
    assert r0["n_words"] == 4
    assert r0["dup_word_frac"] == 0.5
    assert r0["top_bigram_frac"] == round(2 / 3, 6)
    assert r0["top_trigram_frac"] == 0.5
    assert out[1]["n_words"] == 1
    assert out[1]["dup_word_frac"] == 0.0
    assert out[1]["top_bigram_frac"] == 0.0
    assert out[2]["n_words"] == 0
    assert out[2]["dup_word_frac"] == 0.0
    r3 = out[3]
    assert r3["dup_word_frac"] == 0.0
    assert r3["top_bigram_frac"] == 0.25  # 4 distinct bigrams, each once


def test_boilerplate_ngrams_planted(spark):
    # "cookie policy accepted" planted in 4 docs, once twice
    base = "cookie policy accepted"
    rows = [(i, f"unique{i} words here {base}") for i in range(4)]
    rows.append((9, f"no shared trigrams in this document at all {base} {base}"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["gram"]: r for r in W.boilerplate_ngrams(docs, n=3, min_df=5).collect()}
    # only the planted gram clears min_df (the shared "words here cookie"
    # context trigrams reach df=4; per-doc-unique prefixes df=1)
    assert set(out) == {base}
    assert out[base]["df"] == 5
    assert out[base]["n_occurrences"] == 6  # doc 9 contributes two occurrences


def test_contaminated_docs_planted(spark):
    ev = spark.createDataFrame(
        [(100, "the exact benchmark answer string here")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (0, "prefix words the exact benchmark answer string here suffix"),
            (1, "entirely unrelated corpus document with different words"),
            # shares every WORD with the eval doc but no 4-gram — word
            # overlap alone must not flag contamination
            (2, "answer string here exact benchmark the"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in W.contaminated_docs(corpus, ev, n=4).collect()}
    assert 0 in out and 1 not in out
    # doc 0 contains the eval text verbatim: all 3 eval 4-grams match
    assert out[0]["n_matched"] == 3
    assert out[0]["n_grams"] == 6  # 9 words -> 6 distinct 4-grams
    assert out[0]["overlap_frac"] == 0.5
    assert 2 not in out  # word overlap without any shared 4-gram


def test_curation_decisions_every_gate(spark):
    """One doc per ladder rung + a keeper; reasons are the FIRST failing
    gate, so e.g. the low-quality doc must still be English (the lang
    gate sits above quality) and the repetitive doc must clear quality."""
    dup_base = (
        "the quick brown fox jumps over the lazy dog with many more words "
        "to comfortably pass every single quality gate in the ladder"
    )
    rows = [
        (0, dup_base + " first"),   # canonical member of the near-dup pair
        (1, dup_base + " second"),  # near_dup (non-canonical)
        (2, "der schnelle braune fuchs springt und ist nicht mit auf dem feld"),  # lang
        (3, "the x y z!!!!!!!!!!!!!!!!"),  # English but junk -> low_quality
        (4, "the spam spam spam spam spam spam spam spam spam spam spam"),  # repetitive
        (5, "the quiet analyst wrote careful notes about spark plans with time for review"),  # keep
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in W.curation_decisions(docs, threshold=0.5).collect()
    }
    assert len(out) == 6  # every document gets exactly one verdict
    assert out[0]["reason"] == "keep" and out[0]["keep"]
    assert out[1]["reason"] == "near_dup"
    assert out[2]["reason"] == "lang"
    assert out[3]["reason"] == "low_quality"
    assert out[4]["reason"] == "repetitive"
    assert out[5]["reason"] == "keep" and out[5]["keep"]
    assert all((r["reason"] == "keep") == r["keep"] for r in out.values())


def test_minhash_clusters_match_pairs_closure(spark):
    # near-dup chain 0~1~2 (transitive cluster) + pair 10~11 + singleton
    t = (
        "large identical shingle body shared across the documents in this "
        "cluster with only tiny differences at the very end"
    )
    rows = [
        (0, t + " zero"),
        (1, t + " one"),
        (2, t + " two"),
        (10, "another repeated near duplicate family with its own long body text ten"),
        (11, "another repeated near duplicate family with its own long body text eleven"),
        (20, "completely unrelated content that matches nothing else at all"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(threshold=0.5)
    clusters = {
        r["keep_id"]: r for r in W.minhash_dedup_clusters(docs, **kw).collect()
    }
    # closure must equal union-find over the pair generator's output
    from textgraphs_spark.operators.dedup import minhash_dedup_pairs

    pairs = [
        (r["left_id"], r["right_id"])
        for r in minhash_dedup_pairs(docs, **kw).collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for n in parent:
        expected.setdefault(find(n), []).append(n)
    assert set(clusters) == set(expected)
    for keep, members in expected.items():
        assert clusters[keep]["n_docs"] == len(members)
        assert clusters[keep]["doc_ids"] == "|".join(map(str, sorted(members)))
    # and the planted chain actually formed a 3-cluster (guards against
    # the pair generator silently finding nothing)
    assert clusters[0]["n_docs"] == 3
    assert 20 not in {m for ms in expected.values() for m in ms}


def test_canonical_url_cases(spark):
    """Hand-picked canonicalization cases: fragment, scheme, www,
    trailing slash, tracking params, kept-param sorting, bare domain."""
    from textgraphs_spark.operators.webdata import canonical_url_col

    cases = [
        ("https://www.example.com/a/b/?utm_source=x&b=2&a=1#frag",
         "example.com/a/b?a=1&b=2"),
        ("http://example.com/a/b?a=1&b=2", "example.com/a/b?a=1&b=2"),
        ("https://example.com/", "example.com"),
        ("example.com/path", "example.com/path"),          # already bare
        ("https://example.com/p?utm_campaign=z&ref=home&gclid=1&fbclid=2",
         "example.com/p"),                                  # tracking-only
        ("https://sub.www.example.com/p", "sub.www.example.com/p"),  # only LEADING www.
        ("https://example.com/refuge?reference=1", "example.com/refuge?reference=1"),
        # ^ 'ref' must match the whole param NAME, not a prefix
    ]
    df = spark.createDataFrame(cases, ["url", "want"])
    out = df.select("url", "want", canonical_url_col().alias("got")).collect()
    for r in out:
        assert r["got"] == r["want"], f"{r['url']}: {r['got']} != {r['want']}"


def test_url_dedup_clusters_collapse(spark):
    """Every url_pages group's 3 surface variants collapse to one
    canonical cluster; keep_id is the earliest crawl."""
    from textgraphs_spark.operators.webdata import url_dedup_clusters
    from textgraphs_spark.sources.pages import url_pages

    out = {r["canonical_url"]: r for r in url_dedup_clusters(url_pages(spark)).collect()}
    assert len(out) == 120
    assert all(r["n_urls"] == 3 for r in out.values())
    r = out["example1.com/articles/1?a=1&b=2"]
    assert r["keep_id"] == 1 and r["doc_ids"] == "1|121|241"
    r0 = out["example0.com/articles/0"]
    assert r0["keep_id"] == 0 and r0["doc_ids"] == "0|120|240"


def test_webdata_null_and_empty_text_pinned(spark):
    """Dirty web rows must not crash and their semantics are pinned:
    NULL text is NO SIGNAL (n_words NULL, zero fractions, no grams);
    empty text measures zero. Both are dropped by the curation ladder
    at the lang gate ('und' is outside langs)."""
    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "the real document with plenty of english "
                                 "words to pass every quality gate for sure")],
        "doc_id long, text string",
    )
    rep = {r["doc_id"]: r for r in W.repetition_signals(docs).collect()}
    assert rep[0]["n_words"] is None and rep[0]["dup_word_frac"] == 0.0
    assert rep[1]["n_words"] == 0 and rep[1]["top_bigram_frac"] == 0.0
    assert W.boilerplate_ngrams(docs, n=3, min_df=2).count() == 0
    ev = spark.createDataFrame([(9, "plenty of english words")], ["doc_id", "text"])
    contam = W.contaminated_docs(docs, ev, n=4).collect()
    assert [r["doc_id"] for r in contam] == [2]
    cur = {r["doc_id"]: r for r in W.curation_decisions(docs, threshold=0.5).collect()}
    assert len(cur) == 3  # NULL/empty rows still get exactly one verdict
    assert cur[0]["reason"] == "lang" and not cur[0]["keep"]
    assert cur[1]["reason"] == "lang" and not cur[1]["keep"]
    assert cur[2]["reason"] == "keep" and cur[2]["keep"]


def test_contaminated_docs_broadcasts_eval_side(spark):
    """The eval-gram side must broadcast (BHJ) — a sort-merge join here
    would shuffle the full corpus gram stream at 100 TB."""
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared words here") for i in range(50)],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(0, "some shared words here")], ["doc_id", "text"])
    out = W.contaminated_docs(docs, ev, n=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_source_curation_rollup_counts(spark):
    """Per-source counts must reconcile exactly with the per-doc
    verdicts, and keep_rate is n_keep/n_docs."""
    texts = {
        "keep": "the quiet analyst wrote careful notes about spark plans with time for review",
        "lang": "der schnelle braune fuchs springt und ist nicht mit auf dem feld",
        "rep": "the spam spam spam spam spam spam spam spam spam spam spam",
    }
    rows = [
        (0, texts["keep"], "good.example"),
        (1, texts["keep"] + " again today", "good.example"),
        (2, texts["lang"], "good.example"),
        (3, texts["rep"], "spammy.example"),
        (4, texts["rep"] + " more", "spammy.example"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in W.source_curation_rollup(docs, threshold=0.99).collect()}
    g = out["good.example"]
    assert g["n_docs"] == 3 and g["n_keep"] == 2 and g["n_lang"] == 1
    assert g["keep_rate"] == round(2 / 3, 6)
    s = out["spammy.example"]
    assert s["n_docs"] == 2 and s["n_keep"] == 0 and s["n_repetitive"] == 2
    assert s["keep_rate"] == 0.0


def test_deterministic_sample_stable_across_partitioning(spark):
    """The sample is a pure function of the id: identical member set
    under different partition layouts (DataFrame.sample is not), and
    the rate lands near the requested fraction."""
    docs = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in W.deterministic_sample(docs.repartition(1), 0.2).collect()}
    b = {r["doc_id"] for r in W.deterministic_sample(docs.repartition(13), 0.2).collect()}
    assert a == b
    assert 0.15 < len(a) / 2000 < 0.25
    with pytest.raises(ValueError):
        W.deterministic_sample(docs, 1.5)


def test_lehmer_hash_matches_duckdb(spark):
    """The Spark mixer and its SQL twin must agree value-for-value —
    the contract every sampling/cap oracle rests on."""
    import duckdb

    from textgraphs_spark.operators.lehmer import det_hash, det_hash_sql

    # full signed-64 range incl. xxhash64-style huge/negative ids (the
    # submit tool hashes urls) — the mixer must not ANSI-overflow
    ids = [0, 1, 2, 48271, 2147483646, 123_456_789_012, 10**12,
           2**63 - 1, -(2**63), -1, -2147483648]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select("doc_id", det_hash(F.col("doc_id")).alias("h")).collect()
    }
    vals = ", ".join(f"({i})" for i in ids)
    want = dict(duckdb.sql(
        f"SELECT doc_id, {det_hash_sql('doc_id')} AS h FROM (VALUES {vals}) t(doc_id)"
    ).fetchall())
    assert got == want


def test_per_source_cap_exact(spark):
    """Exact cap: min(cap, n) rows per source, deterministic keeps,
    and WindowGroupLimit pushes the rank below the shuffle."""
    rows = [(i, "hot" if i < 100 else "cold", "t") for i in range(110)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = W.per_source_cap(docs, 15).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(per["hot"]) == 15      # capped
    assert len(per["cold"]) == 10     # below cap: all kept
    again = {r["doc_id"] for r in W.per_source_cap(docs, 15).collect()}
    assert again == per["hot"] | per["cold"]
    plan = W.per_source_cap(docs, 15)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_per_source_cap_threshold_approximates(spark):
    """Threshold twin: sources at-or-under the cap keep everything;
    hot sources land near the cap (binomial jitter, no window)."""
    rows = [(i, "hot" if i < 1000 else "cold", "t") for i in range(1040)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = W.per_source_cap_threshold(docs, 50).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], []).append(r["doc_id"])
    assert len(per["cold"]) == 40                 # n <= cap: frac = 1
    assert 25 <= len(per["hot"]) <= 85            # ~50 expected
    plan = W.per_source_cap_threshold(docs, 50)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan                   # that's the point


def test_cross_doc_repetition_planted(spark):
    """Hand-computed cross-corpus duplication: shared trigram runs are
    flagged, unique docs score 0, short/NULL docs emit no-signal rows."""
    shared = "the quick brown fox"             # 2 trigrams, in docs 0+1
    rows = [
        (0, shared + " runs"),                 # 3 grams, 2 shared
        (1, shared),                           # 2 grams, both shared
        (2, "entirely different words here"),  # 2 grams, unique
        (3, "too short"),                      # < 3 tokens
        (4, None),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in W.cross_doc_repetition(docs).collect()}
    assert len(out) == 5
    assert (out[0]["n_grams"], out[0]["n_dup_grams"]) == (3, 2)
    assert abs(out[0]["dup_frac"] - round(2 / 3, 6)) < 1e-9
    assert (out[1]["n_grams"], out[1]["n_dup_grams"]) == (2, 2)
    assert out[1]["dup_frac"] == 1.0
    assert (out[2]["n_dup_grams"], out[2]["dup_frac"]) == (0, 0.0)
    for d in (3, 4):
        assert out[d]["n_grams"] == 0 and out[d]["dup_frac"] is None
    # a doc REPEATING its own trigram does not self-duplicate (df is
    # distinct-doc based), but each occurrence counts once flagged
    solo = spark.createDataFrame(
        [(0, "a b c x a b c"), (1, "a b c y")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in W.cross_doc_repetition(solo).collect()}
    assert got[0]["n_dup_grams"] == 2              # both 'a b c' occurrences


def test_remove_boilerplate_lines_planted(spark):
    """Known corpus: the >= min_df threshold is exact, order is
    preserved, empty lines and NULL text survive untouched."""
    boiler = "all rights reserved"
    rows = [
        (0, f"{boiler}\nunique zero\nfooter a"),
        (1, f"unique one\n{boiler}\nfooter a"),
        (2, f"{boiler}\n\nunique two\nfooter a"),
        (3, "unique three\nfooter b"),          # 'footer b' df=1: kept
        (4, None),                               # NULL text -> ''
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in W.remove_boilerplate_lines(docs, min_df=3).collect()}
    assert len(out) == 5                         # every doc appears once
    # boiler df=3 (removed), 'footer a' df=3 (removed), 'footer b' df=1
    assert out[0]["clean_text"] == "unique zero"
    assert out[1]["clean_text"] == "unique one"
    assert out[2]["clean_text"] == "\nunique two"     # empty line survives
    assert out[3]["clean_text"] == "unique three\nfooter b"
    assert out[4]["clean_text"] == "" and out[4]["n_lines"] == 1
    assert out[0]["n_lines"] == 3 and out[0]["n_removed"] == 2
    assert out[2]["n_removed"] == 2
    # order preservation with an interior removal
    docs2 = spark.createDataFrame(
        [(i, f"first {i}\n{boiler}\nlast {i}") for i in range(3)],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["clean_text"]
           for r in W.remove_boilerplate_lines(docs2, min_df=3).collect()}
    assert got == {i: f"first {i}\nlast {i}" for i in range(3)}


def test_stratified_sample_deterministic_and_defaulted(spark):
    """Pure function of (id, stratum): stable under repartitioning;
    strata outside the map (incl. NULL) take the default fraction."""
    rows = [(i, ["en", "de", "zh", None][i % 4]) for i in range(400)]
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    frac = {"en": 1.0, "de": 0.3}
    a = {tuple(r) for r in W.stratified_sample(docs, frac).collect()}
    b = {tuple(r) for r in W.stratified_sample(docs.repartition(13), frac).collect()}
    assert a == b and a                          # partitioning-invariant
    langs = {}
    for _, lang, _ in a:
        langs[lang] = langs.get(lang, 0) + 1
    assert langs.get("en") == 100                # fraction 1.0 keeps all
    assert 10 <= langs.get("de", 0) <= 55        # ~30 of 100
    assert "zh" not in langs and None not in langs   # default 0 drops
    # non-zero default keeps unmapped strata
    c = W.stratified_sample(docs, frac, default_fraction=1.0).collect()
    got_langs = {r["lang"] for r in c}
    assert "zh" in got_langs and None in got_langs


def test_round4_operator_plan_shapes(spark):
    """Physical-plan contracts for the round-4 operators:
    stratified_sample is MAP-ONLY (no Exchange — the fraction table is
    folded literals, never a join); remove_boilerplate_lines carries no
    Window, no per-row Python, and no cartesian product."""
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", "a\nb") for i in range(10)],
        ["doc_id", "lang", "text"],
    )
    s_plan = W.stratified_sample(docs, {"en": 0.5})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in s_plan
    assert "BatchEvalPython" not in s_plan and "ArrowEval" not in s_plan
    b_plan = W.remove_boilerplate_lines(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in b_plan
    assert "CartesianProduct" not in b_plan
    assert "BatchEvalPython" not in b_plan and "ArrowEval" not in b_plan


def test_per_source_cap_twins_agree_on_null_source(spark):
    """Dirty-data contract: both twins treat NULL sources as ONE group
    (the exact form via window partitioning, the threshold form via a
    null-safe join), so swapping twins never drops NULL-source rows."""
    rows = [(i, None if i % 3 == 0 else "s", "t") for i in range(60)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    exact = W.per_source_cap(docs, 5).collect()
    null_exact = [r for r in exact if r["source"] is None]
    assert len(null_exact) == 5            # NULLs capped, not dropped
    # threshold twin with frac=1 (cap >= group size) keeps EVERY row,
    # NULL sources included — identical keep-set to the exact twin there
    thr = W.per_source_cap_threshold(docs, 100).collect()
    assert {r["doc_id"] for r in thr} == set(range(60))
    # and with a binding cap, NULL-source rows still survive as a group
    thr_capped = W.per_source_cap_threshold(docs, 5).collect()
    assert any(r["source"] is None for r in thr_capped)


def test_unigram_cross_entropy_known_values(spark):
    """Hand-computed xent on a 3-doc corpus + no-signal rows for
    NULL/empty text (same discipline as repetition_signals)."""
    import math

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a b c"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    # corpus counts: a=3, b=2, c=1, total=6
    out = {r["doc_id"]: r for r in W.unigram_cross_entropy(docs).collect()}
    assert len(out) == 4
    pa, pb, pc = 3 / 6, 2 / 6, 1 / 6
    want0 = round(-(2 * math.log(pa) + math.log(pb)) / 3, 6)
    want1 = round(-(math.log(pa) + math.log(pb) + math.log(pc)) / 3, 6)
    assert out[0]["n_tokens"] == 3 and abs(out[0]["xent"] - want0) < 1e-9
    assert out[1]["n_tokens"] == 3 and abs(out[1]["xent"] - want1) < 1e-9
    assert out[1]["xent"] > out[0]["xent"]  # rarer tokens -> higher surprisal
    assert out[2]["n_tokens"] is None and out[2]["xent"] is None
    assert out[3]["n_tokens"] == 0 and out[3]["xent"] is None


def test_canonical_url_spark_duckdb_fuzz_parity(spark):
    """Engine-parity fuzz over a much wider URL space than url_pages:
    the Spark column and the shared DuckDB SQL twin must canonicalize
    every generated URL identically (the contract the url_dedup oracle
    rests on). Seeded generator — deterministic corpus."""
    import random

    import duckdb

    from textgraphs_spark.operators.webdata import (
        canonical_url_col, canonical_url_select,
    )

    rng = random.Random(20260817)
    hosts = ["example.com", "www.example.com", "a.b.co", "www.w.org", "x.io"]
    paths = ["", "/", "/p", "/p/", "/a/b/c", "/a//b/", "/p.html", "/%7Euser"]
    params = ["a=1", "b=2", "z=", "utm_source=x", "utm_campaign=longvalue",
              "ref=home", "reference=1", "fbclid=abc", "gclid=", "q=a+b",
              "utm_x=1", "refx=2", "a=1"]  # dup param on purpose
    frags = ["", "#", "#frag", "#a#b", "#?notquery"]
    schemes = ["https://", "http://", "", "HTTPS://"]  # case NOT stripped — pinned

    urls = []
    for i in range(500):
        u = (rng.choice(schemes) + rng.choice(hosts) + rng.choice(paths))
        ps = rng.sample(params, rng.randint(0, 5))
        if ps or rng.random() < 0.2:
            u += "?" + "&".join(ps)        # possibly a bare trailing '?'
        u += rng.choice(frags)
        urls.append((i, u))

    df = spark.createDataFrame(urls, "doc_id long, url string")
    got = {r["doc_id"]: r["c"] for r in
           df.select("doc_id", canonical_url_col().alias("c")).collect()}
    vals = ", ".join(
        "(%d, '%s')" % (i, u.replace("'", "''")) for i, u in urls
    )
    sql = canonical_url_select(f"SELECT * FROM (VALUES {vals}) t(doc_id, url)")
    want = dict(duckdb.sql(sql).fetchall())
    assert got == want


def test_text_signals_fuzz_parity(spark):
    """Engine-parity fuzz for the per-doc signal family: run the SAME
    oracle SQL the driver uses (repetition / lang / quality) over a
    seeded random corpus registered as the documents view, and compare
    against the Spark operators value-for-value. Broadens coverage far
    beyond the fixed testdata distribution (stopword mixes from all four
    languages, punctuation runs, digits, case, empty docs)."""
    import random

    import duckdb

    import __spark_entry__ as em
    from textgraphs_spark.operators.textquality import lang_id, quality_score

    rng = random.Random(20260818)
    vocab = (
        ["the", "and", "of", "to", "is", "der", "die", "und", "el", "la",
         "que", "le", "les", "est", "spam", "data", "x1", "42", "a", "b"]
        + [f"w{i}" for i in range(30)]
    )
    punct = ["", "!", "...", "!!", ". Next Sentence.", ", comma;", "???"]
    rows = []
    for i in range(300):
        words = rng.choices(vocab, k=rng.randint(0, 40))
        if rng.random() < 0.3:
            words = [w.upper() if rng.random() < 0.5 else w.title() for w in words]
        rows.append((i, " ".join(words) + rng.choice(punct)))
    rows.append((300, ""))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    vals = ", ".join("(%d, '%s')" % (i, t.replace("'", "''")) for i, t in rows)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM (VALUES {vals}) t(doc_id, text)")
    oracles = em.oracle_sql()

    checks = [
        (W.repetition_signals(docs), "doc_repetition_signals"),
        (W.cross_doc_repetition(docs), "cross_doc_repetition"),
        (lang_id(docs), "lang_id"),
        (quality_score(docs), "quality_score"),
    ]
    import math

    def _norm(t):
        # pandas promotes NULL-carrying integer oracle columns to float
        # (0 -> 0.0, NULL -> nan); canonicalize both engines' rows
        return tuple(
            None if v is None or (isinstance(v, float) and math.isnan(v))
            else round(float(v), 9) if isinstance(v, (int, float))
            else v
            for v in t
        )

    for sdf, oname in checks:
        cols = sdf.columns
        got = {r["doc_id"]: _norm(tuple(r[c] for c in cols if c != "doc_id"))
               for r in sdf.collect()}
        odf = con.execute(oracles[oname]).df()
        want = {int(r["doc_id"]): _norm(tuple(r[c] for c in cols if c != "doc_id"))
                for _, r in odf.iterrows()}
        assert len(got) == len(rows)
        for d in got:
            assert got[d] == pytest.approx(want[d], abs=1e-9), (oname, d, got[d], want[d])


def test_boilerplate_and_stratified_fuzz_parity(spark):
    """Engine-parity fuzz for the round-4 curation actions: random
    multi-line corpora (shared template lines, unique lines, empty
    lines, unicode, quotes, NULL text) through
    ``remove_boilerplate_lines`` vs the shared DuckDB twin, and random
    strata/fractions through ``stratified_sample`` vs its twin."""
    import random

    import duckdb

    from textgraphs_spark.operators.webdata import (
        boilerplate_removal_select, stratified_sample_select,
    )

    rng = random.Random(20260818)
    pool = ["subscribe now", "all rights reserved", "útf lïne ©",
            "it's a 'quoted' line", "   indented   "]
    rows = []
    for i in range(220):
        n = rng.randint(0, 6)
        lines = []
        for _ in range(n):
            r = rng.random()
            if r < 0.5:
                lines.append(rng.choice(pool))
            elif r < 0.85:
                lines.append(f"unique {i} {rng.randint(0, 9)}")
            else:
                lines.append("")
        text = "\n".join(lines)
        if rng.random() < 0.05:
            text = None
        rows.append((i, text))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_removed"])
        for r in W.remove_boilerplate_lines(docs, min_df=4).collect()
    }
    con = duckdb.connect()
    vals = ", ".join(
        "(%d, %s)" % (i, "NULL" if t is None else "'" + t.replace("'", "''") + "'")
        for i, t in rows
    )
    src = f"SELECT * FROM (VALUES {vals}) t(doc_id, text)"
    want = {
        int(r[0]): (r[1], int(r[2]), int(r[3]))
        for r in con.execute(boilerplate_removal_select(src, min_df=4)).fetchall()
    }
    assert got == want and len(got) == len(rows)
    assert any(v[2] > 0 for v in got.values())      # removal actually fired

    strata_rows = [(i, rng.choice(["en", "de", "zh", "fr"])) for i in range(300)]
    frac = {"en": 0.63, "de": 0.17, "zh": 0.0}
    sdocs = spark.createDataFrame(strata_rows, "doc_id long, lang string")
    got_s = {
        tuple(r) for r in W.stratified_sample(
            sdocs, frac, default_fraction=0.4
        ).collect()
    }
    svals = ", ".join("(%d, '%s')" % r for r in strata_rows)
    # BIGINT ids like the production schema — the Lehmer mixer is 64-bit
    want_s = {
        (int(a), b, int(c))
        for a, b, c in con.execute(stratified_sample_select(
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, lang "
            f"FROM (VALUES {svals}) t(doc_id, lang)",
            frac, default_fraction=0.4,
        )).fetchall()
    }
    assert got_s == want_s and got_s
    assert any(b == "fr" for _, b, _ in got_s)       # default fraction fired


def test_url_dedup_null_urls_never_pair(spark):
    """NULL urls carry no signal and must not form a dedup cluster
    (dedup-family contract)."""
    from textgraphs_spark.operators.webdata import url_dedup_clusters

    df = spark.createDataFrame(
        [(0, None), (1, None), (2, "https://a.io/x"), (3, "http://a.io/x")],
        "doc_id long, url string",
    )
    out = {r["canonical_url"]: r for r in url_dedup_clusters(df).collect()}
    assert set(out) == {"a.io/x"}
    assert out["a.io/x"]["doc_ids"] == "2|3"


def test_pack_sequences_known_spans(spark):
    """Hand-computed concat-and-chunk spans in one shard, including a
    doc straddling a sequence boundary; NULL text carries no signal and
    does not shift its neighbors."""
    rows = [
        (0, "a b c"),          # start 0  -> seq 0, offset 0
        (1, None),             # no signal; start of doc 2 unaffected
        (2, " ".join(["w"] * 4)),  # start 3 -> seq 0 offset 3, spans into seq 1
        (3, ""),               # zero tokens: start 7 -> seq 1 offset 2
        (4, "x y"),            # start 7 -> seq 1, offset 2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in W.pack_sequences(docs, 5, n_shards=1).collect()}
    assert (out[0]["seq_id"], out[0]["offset"], out[0]["n_tokens"]) == (0, 0, 3)
    assert out[1]["n_tokens"] is None and out[1]["seq_id"] is None
    assert (out[2]["seq_id"], out[2]["offset"]) == (0, 3)
    assert (out[3]["seq_id"], out[3]["offset"]) == (1, 2)
    assert (out[4]["seq_id"], out[4]["offset"]) == (1, 2)
    with pytest.raises(ValueError, match="seq_len"):
        W.pack_sequences(docs, 0)


def test_pack_sequences_contiguity_and_shard_stability(spark):
    """Within each shard (ordered by id) every doc starts exactly where
    the previous one ended — no gaps, no overlaps — and the packing is
    identical under a different partition layout."""
    docs = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.lit("tok"), (F.col("id") % 7 + 1).cast("int"))).alias("text"),
    )
    out = W.pack_sequences(docs, 16, n_shards=4).collect()
    by_shard = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        start = r["seq_id"] * 16 + r["offset"]
        prev = by_shard.get(r["shard"], 0)
        assert start == prev, (r["shard"], r["doc_id"])
        by_shard[r["shard"]] = prev + r["n_tokens"]
    assert len(by_shard) == 4
    again = {(r["doc_id"], r["seq_id"], r["offset"])
             for r in W.pack_sequences(docs.repartition(13), 16, n_shards=4).collect()}
    assert again == {(r["doc_id"], r["seq_id"], r["offset"]) for r in out}


def test_dedup_paragraphs_keep_first_semantics(spark):
    """Keep-FIRST: the (doc_id, pos)-earliest occurrence of a repeated
    paragraph survives, all later exact repeats drop; empty paragraphs
    always survive; in-doc repeats also dedup (first stays)."""
    rows = [
        (0, "alpha one\nshared block\nalpha two"),
        (1, "shared block\nbeta one\n\nshared block"),
        (2, "gamma\nshared block"),
        (3, ""),
        (4, None),
        (5, "delta\ndelta\ndelta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in W.dedup_paragraphs(docs).collect()}
    assert got[0]["clean_text"] == "alpha one\nshared block\nalpha two"
    assert got[0]["n_removed"] == 0
    # doc 1 loses BOTH copies (winner lives in doc 0); empty line survives
    assert got[1]["clean_text"] == "beta one\n"
    assert got[1]["n_removed"] == 2
    assert got[2]["clean_text"] == "gamma" and got[2]["n_removed"] == 1
    assert got[3]["clean_text"] == "" and got[3]["n_paras"] == 1
    assert got[4]["clean_text"] == "" and got[4]["n_removed"] == 0
    assert got[5]["clean_text"] == "delta" and got[5]["n_removed"] == 2


def test_dedup_paragraphs_fuzz_parity(spark):
    """Engine-parity fuzz: random multi-line corpora (repeated pool
    paragraphs, unique lines, empties, unicode, quotes, NULL text)
    through dedup_paragraphs vs the shared DuckDB twin — the same SQL
    the driver oracle applies."""
    import random

    import duckdb

    from textgraphs_spark.operators.webdata import dedup_paragraphs_select

    rng = random.Random(20260818)
    pool = ["shared para", "útf ¶ lïne ©", "it's a 'quoted' para",
            "   indented   ", "tail  spaces  "]
    rows = []
    for i in range(220):
        lines = []
        for _ in range(rng.randint(0, 6)):
            r = rng.random()
            if r < 0.45:
                lines.append(rng.choice(pool))
            elif r < 0.85:
                lines.append(f"unique {i} {rng.randint(0, 9)}")
            else:
                lines.append("")
        text = "\n".join(lines)
        if rng.random() < 0.05:
            text = None
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_paras"], r["n_removed"])
        for r in W.dedup_paragraphs(docs).collect()
    }
    con = duckdb.connect()
    vals = ", ".join(
        "(%d, %s)" % (i, "NULL" if t is None else "'" + t.replace("'", "''") + "'")
        for i, t in rows
    )
    src = ("SELECT CAST(doc_id AS BIGINT) AS doc_id, text "
           f"FROM (VALUES {vals}) t(doc_id, text)")
    want = {
        int(r[0]): (r[1], int(r[2]), int(r[3]))
        for r in con.execute(dedup_paragraphs_select(src)).fetchall()
    }
    assert got == want and len(got) == len(rows)
    assert any(v[2] > 0 for v in got.values())   # dedup actually fired
    assert any(v[2] == 0 for v in got.values())  # and some docs untouched


def test_host_family_semantics_and_plan(spark):
    """Host extraction handles scheme/www/port/path variants; NULL urls
    drop (no-signal convention); the blocklist side of the gate is a
    broadcast anti-join (never a shuffle of the corpus side)."""
    rows = [
        (0, "https://www.Example.com:8080/a?x=1"),
        (1, "http://example.com/a?x=1#frag"),
        (2, "https://spam.net/b"),
        (3, "mirror.org"),
        (4, None),
        (5, "https://spam.net/b?utm_source=x"),
    ]
    pages = spark.createDataFrame(rows, "doc_id long, url string")
    stats = {r["host"]: r for r in W.host_stats(pages).collect()}
    assert set(stats) == {"example.com", "spam.net", "mirror.org"}
    # 0 and 1 canonicalize identically (scheme/www/port... port stays in
    # the canonical path but the HOST census groups them); spam.net's
    # tracking-param twin collapses to one canonical page
    assert stats["spam.net"]["n_docs"] == 2
    assert stats["spam.net"]["n_unique_pages"] == 1
    assert stats["spam.net"]["dup_rate"] == 0.5
    assert stats["mirror.org"]["n_docs"] == 1

    kept = W.host_blocklist_filter(pages, ["spam.net"])
    got = {r["doc_id"] for r in kept.collect()}
    assert got == {0, 1, 3}  # spam.net rows and the NULL url gone
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_host_family_fuzz_parity(spark):
    """Engine-parity fuzz for host_stats / host_blocklist_filter vs the
    shared DuckDB twins over random messy urls (case, ports, params,
    fragments, NULLs, schemeless)."""
    import random

    import duckdb

    from textgraphs_spark.operators.webdata import (
        host_blocklist_filter_select, host_stats_select,
    )

    rng = random.Random(20260818)
    hosts = ["a.com", "B.org", "www.c.net", "d.io:8443", "e-f.co"]
    rows = []
    for i in range(240):
        if rng.random() < 0.05:
            rows.append((i, None))
            continue
        scheme = rng.choice(["https://", "http://", ""])
        h = rng.choice(hosts)
        path = rng.choice(["", "/p", "/p/q", "/p/"])
        qs = rng.choice(["", "?x=1", "?b=2&a=1", "?utm_source=z&a=1"])
        frag = rng.choice(["", "#top"])
        rows.append((i, f"{scheme}{h}{path}{qs}{frag}"))
    pages = spark.createDataFrame(rows, "doc_id long, url string")
    con = duckdb.connect()
    vals = ", ".join(
        "(%d, %s)" % (i, "NULL" if u is None else "'" + u + "'")
        for i, u in rows
    )
    src = ("SELECT CAST(doc_id AS BIGINT) AS doc_id, url "
           f"FROM (VALUES {vals}) t(doc_id, url)")

    got = {r["host"]: (r["n_docs"], r["n_unique_pages"], r["dup_rate"])
           for r in W.host_stats(pages).collect()}
    want = {r[0]: (int(r[1]), int(r[2]), float(r[3]))
            for r in con.execute(host_stats_select(src)).fetchall()}
    assert set(got) == set(want)
    for h in got:
        assert got[h][:2] == want[h][:2], (h, got[h], want[h])
        assert abs(got[h][2] - want[h][2]) < 1e-9, h
    assert any(v[2] > 0 for v in got.values())  # dup collapse fired

    block = ["a.com", "d.io"]
    got_f = {tuple(r) for r in W.host_blocklist_filter(pages, block).collect()}
    want_f = {(int(a), b, c) for a, b, c in con.execute(
        host_blocklist_filter_select(src, block)).fetchall()}
    assert got_f == want_f and got_f
    assert all(h not in block for _, h, _ in got_f)
