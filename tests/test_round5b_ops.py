"""Round-5 session-6 operator tests: registered-domain extraction,
revisit scheduling, leakage-safe splits, DoReMi mixture reweighting.

Each pins hand-computable values on tiny synthetic frames — the oracle
sweep covers corpus-scale value parity, these cover the semantics the
oracle can't isolate (PSL longest-match and fallback rules, the
no-straddle split guarantee, the eta=0 degenerate mixture)."""

import math

import pytest
from pyspark.sql import functions as F

from textgraphs_spark.operators.webdata import (
    doremi_mixture,
    leakage_safe_split,
    pld_rollup,
    registered_domains,
    revisit_schedule,
)


def _hosts(spark, hosts):
    return spark.createDataFrame([(i, h) for i, h in enumerate(hosts)],
                                 "doc_id long, host string")


def test_registered_domain_longest_match_wins(spark):
    # both "uk" and "co.uk" are listed; the longer suffix must win
    out = registered_domains(
        _hosts(spark, ["blog.alpha.co.uk"]), ["uk", "co.uk"]
    ).collect()[0]
    assert out["public_suffix"] == "co.uk"
    assert out["reg_domain"] == "alpha.co.uk"


def test_registered_domain_psl_fallback_and_suffix_only(spark):
    # "xyz" is not listed -> PSL "*" rule: last label is the suffix;
    # a bare-suffix host has no registrable part -> NULL
    rows = {r["host"]: r for r in registered_domains(
        _hosts(spark, ["a.b.site.xyz", "com", "co.uk"]), ["com", "uk", "co.uk"]
    ).collect()}
    assert rows["a.b.site.xyz"]["public_suffix"] == "xyz"
    assert rows["a.b.site.xyz"]["reg_domain"] == "site.xyz"
    assert rows["com"]["reg_domain"] is None
    assert rows["co.uk"]["reg_domain"] is None


def test_registered_domain_no_partial_label_match(spark):
    # "foocom" must NOT match suffix "com" (the match is label-aligned:
    # host == s or host ends with "." + s)
    out = registered_domains(_hosts(spark, ["foocom"]), ["com"]).collect()[0]
    assert out["public_suffix"] == "foocom"
    assert out["reg_domain"] is None


def test_pld_rollup_groups_subdomains(spark):
    # three hosts of one site + one of another -> two domain rows
    df = _hosts(spark, ["alpha.com", "www.alpha.com", "blog.alpha.com", "beta.com"])
    rows = {r["reg_domain"]: r for r in pld_rollup(df, ["com"]).collect()}
    assert rows["alpha.com"]["n_hosts"] == 3
    assert rows["alpha.com"]["n_pages"] == 3
    assert rows["beta.com"]["n_hosts"] == 1


def test_revisit_schedule_rates_and_buckets(spark):
    # u1: 3 captures, both refetches changed -> rate 1.0 -> daily
    # u2: 3 captures, no change            -> rate 0.0 -> monthly
    # u3: single capture                   -> no evidence -> monthly (rate 0)
    rows = [
        ("u1", "2024-01-01", "a"), ("u1", "2024-01-02", "b"), ("u1", "2024-01-03", "c"),
        ("u2", "2024-01-01", "x"), ("u2", "2024-01-02", "x"), ("u2", "2024-01-03", "x"),
        ("u3", "2024-01-01", "z"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string, text string")
    got = {r["url"]: r for r in revisit_schedule(df).collect()}
    assert got["u1"]["n_changes"] == 2 and got["u1"]["revisit"] == "daily"
    assert got["u2"]["n_changes"] == 0 and got["u2"]["revisit"] == "monthly"
    assert got["u3"]["n_caps"] == 1 and got["u3"]["revisit"] == "monthly"


def test_revisit_schedule_weekly_band(spark):
    # 1 change in 4 refetches = 0.25 -> weekly at (fast=0.5, slow=0.2)
    rows = [("u", f"2024-01-0{i}", t) for i, t in enumerate("aabbb", start=1)]
    df = spark.createDataFrame(rows, "url string, warc_ts string, text string")
    got = revisit_schedule(df).collect()[0]
    assert got["n_caps"] == 5 and got["n_changes"] == 1
    assert got["change_rate"] == 0.25 and got["revisit"] == "weekly"


def test_revisit_and_history_break_timestamp_ties_by_content(spark):
    # two captures of u share a timestamp: they order by content hash
    # (md5("a") < md5("b")), so the sequence is a, b, a — two changes,
    # three revisions — in the engine and in its DuckDB twin alike
    import duckdb

    from textgraphs_spark.operators.webdata import (
        revisit_schedule_select, url_history, url_history_select,
    )

    rows = [("u", "2024-01-01", "b"), ("u", "2024-01-01", "a"),
            ("u", "2024-01-02", "a")]
    df = spark.createDataFrame(rows, "url string, warc_ts string, text string")
    src = "SELECT * FROM (VALUES " + ", ".join(
        f"('{u}', '{t}', '{x}')" for u, t, x in rows
    ) + ") v(url, warc_ts, text)"
    got = revisit_schedule(df).collect()[0]
    assert (got["n_caps"], got["n_changes"]) == (3, 2)
    duck = duckdb.sql(
        f"SELECT n_caps, n_changes FROM ({revisit_schedule_select(src)})"
    ).fetchall()
    assert duck == [(3, 2)]

    def hist(rs):
        return sorted((r[0], r[1], r[2], r[3]) for r in rs)

    want = [("2024-01-01", "2024-01-01", 1, False),
            ("2024-01-01", "2024-01-02", 1, False),
            ("2024-01-02", None, 1, True)]
    cols = "valid_from, valid_to, n_captures, is_current"
    assert hist(url_history(df).select(*cols.split(", ")).collect()) == want
    assert hist(duckdb.sql(
        f"SELECT {cols} FROM ({url_history_select(src)})"
    ).fetchall()) == want


def test_leakage_safe_split_no_straddle(spark):
    # byte-identical texts must land in the same split, whatever it is;
    # with 20/20 the tiny corpus still hits all three splits
    docs = spark.createDataFrame(
        [(i, f"text {i % 40}") for i in range(200)], "doc_id long, text string"
    )
    out = leakage_safe_split(docs, val_pct=20, test_pct=20)
    per_group = out.groupBy("group_key").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_group.agg(F.max("n_splits")).collect()[0][0] == 1
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits == {"train", "val", "test"}


def test_leakage_safe_split_group_col_override(spark):
    # with an explicit group column, docs sharing the group id stay
    # together even when their texts differ (the near-dup-cluster use)
    docs = spark.createDataFrame(
        [(i, f"unique text {i}", i % 7) for i in range(70)],
        "doc_id long, text string, cluster long",
    )
    out = leakage_safe_split(docs, group_col="cluster", val_pct=25, test_pct=25)
    per_group = out.groupBy("group_key").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_group.agg(F.max("n_splits")).collect()[0][0] == 1
    assert out.select("group_key").distinct().count() == 7


def test_leakage_safe_split_rejects_bad_pcts(spark):
    docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    with pytest.raises(ValueError):
        leakage_safe_split(docs, val_pct=60, test_pct=60)
    # a negative band must not shrink val silently (t_hi > v_hi)
    with pytest.raises(ValueError):
        leakage_safe_split(docs, val_pct=-10, test_pct=20)
    with pytest.raises(ValueError):
        leakage_safe_split(docs, val_pct=10, test_pct=-1)


def _mixture_docs(spark):
    # source "easy": tokens drawn from the corpus-common head words;
    # source "hard": each doc adds rare tokens -> higher xent
    rows = [(i, "the quick brown fox " * 5, "easy") for i in range(20)]
    rows += [(100 + i, f"the zq{i}x wv{i}k jj{i}m", "hard") for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_doremi_eta_zero_is_baseline_share(spark):
    out = {r["source"]: r for r in doremi_mixture(_mixture_docs(spark), eta=0.0).collect()}
    for r in out.values():
        assert r["weight"] == pytest.approx(r["share"], abs=2e-6)


def test_doremi_upweights_hard_source(spark):
    out = {r["source"]: r for r in doremi_mixture(_mixture_docs(spark), eta=1.0).collect()}
    assert out["hard"]["loss"] > out["easy"]["loss"]
    assert out["hard"]["excess"] > 0.0 and out["easy"]["excess"] == 0.0
    # the hard source's weight exceeds its baseline share; weights renormalize
    assert out["hard"]["weight"] > out["hard"]["share"]
    total = sum(r["weight"] for r in out.values())
    assert math.isclose(total, 1.0, abs_tol=5e-6)


def test_url_history_intervals(spark):
    # url u: captures a a b a -> three revisions; middle re-fetch folds
    # into revision 1 (n_captures 2); only the last row is current
    rows = [("u", f"2024-01-0{i}", t) for i, t in enumerate("aaba", start=1)]
    df = spark.createDataFrame(rows, "url string, warc_ts string, text string")
    from textgraphs_spark.operators.webdata import url_history

    got = sorted(url_history(df).collect(), key=lambda r: r["valid_from"])
    assert [r["n_captures"] for r in got] == [2, 1, 1]
    assert [r["is_current"] for r in got] == [False, False, True]
    # half-open chain: each valid_to is the next valid_from
    assert got[0]["valid_to"] == got[1]["valid_from"]
    assert got[1]["valid_to"] == got[2]["valid_from"]
    assert got[2]["valid_to"] is None
    # revisions 0 and 2 carry the same content -> same hash
    assert got[0]["content_hash"] == got[2]["content_hash"]
    assert got[0]["content_hash"] != got[1]["content_hash"]


def test_blocking_budget_curve_monotone(spark):
    # larger caps can only keep more pairs; an unsalted-size cap keeps
    # every pair (coverage exactly 1.0); block count is cap-invariant
    from textgraphs_spark.plans.er_eval import blocking_budget_curve
    from textgraphs_spark.plans.salt_oracle import hot_entities

    ents = spark.createDataFrame(hot_entities(), ["entity_key", "surface"])
    rows = sorted(blocking_budget_curve(ents).collect(),
                  key=lambda r: r["max_block_size"])
    pairs = [r["n_pairs"] for r in rows]
    assert pairs == sorted(pairs)
    assert rows[-1]["pair_coverage"] == 1.0
    assert len({r["n_blocks"] for r in rows}) == 1


def test_registered_domain_parity_fuzz(spark):
    # one random host corpus through BOTH engines: suffix choice and
    # registered-domain composition must agree on every host, including
    # degenerate shapes (bare suffix, single label, empty labels from
    # doubled dots, unlisted TLDs)
    import random

    import duckdb

    from textgraphs_spark.operators.webdata import (
        registered_domains, registered_domains_select,
    )

    rng = random.Random(6_001)
    sufs = ["com", "org", "uk", "co.uk", "ac.jp"]
    labels = ["a", "bb", "ccc", "www", "blog", "x9", "site"]
    hosts = set(sufs) | {"com.", "a..com", "xyz", "a.xyz"}
    for _ in range(300):
        n = rng.randint(1, 4)
        host = ".".join(rng.choice(labels) for _ in range(n))
        if rng.random() < 0.7:
            host += "." + rng.choice(sufs + ["zz", "dev"])
        hosts.add(host)
    hosts = sorted(hosts)
    sdf = spark.createDataFrame([(i, h) for i, h in enumerate(hosts)],
                                "doc_id long, host string")
    got_spark = {
        r["host"]: (r["public_suffix"], r["reg_domain"])
        for r in registered_domains(sdf, sufs).collect()
    }
    vals = ", ".join(f"({i}, '{h}')" for i, h in enumerate(hosts))
    sql = registered_domains_select(
        f"SELECT * FROM (VALUES {vals}) v(doc_id, host)", sufs
    )
    got_duck = {
        h: (ps, rd)
        for _, h, ps, rd in duckdb.sql(
            f"SELECT doc_id, host, public_suffix, reg_domain FROM ({sql})"
        ).fetchall()
    }
    assert got_spark == got_duck


# ---------------------------------------------------------------------------
# empty-input edges (the "first crawl batch is empty" class of failure)
# ---------------------------------------------------------------------------

def test_session6_ops_empty_inputs(spark):
    from textgraphs_spark.operators.webdata import (
        doremi_mixture, pld_rollup, revisit_schedule, url_history,
    )

    hosts = spark.createDataFrame([], "doc_id long, host string")
    assert pld_rollup(hosts).count() == 0
    caps = spark.createDataFrame([], "url string, warc_ts string, text string")
    assert revisit_schedule(caps).count() == 0
    assert url_history(caps).count() == 0
    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert doremi_mixture(docs).count() == 0
    assert leakage_safe_split(docs).count() == 0


def test_blocking_budget_curve_empty_entities(spark):
    # zero entities -> every cap row reports a zero pair budget (and the
    # 0/0 coverage is NULL, not a crash)
    from textgraphs_spark.plans.er_eval import blocking_budget_curve

    ents = spark.createDataFrame([], "entity_key string, surface string")
    rows = blocking_budget_curve(ents).collect()
    assert len(rows) == 4
    assert all(r["n_pairs"] == 0 for r in rows)


def test_plan_shards_append_stable(spark):
    # shard assignment is an exclusive prefix cumsum in doc_id order, so
    # appending docs with LARGER ids must never move an existing doc's
    # shard — the property that makes incremental manifest publication
    # safe (yesterday's files are immutable; new docs only extend tails)
    from textgraphs_spark.operators.webdata import plan_shards

    base = spark.createDataFrame(
        [(i, f"s{i % 3}", 100 + (i % 7) * 50) for i in range(300)],
        "doc_id long, source string, n_chars long",
    )
    grown = base.unionByName(spark.createDataFrame(
        [(1000 + i, f"s{i % 3}", 100 + (i % 5) * 70) for i in range(200)],
        "doc_id long, source string, n_chars long",
    ))
    before = {(r["doc_id"]): r["shard_idx"]
              for r in plan_shards(base, target_bytes=1000).collect()}
    after = {(r["doc_id"]): r["shard_idx"]
             for r in plan_shards(grown, target_bytes=1000).collect()}
    assert all(after[d] == s for d, s in before.items())
    assert len(after) == 500


def test_leakage_split_append_stable(spark):
    # split membership is a pure function of content — corpus growth
    # cannot move any existing document across the eval boundary
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id long, text string"
    )
    grown = docs.unionByName(spark.createDataFrame(
        [(1000 + i, f"new text {i}") for i in range(100)],
        "doc_id long, text string",
    ))
    before = {r["doc_id"]: r["split"]
              for r in leakage_safe_split(docs, val_pct=15, test_pct=15).collect()}
    after = {r["doc_id"]: r["split"]
             for r in leakage_safe_split(grown, val_pct=15, test_pct=15).collect()}
    assert all(after[d] == s for d, s in before.items())
