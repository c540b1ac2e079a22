"""Unit tests for sessionization / as-of join / range-bucket join."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from textgraphs_spark.operators.analytics import (
    asof_join, range_bucket_join, session_stats, sessionize,
)


def _ts(m, s=0):
    return datetime(2024, 1, 1, 12, m, s)


def test_sessionize_gap_splits(spark):
    rows = [
        (1, 1, _ts(0)), (1, 2, _ts(10)), (1, 3, _ts(50)),   # gap 40m -> new
        (1, 4, _ts(55)),
        (2, 5, _ts(0)),                                      # other user
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = {
        (r.user_id, r.event_id): r.session_seq
        for r in sessionize(ev).collect()
    }
    assert out == {(1, 1): 1, (1, 2): 1, (1, 3): 2, (1, 4): 2, (2, 5): 1}

    stats = session_stats(ev).collect()
    by_key = {(r.user_id, r.session_seq): r for r in stats}
    assert by_key[(1, 1)].n_events == 2
    assert by_key[(1, 2)].n_events == 2
    assert by_key[(1, 2)].duration_us == 300_000_000
    assert by_key[(2, 1)].n_events == 1


def test_sessionize_exact_gap_not_new(spark):
    # gap exactly 30m does NOT start a new session (strict >)
    rows = [(1, 1, _ts(0)), (1, 2, _ts(30))]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    seqs = {r.event_id: r.session_seq for r in sessionize(ev).collect()}
    assert seqs == {1: 1, 2: 1}


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, 100, _ts(10)), (1, 101, _ts(20)), (2, 102, _ts(5))],
        "user_id long, click_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, 7, _ts(9)), (1, 8, _ts(15)), (3, 9, _ts(0))],
        "user_id long, view_id long, vts timestamp",
    )
    out = {
        r.click_id: r.asof_view_id
        for r in asof_join(left, right, "user_id", "ts", "vts").collect()
    }
    # click@10 -> view@9; click@20 -> view@15; user 2 has no views
    assert out == {100: 7, 101: 8, 102: None}


def test_asof_join_tie_is_match(spark):
    # right row at exactly the left timestamp counts ("at or before")
    left = spark.createDataFrame([(1, 100, _ts(10))],
                                 "user_id long, click_id long, ts timestamp")
    right = spark.createDataFrame([(1, 7, _ts(10))],
                                  "user_id long, view_id long, vts timestamp")
    [row] = asof_join(left, right, "user_id", "ts", "vts").collect()
    assert row.asof_view_id == 7


def test_range_bucket_join_broadcast(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 50.0), (3, 499.0)],
                               "id long, value double")
    buckets = spark.createDataFrame(
        [("b0", 0.0, 50.0), ("b1", 50.0, 500.0)], "bucket string, lo double, hi double"
    )
    out = {r.id: r.bucket for r in range_bucket_join(df, buckets).collect()}
    assert out == {1: "b0", 2: "b1", 3: "b1"}
    plan = range_bucket_join(df, buckets)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "Broadcast" in plan


def test_asof_join_matches_bruteforce_random(spark):
    """Union+window as-of join == brute-force max-ts-per-left reference."""
    import random

    rng = random.Random(7)
    base = datetime(2024, 1, 1)
    lefts = [
        (rng.randint(1, 5), i, base + timedelta(seconds=rng.randint(0, 500)))
        for i in range(60)
    ]
    rights = [
        (rng.randint(1, 5), 1000 + i, base + timedelta(seconds=rng.randint(0, 500)))
        for i in range(60)
    ]
    left = spark.createDataFrame(lefts, "user_id long, lid long, ts timestamp")
    right = spark.createDataFrame(rights, "user_id long, rid long, rts timestamp")
    got = {
        r.lid: r.asof_rid
        for r in asof_join(left, right, "user_id", "ts", "rts").collect()
    }
    for u, lid, ts in lefts:
        cands = [(rts, rid) for (ru, rid, rts) in rights if ru == u and rts <= ts]
        # tie-break on (ts, insertion): our window picks the LAST right row
        # at the max timestamp in (ts, side) order — emulate via max(rts),
        # then the latest-unioned among equals (stable: max rid not
        # guaranteed; only assert when the max-ts candidate is unique)
        if not cands:
            assert got[lid] is None
            continue
        mx = max(rts for rts, _ in cands)
        at_max = [rid for rts, rid in cands if rts == mx]
        if len(at_max) == 1:
            assert got[lid] == at_max[0], lid
        else:
            assert got[lid] in at_max, lid


def test_sessionize_matches_bruteforce_random(spark):
    import random

    rng = random.Random(11)
    base = datetime(2024, 1, 1)
    rows = [
        (rng.randint(1, 4), i, base + timedelta(minutes=rng.randint(0, 600)))
        for i in range(80)
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = {
        (r.user_id, r.event_id): r.session_seq
        for r in sessionize(ev, gap_minutes=45).collect()
    }
    by_user = {}
    for u, eid, ts in sorted(rows, key=lambda r: (r[0], r[2], r[1])):
        by_user.setdefault(u, []).append((ts, eid))
    for u, evs in by_user.items():
        seq, last = 0, None
        for ts, eid in evs:
            if last is None or (ts - last).total_seconds() > 45 * 60:
                seq += 1
            last = ts
            assert got[(u, eid)] == seq, (u, eid)


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


def test_hll_sketch_rollup(spark):
    from textgraphs_spark.operators.sketches import (
        daily_distinct_sketches, rollup_distinct,
    )

    rows = [
        (u, datetime(2024, 1, 1 + d, 12, 0))
        for d in range(5) for u in range(1, 40 + d)
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    daily = daily_distinct_sketches(ev)
    by_day = {str(r.day): r.distinct_est for r in daily.collect()}
    assert by_day["2024-01-01"] == 39          # exact at this cardinality
    assert by_day["2024-01-05"] == 43
    [total] = rollup_distinct(daily).collect()
    # union of sketches counts each user once across days
    assert total.distinct_est == 43
    assert total.n_days == 5
    assert total.n_events == len(rows)


def test_quality_gate(spark):
    import pytest

    from textgraphs_spark.operators.quality_gate import (
        document_rules, gate, violation_counts,
    )

    docs = spark.createDataFrame(
        [(1, "fine text", "en"), (2, None, "en"), (3, "", "XX"), (4, "ok", None)],
        "doc_id long, text string, lang string",
    )
    [row] = violation_counts(docs, document_rules()).collect()
    assert row.n_rows == 4
    assert row.null_text == 1
    assert row.empty_text == 2      # NULL text counts as empty too (coalesce)
    assert row.bad_lang == 2        # 'XX' fails the pattern; NULL lang fails
    assert row.text_too_long == 1   # NULL length -> unknown -> violation

    with pytest.raises(ValueError, match="quality gate failed"):
        gate(docs, document_rules())
    clean = docs.filter("doc_id = 1")
    ok = gate(clean, document_rules())
    assert ok["n_rows"] == 1
