"""The block-local scoring pass: ``scoring.block_match_edges`` (the
partition body, no Spark) against ``itertools.combinations``, and
``er_pipeline.match_edges`` against the reference pair path
``score_pairs(blocking_pairs(...))`` plus the match filter."""

import itertools
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from textgraphs_spark.operators.scoring import (
    MIN_SIMILARITY, block_match_edges, name_match_score,
)

NAMES = [
    "Werner Herzog", "W. Herzog", "Werner Herzgo", "Anna Klein", "A. Klein",
    "Anne Klein", "Boris Vogel", "B Vogel", "Vogel Boris", "", None,
]


def _rows(blocks, seed=0, fresh_share=1.0):
    """Block rows sorted on salted_key: ``blocks`` is a list of sizes.
    Ids are distinct within a block and shared across blocks, as one
    entity sits in several blocking channels."""
    rng = random.Random(seed)
    pool = 2 * max(blocks, default=0) + 50
    rows = [
        (f"k{b:04d}", f"e{i:04d}", rng.choice(NAMES), rng.random() < fresh_share)
        for b, size in enumerate(blocks) for i in rng.sample(range(pool), size)
    ]
    return pd.DataFrame(rows, columns=["salted_key", "entity_key", "surface", "fresh"])


def _want(rows):
    """Every block's i < j pairs by brute force, scored one at a time."""
    out = set()
    for _, block in rows.groupby("salted_key", sort=False):
        for a, b in itertools.combinations(block.itertuples(index=False), 2):
            if a.entity_key == b.entity_key or not (a.fresh or b.fresh):
                continue
            lo, hi = sorted((a, b), key=lambda r: r.entity_key)
            if name_match_score(lo.surface or "", hi.surface or "") >= MIN_SIMILARITY:
                out.add((lo.entity_key, hi.entity_key))
    return out


def _got(batches):
    return [
        tuple(r)
        for out in block_match_edges(iter(batches))
        for r in out.itertuples(index=False)
    ]


def test_block_pass_empty_and_singletons():
    assert _got([]) == []
    assert _got([_rows([])]) == []
    singletons = _rows([1] * 50)
    assert _got([singletons]) == []
    assert _got([singletons.iloc[i:i + 7] for i in range(0, 50, 7)]) == []


def test_block_pass_one_block_of_200(monkeypatch):
    from textgraphs_spark.operators import scoring as S

    rows = _rows([200], seed=1)
    got = _got([rows])
    want = _want(rows)
    assert want
    assert all(lo < hi for lo, hi in got)
    # one block: every pair comes out at most once
    assert len(got) == len(set(got))
    assert set(got) == want
    # the block's 19,900 pairs enumerated in chunks of at most ~500
    monkeypatch.setattr(S, "_PAIR_CHUNK", 500)
    chunks = [len(i) for i, _ in S._block_pairs(rows["salted_key"].to_numpy(object))]
    assert sum(chunks) == 200 * 199 // 2 and max(chunks) <= 500
    assert _got([rows]) == got


@pytest.mark.parametrize("seed", range(5))
def test_block_pass_blocks_cut_across_batches(seed):
    """Batches cut at random points — inside blocks, at block edges,
    and with a block spanning several batches — give the same edges as
    one batch holding the whole partition."""
    rng = random.Random(seed)
    rows = _rows([rng.choice([1, 1, 2, 3, 8, 40]) for _ in range(40)], seed=seed)
    want = _want(rows)
    assert want
    assert set(_got([rows])) == want
    cuts = sorted(rng.sample(range(1, len(rows)), 12))
    batches = [rows.iloc[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]
    assert set(_got(batches)) == want
    # one row per batch: every multi-row block straddles
    assert set(_got([rows.iloc[[i]] for i in range(len(rows))])) == want


def test_block_pass_drops_pairs_without_a_fresh_end():
    rows = _rows([30, 12, 5, 2], seed=3, fresh_share=0.3)
    assert not rows["fresh"].all() and rows["fresh"].any()
    got = set(_got([rows]))
    assert got == _want(rows)
    fresh = set(rows.loc[rows["fresh"], "entity_key"])
    assert all(lo in fresh or hi in fresh for lo, hi in got)
    stale = rows.assign(fresh=False)
    assert _got([stale]) == []


# -- Spark: the pass against the reference pair path -----------------------------


def _reference(ents, max_block_size, prior=None):
    """The parent commit's resolve: blocking_pairs → (touched-pair rule)
    → score_pairs → match filter."""
    from textgraphs_spark.operators import scoring as S
    from textgraphs_spark.plans.er_pipeline import blocking_pairs

    pairs = blocking_pairs(ents, max_block_size=max_block_size)
    if prior is not None:
        ol = prior.select(F.col("entity_key").alias("left_id"), F.lit(True).alias("_ol"))
        orr = prior.select(F.col("entity_key").alias("right_id"), F.lit(True).alias("_or"))
        pairs = (
            pairs.join(ol, "left_id", "left").join(orr, "right_id", "left")
            .filter(F.col("_ol").isNull() | F.col("_or").isNull())
        )
    scored = S.score_pairs(pairs).filter(F.col("match"))
    return {tuple(r) for r in scored.select("left_id", "right_id").collect()}


def _pass(ents, max_block_size, prior=None):
    from textgraphs_spark.plans.er_pipeline import match_edges

    edges = match_edges(ents, max_block_size=max_block_size, prior=prior)
    rows = [tuple(r) for r in edges.collect()]
    assert all(lo < hi for lo, hi in rows)
    return set(rows)


@pytest.fixture(scope="module")
def vocab(spark):
    from textgraphs_spark.plans import er_eval as E

    return E.eval_entities(spark).select("entity_key", "surface").localCheckpoint()


@pytest.mark.parametrize("max_records", [None, 7])
def test_match_edges_equal_reference_with_salting(spark, vocab, max_records):
    """Salting engaged (max_block_size=4 shards the vocabulary's larger
    blocks). With 7 records per Arrow batch, blocks straddle batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    if max_records:
        spark.conf.set(key, str(max_records))
    try:
        with pytest.warns(UserWarning, match="salted blocking engaged"):
            got = _pass(vocab, 4)
    finally:
        spark.conf.set(key, before)
    with pytest.warns(UserWarning, match="salted blocking engaged"):
        want = _reference(vocab, 4)
    assert want
    assert got == want


def test_match_edges_equal_reference_on_hot_block(spark):
    from textgraphs_spark.plans.salt_oracle import MAX_BLOCK_SIZE, hot_entities

    ents = spark.createDataFrame(hot_entities(), ["entity_key", "surface"])
    with pytest.warns(UserWarning, match="salted blocking engaged"):
        got = _pass(ents, MAX_BLOCK_SIZE)
    with pytest.warns(UserWarning, match="salted blocking engaged"):
        want = _reference(ents, MAX_BLOCK_SIZE)
    assert want
    assert got == want


def test_match_edges_with_prior_score_only_touched_pairs(spark, vocab):
    """With a prior table, the pass scores exactly the pairs the
    touched-pair rule kept: those with at least one key absent from the
    prior."""
    from textgraphs_spark.plans.er_pipeline import ERPipeline

    old = vocab.filter(F.pmod(F.xxhash64("entity_key"), F.lit(3)) != 0)
    prior = ERPipeline(spark).run_lean(
        None,
        entities=old.select(
            "entity_key", "surface", F.lit("").alias("label"),
            F.lit(1).cast("long").alias("mention_count"),
            F.lit(1).cast("long").alias("doc_freq"),
        ),
    ).localCheckpoint()
    got = _pass(vocab, 200, prior)
    want = _reference(vocab, 200, prior)
    assert want
    assert got == want
    assert got < _pass(vocab, 200)
