"""Connected components vs a pure-Python union-find oracle."""

import random
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from textgraphs_spark.operators.components import (
    _min_member,
    components_over_keys,
    connected_components,
)


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_cc_random_graph(spark):
    rng = random.Random(7)
    nodes = list(range(1, 200))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find(edges, nodes)
    # group expected into component sets (only nodes that touch an edge)
    touched = {a for a, _ in edges} | {b for _, b in edges}

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, small_graph_threshold=0).collect()
    }
    assert set(got) == touched
    for n in touched:
        assert got[n] == expected[n], f"node {n}"


def test_cc_chain_and_star(spark):
    # long chain exercises the O(log n) contraction; star is the base case
    chain = [(i, i + 1) for i in range(100)]
    star = [(1000, 1000 + i) for i in range(1, 50)]
    df = spark.createDataFrame(chain + star, ["src", "dst"])
    got = connected_components(df, small_graph_threshold=0)
    comps = (
        got.groupBy("component").agg(F.count("*").alias("n")).collect()
    )
    sizes = sorted(r["n"] for r in comps)
    assert sizes == [50, 101]


def test_components_over_keys(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    df = spark.createDataFrame(edges, ["left_id", "right_id"])
    out = components_over_keys(df).collect()
    cl = {r["entity_key"]: r["cluster_id"] for r in out}
    assert cl["a"] == cl["b"] == cl["c"]
    assert cl["x"] == cl["y"]
    assert cl["a"] != cl["x"]


def test_cc_struct_ids_both_paths(spark):
    """128-bit struct ids run through BOTH the driver union-find and the
    distributed star rounds, agreeing with each other."""
    rng = random.Random(13)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["sa", "sb"]).select(
        F.struct(F.col("sa").cast("long").alias("hi"), (F.col("sa") * 7).cast("long").alias("lo")).alias("src"),
        F.struct(F.col("sb").cast("long").alias("hi"), (F.col("sb") * 7).cast("long").alias("lo")).alias("dst"),
    )
    fast = {(tuple(r["node"]), tuple(r["component"]))
            for r in connected_components(df).collect()}
    dist = {(tuple(r["node"]), tuple(r["component"]))
            for r in connected_components(df, small_graph_threshold=0).collect()}
    assert fast == dist
    longs = spark.createDataFrame(edges, ["src", "dst"])
    expect = {r["node"]: r["component"] for r in connected_components(longs).collect()}
    got = {hi: chi for ((hi, _lo), (chi, _clo)) in fast}
    assert got == expect


def test_cc_128bit_survives_forced_64bit_collision(spark):
    """The at-scale correctness property: when the HIGH word collides for
    EVERY key (a simulated 64-bit birthday collision), unrelated clusters
    must still stay separate because the low word differs — over 10^6
    distinct keys. A single-64-bit-id implementation merges everything
    here."""
    n = 1_000_000
    # 5*10^5 two-node components (i <-> i + n), every id sharing hi=0:
    # correctness rides entirely on the low word
    edges = spark.range(n // 2).select(
        F.struct(F.lit(0).cast("long").alias("hi"), F.col("id").cast("long").alias("lo")).alias("src"),
        F.struct(F.lit(0).cast("long").alias("hi"), (F.col("id") + n).cast("long").alias("lo")).alias("dst"),
    )
    got = connected_components(edges)
    comps = got.groupBy("component").agg(F.count("*").alias("sz")) \
        .groupBy("sz").count().collect()
    assert {r["sz"]: r["count"] for r in comps} == {2: n // 2}


def test_components_over_keys_id_is_128bit(spark):
    """components_over_keys must build struct (two-long) CC ids, not a
    single hash — guards against a regression to the collision-prone
    64-bit id space."""
    from textgraphs_spark.operators.components import key_id128

    df = spark.range(1).select(key_id128(F.lit("x")).alias("id"))
    fields = df.schema["id"].dataType.fieldNames()
    assert fields == ["hi", "lo"]
    r = df.collect()[0]["id"]
    assert r["hi"] != r["lo"]  # independent draws


def test_cc_small_graph_fast_path_agrees(spark):
    """The size-adaptive driver union-find must agree with the
    distributed large-star/small-star path."""
    rng = random.Random(11)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = {(r["node"], r["component"]) for r in connected_components(df).collect()}
    dist = {(r["node"], r["component"]) for r in connected_components(df, small_graph_threshold=0).collect()}
    assert fast == dist


def _kernel(edges, k=1):
    """``_min_member`` over edges of ints (k=1) or k-tuples of ints, as
    {node: component} in the oracle's shape."""
    words = (lambda x: (x,)) if k == 1 else tuple
    w = np.array(
        [[*words(a), *words(b)] for a, b in edges], dtype=np.int64
    ).reshape(-1, 2 * k)
    ids, root = _min_member(w)
    key = (lambda r: int(r[0])) if k == 1 else (lambda r: tuple(int(x) for x in r))
    return {key(i): key(ids[r]) for i, r in zip(ids, root)}


def test_kernel_random_graphs_match_oracle():
    rng = random.Random(3)
    for _ in range(20):
        n = rng.randrange(2, 300)
        edges = [(rng.randrange(n), rng.randrange(n))
                 for _ in range(rng.randrange(1, 2 * n))]
        touched = {x for e in edges for x in e}
        assert _kernel(edges) == _union_find(edges, touched)


def test_kernel_shuffled_chain():
    """A path whose ids are shuffled along it is the deep-tree case for
    hook-and-jump; it must finish in a few vectorised rounds."""
    n = 100_000
    perm = list(range(n))
    random.Random(5).shuffle(perm)
    edges = list(zip(perm, perm[1:]))
    w = np.array(edges, dtype=np.int64)
    start = time.perf_counter()
    ids, root = _min_member(w)
    elapsed = time.perf_counter() - start
    assert len(ids) == n
    assert _kernel(edges) == _union_find(edges, range(n))
    assert elapsed < 2.0, elapsed


def test_kernel_signed_words_order_like_spark():
    """Spark compares longs signed and structs of longs field by field,
    as Python compares ints and tuples: the component min under
    ``np.unique`` ordering must be the oracle's min, negative words
    and int64 extremes included."""
    rng = random.Random(7)
    words = [-2**63, -2**40, -1, 0, 1, 2**40, 2**63 - 1]
    nodes = sorted({(rng.choice(words), rng.choice(words)) for _ in range(40)})
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(25)]
    touched = {x for e in edges for x in e}
    assert _kernel(edges, k=2) == _union_find(edges, touched)
    longs = [(a[0] ^ a[1], b[0] ^ b[1]) for a, b in edges]
    touched = {x for e in longs for x in e}
    assert _kernel(longs) == _union_find(longs, touched)


def test_kernel_empty_input():
    for k in (1, 2):
        ids, root = _min_member(np.empty((0, 2 * k), dtype=np.int64))
        assert ids.shape == (0, k)
        assert root.shape == (0,)


@pytest.mark.parametrize("threshold", [500_000, 0], ids=["union_find", "stars"])
def test_cc_empty_edges(spark, threshold):
    """No edges: an empty (node, component) frame of the input id type."""
    for ddl in ("long", "struct<hi:long,lo:long>"):
        df = spark.createDataFrame([], f"src {ddl}, dst {ddl}")
        out = connected_components(df, small_graph_threshold=threshold)
        assert out.collect() == []
        assert out.columns == ["node", "component"]
        for col in out.columns:
            assert out.schema[col].dataType == df.schema["src"].dataType


def test_cc_stats_overwritten_on_every_call(spark):
    """One stats dict reused across calls (as ERPipeline.cc_stats is)
    describes the latest call: union-find after the star path reports
    rounds 0, not the earlier call's rounds."""
    df = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    stats = {}
    connected_components(df, small_graph_threshold=0, stats=stats).collect()
    assert stats["path"] == "stars"
    assert stats["rounds"] >= 1
    connected_components(df, stats=stats).collect()
    assert stats == {"path": "union_find", "edges": 2, "rounds": 0}


@pytest.fixture()
def spread(spark):
    """16 uncoalesced shuffle partitions, restored afterwards: edges land
    hash-spread, so the contraction pass leaves work for the star rounds."""
    conf = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "16",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_star_rounds_on_spread_partitions(spread):
    """The large-star/small-star rounds, reached only when partitions do
    not hold whole components: a shuffled 2,000-node chain plus a random
    graph, with long ids and with struct ids whose words are negative and
    ordered differently from the longs."""
    rng = random.Random(17)
    perm = list(range(2000))
    rng.shuffle(perm)
    edges = list(zip(perm, perm[1:]))
    edges += [(rng.randrange(3000, 3400), rng.randrange(3000, 3400)) for _ in range(300)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spread.createDataFrame(edges, ["a", "b"])

    def word(x):
        return (x % 5 - 2, -7919 * x)

    def struct(c):
        return F.struct(
            (F.col(c) % 5 - 2).cast("long").alias("hi"),
            (F.col(c) * -7919).cast("long").alias("lo"),
        )

    cases = [
        (df.select(F.col("a").alias("src"), F.col("b").alias("dst")), edges, int),
        (df.select(struct("a").alias("src"), struct("b").alias("dst")),
         [(word(a), word(b)) for a, b in edges], tuple),
    ]
    for frame, oracle_edges, decode in cases:
        stats = {}
        out = connected_components(frame, small_graph_threshold=0, stats=stats)
        got = {decode(r["node"]): decode(r["component"]) for r in out.collect()}
        assert stats["path"] == "stars"
        assert stats["rounds"] >= 2
        touched = {x for e in oracle_edges for x in e}
        assert got == _union_find(oracle_edges, touched)


def test_cc_spark_job_budget(spark):
    """Spark jobs are a cost of their own: when the edges fit one AQE
    partition, the contraction pass alone leaves a star forest, so the
    distributed path runs a fixed handful of jobs — not a dozen per star
    round plus a confirming round."""
    rng = random.Random(29)
    perm = list(range(600))
    rng.shuffle(perm)
    edges = list(zip(perm, perm[1:]))
    edges += [(rng.randrange(600, 1000), rng.randrange(600, 1000)) for _ in range(400)]
    edges = [(f"k{a:04d}", f"k{b:04d}") for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["left_id", "right_id"])
    sc = spark.sparkContext
    group = "test_cc_spark_job_budget"
    sc.setJobGroup(group, group)
    try:
        stats = {}
        out = components_over_keys(df, small_graph_threshold=0, stats=stats).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert stats["path"] == "stars"
    assert len(jobs) <= 20, len(jobs)
    touched = {x for e in edges for x in e}
    assert {r["entity_key"]: r["cluster_id"] for r in out} == _union_find(edges, touched)
