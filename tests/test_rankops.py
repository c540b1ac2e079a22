"""Exact distributed ranking (operators/rankops.py): the range-partition
+ offset construction must be VALUE-IDENTICAL to the single-task window
forms on any input — ties, NULL groups, hot groups, N < n tiles — while
spreading the sort across partitions."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from textgraphs_spark.operators.rankops import global_rank, grouped_rank


def test_global_rank_matches_window(spark):
    import random

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50)) for i in range(2000)]   # heavy ties
    df = spark.createDataFrame(rows, ["id", "v"])
    got = {r["id"]: r["rank"]
           for r in global_rank(df, [F.col("v"), F.col("id")], partitions=16).collect()}
    w = Window.orderBy("v", "id")
    want = {r["id"]: r["rn"]
            for r in df.withColumn("rn", F.row_number().over(w)).collect()}
    assert got == want


def test_grouped_rank_matches_window_hot_and_null_groups(spark):
    import random

    rng = random.Random(11)
    # one hot group holding 80% of rows + NULL group + long tail
    rows = []
    for i in range(2500):
        g = "hot" if i % 5 else rng.choice([None, "a", "b", "c"])
        rows.append((i, g, rng.randint(0, 99)))
    df = spark.createDataFrame(rows, ["id", "g", "v"])
    got = {r["id"]: r["rk"]
           for r in grouped_rank(df, "g", [F.col("v"), F.col("id")],
                                 partitions=16).collect()}
    w = Window.partitionBy("g").orderBy("v", "id")
    want = {r["id"]: r["rn"]
            for r in df.withColumn("rn", F.row_number().over(w)).collect()}
    assert got == want


def test_grouped_rank_spreads_hot_group(spark):
    """Scale evidence: the hot group's rows occupy MANY range partitions
    (the whole point — a window partitioned by the group would put them
    all in one task)."""
    rows = [(i, "hot", i * 7 % 1009) for i in range(5000)]
    df = spark.createDataFrame(rows, ["id", "g", "v"])
    d = df.repartitionByRange(16, F.col("g"), F.col("v"), F.col("id"))
    spread = (
        d.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    assert len(spread) >= 8                       # not one task
    assert max(r["count"] for r in spread) < 5000  # nobody holds it all
    # and the ranks built on that spread are still exact
    got = grouped_rank(df, "g", [F.col("v"), F.col("id")], partitions=16)
    assert got.agg(F.max("rk")).collect()[0][0] == 5000
    assert got.select("rk").distinct().count() == 5000


@pytest.mark.parametrize("n_tiles", [3, 4, 7])
def test_grouped_ntile_matches_window(spark, n_tiles):
    """grouped_ntile must reproduce ntile(n) OVER (PARTITION BY g ...)
    bit-for-bit, including a hot group, a NULL group, uneven tiles, and
    a group smaller than n."""
    import random

    from textgraphs_spark.operators.rankops import grouped_ntile

    rng = random.Random(7)
    rows = []
    for i in range(1200):
        g = "hot" if i % 4 else rng.choice([None, "a", "b"])
        rows.append((i, g, rng.randint(0, 49)))
    rows += [(9000, "tiny", 1), (9001, "tiny", 2)]  # group smaller than n
    df = spark.createDataFrame(rows, ["id", "g", "v"])
    got = {
        r["id"]: r["tile"]
        for r in grouped_ntile(
            df, "g", n_tiles, [F.col("v"), F.col("id")], partitions=16
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("v", "id")
    want = {
        r["id"]: r["t"]
        for r in df.withColumn("t", F.ntile(n_tiles).over(w)).collect()
    }
    assert got == want
