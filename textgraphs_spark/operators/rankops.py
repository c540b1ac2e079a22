"""Exact global/grouped ranking WITHOUT a single-task sort.

The naive exact forms — ``Window.orderBy(...)`` with no partition, or
``Window.partitionBy(hot_group)`` — funnel the whole corpus (or the
whole hot group) through ONE task, the acknowledged scale ceiling of
the ``per_source_cap`` query. These operators compute the IDENTICAL
values with the standard two-phase construction:

1. ``repartitionByRange`` on the ordering key — the sort work is
   distributed across K disjoint, globally-ordered ranges (equal keys
   land in one partition, so ties never straddle a boundary);
2. per-partition ``row_number`` (each task sorts only its range);
3. per-partition row COUNTS (a K-row / (K + groups)-row aggregate)
   turned into cumulative OFFSETS, added back to the local row numbers.

The only non-distributed step is the offset cumulation, which runs
over a table bounded by the PARTITION COUNT (global form) or by
(groups x partitions-they-span) (grouped form) — cluster-sized /
vocabulary-sized, never data-sized. Values are exact: every operator
is verified equal to its single-task Spark window form.

The range-partitioned input is ``localCheckpoint``-ed so the counting
job and the ranking job observe the SAME physical partitioning
(``spark_partition_id`` is only meaningful against materialized
partitions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _as_cols(order_cols) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_cols]


def global_rank(
    df: DataFrame,
    order_cols,
    *,
    rank_col: str = "rank",
    partitions: int | None = None,
) -> DataFrame:
    """Exact global row_number over ``order_cols`` (ties broken by the
    caller including a unique key), distributed via range partitioning.
    Adds ``rank_col`` (long, 1-based); EAGER (checkpoints the
    range-partitioned input)."""
    spark = df.sparkSession
    k = partitions or spark.sparkContext.defaultParallelism * 2
    cols = _as_cols(order_cols)
    d = df.repartitionByRange(k, *cols).localCheckpoint()
    dp = d.withColumn("_pid", F.spark_partition_id())
    sizes = dp.groupBy("_pid").agg(F.count("*").alias("_c"))
    # cumulative offsets: a window over <= k rows — bounded by cluster
    # size, not data size (the one legitimately tiny serial step)
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "_pid", F.coalesce(F.sum("_c").over(woff), F.lit(0)).alias("_off")
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        dp.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def grouped_rank(
    df: DataFrame,
    group_col: str,
    order_cols,
    *,
    rank_col: str = "rk",
    partitions: int | None = None,
) -> DataFrame:
    """Exact per-group row_number (``row_number() OVER (PARTITION BY
    group ORDER BY ...)``) where a HOT group never funnels into one
    task: range-partition on (group, order...), rank locally, and add
    per-(partition, group) offsets cumulated per group. The offsets
    table is joined back (not force-broadcast — group cardinality grows
    with the data); NULL groups rank as ONE group, matching window
    partitioning semantics, via a null-safe join."""
    spark = df.sparkSession
    k = partitions or spark.sparkContext.defaultParallelism * 2
    cols = _as_cols(order_cols)
    d = df.repartitionByRange(k, F.col(group_col), *cols).localCheckpoint()
    dp = d.withColumn("_pid", F.spark_partition_id())
    counts = dp.groupBy("_pid", group_col).agg(F.count("*").alias("_c"))
    # per-group cumulation over the <= k partitions the group spans
    woff = (
        Window.partitionBy(group_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        F.col("_pid").alias("_opid"),
        F.col(group_col).alias("_og"),
        F.coalesce(F.sum("_c").over(woff), F.lit(0)).alias("_off"),
    )
    w = Window.partitionBy("_pid", group_col).orderBy(*cols)
    return (
        dp.withColumn("_rn", F.row_number().over(w))
        .join(
            offsets,
            (F.col("_pid") == F.col("_opid"))
            & F.col(group_col).eqNullSafe(F.col("_og")),
        )
        .withColumn(rank_col, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_pid", "_opid", "_og", "_rn", "_off")
    )


def grouped_ntile(
    df: DataFrame,
    group_col: str,
    n: int,
    order_cols,
    *,
    tile_col: str = "tile",
    partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n) OVER (PARTITION BY group ORDER BY ...)`` without
    the hot-group single-task window: ``grouped_rank`` supplies the exact
    per-group row number, per-group totals join back (null-safe, NOT
    force-broadcast — group cardinality grows with the data), and the
    closed-form tile assignment (first ``N % n`` tiles carry ``N/n + 1``
    rows) reproduces window-ntile semantics bit-for-bit."""
    ranked = grouped_rank(
        df, group_col, order_cols, rank_col="_grk", partitions=partitions
    )
    totals = df.groupBy(F.col(group_col).alias("_tg")).agg(
        F.count("*").alias("_n_total")
    )
    r = F.col("_n_total") % n
    q = F.floor(F.col("_n_total") / n)
    big = r * (q + 1)
    rank = F.col("_grk")
    tile = F.when(
        rank <= big, F.floor((rank - 1) / (q + 1)) + 1
    ).otherwise(
        r + F.floor((rank - big - 1) / F.greatest(q, F.lit(1))) + 1
    )
    return (
        ranked.join(totals, F.col(group_col).eqNullSafe(F.col("_tg")))
        .withColumn(tile_col, tile.cast("int"))
        .drop("_grk", "_tg", "_n_total")
    )


def grouped_cumsum(
    df: DataFrame,
    group_col: str,
    order_cols,
    value_col: str,
    *,
    cumsum_col: str = "cum",
    partitions: int | None = None,
) -> DataFrame:
    """Exact per-group running sum (``sum(value) OVER (PARTITION BY
    group ORDER BY ... ROWS UNBOUNDED PRECEDING)``, inclusive) with the
    grouped_rank anti-funnel shape: range-partition on (group, order),
    cumulate locally, and add per-(partition, group) VALUE offsets
    cumulated per group — a hot group spans many partitions instead of
    serializing into one window task. The offsets table is
    vocabulary×k-sized and joined back (null-safe; NULL groups cumulate
    as one group, matching window semantics). Order must be total per
    group or the running sum is ambiguous — same contract as the SQL
    window."""
    spark = df.sparkSession
    k = partitions or spark.sparkContext.defaultParallelism * 2
    cols = _as_cols(order_cols)
    d = df.repartitionByRange(k, F.col(group_col), *cols).localCheckpoint()
    dp = d.withColumn("_pid", F.spark_partition_id())
    sums = dp.groupBy("_pid", group_col).agg(F.sum(value_col).alias("_s"))
    woff = (
        Window.partitionBy(group_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sums.select(
        F.col("_pid").alias("_opid"),
        F.col(group_col).alias("_og"),
        F.coalesce(F.sum("_s").over(woff), F.lit(0)).alias("_off"),
    )
    w = (
        Window.partitionBy("_pid", group_col)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        dp.withColumn("_local", F.sum(value_col).over(w))
        .join(
            offsets,
            (F.col("_pid") == F.col("_opid"))
            & F.col(group_col).eqNullSafe(F.col("_og")),
        )
        .withColumn(cumsum_col, (F.col("_off") + F.col("_local")).cast("long"))
        .drop("_pid", "_opid", "_og", "_local", "_off")
    )
