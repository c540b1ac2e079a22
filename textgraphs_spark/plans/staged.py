"""Checkpoint-resumable pipeline base: stage materialization through
the sources.tables seam plus per-stage lineage / per-partition metrics
accounting (the north rule's "resumable from checkpoint with
per-partition lineage + metrics"). Extracted verbatim from ERPipeline
so every staged plan (ER, curation) shares one audited implementation.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import tables as TBL


class StagedPipeline:
    """Checkpointed run rooted at ``workdir``.

    Re-running with the same workdir resumes: any stage whose table
    output already exists is read back instead of recomputed. Without a
    workdir, stages are localCheckpoint'ed (lineage truncation without
    durable storage).
    """

    def __init__(self, spark: SparkSession, workdir: str | None = None):
        self.spark = spark
        self.workdir = workdir
        self._lineage: list[dict] = []
        self._metrics: list[dict] = []

    # -- checkpoint helpers ------------------------------------------------
    def _stage(self, name: str, build) -> DataFrame:
        """Materialize a stage through a table checkpoint (if workdir).

        Storage goes through the sources.tables seam — parquet in this
        sandbox, Iceberg on clusters with the runtime + catalog
        configured (SPARK_GRAFT_TABLE_FORMAT=iceberg)."""
        t0 = time.time()
        if self.workdir:
            path = os.path.join(self.workdir, name)
            if not TBL.stage_exists(self.spark, path):
                TBL.write_table(build(), path)
            df = TBL.read_table(self.spark, path)
        else:
            df = build().localCheckpoint()
        self._record(name, df, t0)
        return df

    def _record(self, name: str, df: DataFrame, t0: float) -> None:
        """Append stage ``name``'s lineage row and per-partition metrics
        rows for the materialized ``df``, timed from ``t0``.

        One job yields both the stage total and the per-partition row
        histogram: partition count is O(shuffle.partitions), so the
        collect is a few KB even when the stage holds 10^12 rows."""
        part_rows = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .collect()
        )
        n = sum(r.rows for r in part_rows)
        ts = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        if part_rows:
            self._metrics.extend(
                {"stage": name, "partition_id": r.partition_id, "rows": r.rows, "ts": ts}
                for r in part_rows
            )
        else:  # empty stage: keep it visible in the metrics table
            self._metrics.append(
                {"stage": name, "partition_id": -1, "rows": 0, "ts": ts}
            )
        n_parts = max(len(part_rows), 1)
        max_rows = max((r.rows for r in part_rows), default=0)
        self._lineage.append({
            "stage": name, "rows": n,
            "n_partitions": n_parts,
            "max_partition_rows": max_rows,
            # skew = max/mean partition size; ~1.0 is balanced, >>1 means a
            # hot key survived salting and this stage gates the wall clock
            "skew": round(max_rows * n_parts / n, 3) if n else 0.0,
            "seconds": round(time.time() - t0, 3),
            "ts": ts,
        })

    def lineage_df(self) -> DataFrame:
        return self.spark.createDataFrame(self._lineage)

    def metrics_df(self) -> DataFrame:
        return self.spark.createDataFrame(self._metrics)

    def write_lineage(self) -> None:
        """Append accumulated lineage/metrics rows to the workdir tables,
        then DRAIN the in-memory lists — a later phase on the same
        instance (e.g. update() after run()) must not re-append them."""
        if self.workdir and self._lineage:
            TBL.write_table(
                self.lineage_df(), os.path.join(self.workdir, "lineage"),
                mode="append",
            )
            self._lineage = []
        if self.workdir and self._metrics:
            TBL.write_table(
                self.metrics_df(), os.path.join(self.workdir, "metrics"),
                mode="append",
            )
            self._metrics = []
