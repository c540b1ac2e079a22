"""Streaming entity resolution: continuous incremental clustering of an
arriving document stream, folded through ATOMIC snapshot commits.

The north rule's corpus is a continuously-crawled web archive; batch
re-clustering per crawl wastes a full corpus pass on every arrival. This
module folds micro-batches of new documents into the persisted clustering
with ``ERPipeline.update`` (only pairs touching a previously-unseen
surface form are scored; CC merges old assignment edges with new match
edges), via Structured Streaming's ``foreachBatch`` — the idiomatic
bridge for sinks/updates that need full batch-DataFrame semantics.

Design points:

* **One codepath.** The fold calls the SAME ``run()``/``update()`` the
  batch and incremental CLI paths use, and both are thin wrappers over
  ``ERPipeline.resolve`` — the one block → score → CC → assign path —
  so streaming adds arrival handling, never a second clustering
  implementation. Folding equals a one-shot batch run over the union
  when no prior key's canonical surface changes and no block crosses
  ``max_block_size`` between folds (the stream==batch pytest pins that
  case bit-equal); otherwise a fold keeps prior decisions that a batch
  run would revise (ROADMAP D8).
* **Snapshot-commit folding (Iceberg semantics on the parquet seam).**
  ``foreachBatch`` replays micro-batches after failures (at-least-once
  per epoch) and ``update()`` is not idempotent — re-folding would
  double mention counts. Worse, an in-place state overwrite has a
  corruption window: a crash mid-write destroys the only copy of the
  prior clustering. Both windows are closed the way Iceberg closes
  them — immutable snapshots + an atomic commit pointer:

  - fold N+1 READS committed snapshot dir ``v{N}`` and WRITES a fresh
    ``v{N+1}`` (``update(state_from=...)``); the prior state is never
    touched. ``update()`` fully rewrites both state stages anyway, so
    snapshotting adds zero extra IO over the in-place form;
  - the commit is ONE filesystem rename of a marker whose NAME carries
    (version, batch_id) — ``commits/v{N+1}-b{B}.json`` — atomic on
    HDFS/local (a single small PUT on object stores);
  - a crash anywhere before the rename leaves an orphan ``v{N+1}``
    directory that readers never resolve and the replay deletes;
    a replayed batch id at-or-below the committed high-water mark is
    skipped outright. Either way: effectively-once, no corruption.
  - committed snapshots older than ``keep_last`` are pruned AFTER the
    commit (Iceberg's snapshot expiry); markers are kept as the commit
    history.

* **Work per trigger scales with the batch + vocabulary**, never the
  accumulated corpus (update()'s contract) — the property that keeps a
  long-running stream viable at crawl scale.

Read the live clustering back anytime with ``read_current(spark,
workdir)`` — readers see the last COMMITTED snapshot, never a fold in
progress.
"""

from __future__ import annotations

import json
import re
import time

from pyspark.sql import DataFrame, SparkSession

from ..sources import tables as TBL
from ..plans.er_pipeline import ERPipeline

_MARKER_RE = re.compile(r"^v(\d+)-b(-?\d+)\.json$")
_SNAP_RE = re.compile(r"^v(\d+)$")


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def committed(spark: SparkSession, workdir: str) -> tuple[int, int]:
    """(version, batch_id) of the newest committed snapshot, (-1, -1) if
    none. Resolution = list the ``commits/`` markers and take the max
    version — no file contents are read on the hot path (the marker name
    carries both numbers; the JSON body is informational)."""
    fs, p, _ = _fs(spark, workdir + "/commits")
    if not fs.exists(p):
        return -1, -1
    best = (-1, -1)
    for st in fs.listStatus(p):
        m = _MARKER_RE.match(st.getPath().getName())
        if m:
            v, b = int(m.group(1)), int(m.group(2))
            if v > best[0]:
                best = (v, b)
    return best


def _commit(spark: SparkSession, workdir: str, version: int, batch_id: int) -> None:
    """Atomically publish snapshot ``version``: create the marker under a
    temp name, then rename into place (the Hadoop FS single-file rename —
    the same primitive streaming checkpoints rely on)."""
    fs, d, jvm = _fs(spark, workdir + "/commits")
    fs.mkdirs(d)
    name = f"v{version}-b{batch_id}.json"
    tmp = jvm.org.apache.hadoop.fs.Path(workdir + f"/commits/_tmp_{name}")
    out = fs.create(tmp, True)
    body = json.dumps(
        {"version": version, "batch_id": batch_id,
         "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    )
    out.write(bytearray(body.encode("utf-8")))
    out.close()
    final = jvm.org.apache.hadoop.fs.Path(workdir + "/commits/" + name)
    if not fs.rename(tmp, final):
        raise IOError(f"snapshot commit rename failed for {name}")


def _snap_dir(workdir: str, version: int) -> str:
    return f"{workdir}/v{version}"


def read_current(spark: SparkSession, workdir: str,
                 stage: str = "assignments") -> DataFrame:
    """Read ``stage`` from the newest COMMITTED snapshot — the reader
    surface of the fold's snapshot isolation."""
    version, _ = committed(spark, workdir)
    if version < 0:
        raise FileNotFoundError(f"no committed ER snapshot under {workdir}")
    return TBL.read_table(spark, _snap_dir(workdir, version) + "/" + stage)


def _prune(spark: SparkSession, workdir: str, upto_version: int,
           keep_last: int) -> None:
    """Drop snapshot dirs older than the ``keep_last`` newest. One
    listing of the workdir finds them, so a fold never probes the
    versions earlier folds already dropped. Runs only after the commit,
    so a crash mid-prune costs disk, never state."""
    fs, p, _ = _fs(spark, workdir)
    for st in fs.listStatus(p):
        m = _SNAP_RE.match(st.getPath().getName())
        if m and st.isDirectory() and int(m.group(1)) <= upto_version - keep_last:
            TBL.drop_stage(spark, st.getPath().toString())


def er_fold_batch(
    docs: DataFrame,
    batch_id: int,
    workdir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_last: int = 2,
    **pipeline_kw,
) -> bool:
    """Fold ONE batch of documents into the persisted clustering as a
    new committed snapshot.

    First-ever fold bootstraps snapshot v0 with ``ERPipeline.run``
    (writes the extracted/entities/assignments stages + lineage); later
    folds ``update()`` from the committed snapshot into the next.
    Returns False when the batch was skipped (already folded — replay
    after restart). Usable directly for non-streaming callers that
    receive arrivals from an external scheduler.

    ``keep_last`` (>= 1) is the number of newest committed snapshot dirs
    kept after the commit; 0 would prune the snapshot just committed.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    spark = docs.sparkSession
    version, seen = committed(spark, workdir)
    if batch_id <= seen:
        return False
    nxt = _snap_dir(workdir, version + 1)
    # an uncommitted fold attempt may have left an orphan dir — replace it
    TBL.drop_stage(spark, nxt)
    pipe = ERPipeline(spark, workdir=nxt, **pipeline_kw)
    if version < 0:
        pipe.run(docs, id_col, text_col)
    else:
        pipe.update(docs, id_col, text_col,
                    state_from=_snap_dir(workdir, version))
    _commit(spark, workdir, version + 1, batch_id)
    _prune(spark, workdir, version + 1, keep_last)
    return True


def stream_er_updates(
    docs_stream: DataFrame,
    workdir: str,
    *,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    keep_last: int = 2,
    **pipeline_kw,
):
    """Start the incremental-ER stream over ``docs_stream``.

    Each micro-batch is folded into ``workdir`` as a committed snapshot;
    read the live result back anytime with ``read_current(spark,
    workdir)``.

    ``available_now=True`` (default) drains the currently-available input
    and terminates — the backfill/test trigger; pass False for a
    long-running continuous query. Returns the started StreamingQuery
    (callers own ``awaitTermination``).
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        er_fold_batch(
            batch_df, batch_id, workdir,
            id_col=id_col, text_col=text_col, keep_last=keep_last,
            **pipeline_kw,
        )

    writer = (
        docs_stream.writeStream
        .foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
