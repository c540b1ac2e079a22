"""Structured Streaming tests: the exactly-once incremental ER fold
(``streaming/er.py``), the stateless ``simhash_col`` expression, and
extraction planned on a streaming source."""


def test_stream_extract_builds_on_stream(spark, tmp_path):
    """_respread must not force batch planning on a streaming source."""
    from textgraphs_spark.operators.extract import extract_graphs

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "Werner Herzog met Anna Klein in Germany.")], "doc_id long, text string"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = extract_graphs(stream)          # must not raise at plan time
    q = (
        out.select("doc_id").writeStream
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "eck"))
        .format("memory")
        .queryName("ext_out")
        .start()
    )
    q.awaitTermination()
    assert spark.sql("SELECT * FROM ext_out").count() == 1


def test_simhash_col_matches_batch_kernel(spark):
    """The stateless per-row SimHash expression is bit-identical to the
    groupBy aggregation kernel."""
    from pyspark.sql import functions as F

    from textgraphs_spark.operators.dedup import simhash, simhash_col

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3} shared tail words") for i in range(20)]
        + [(100, ""), (101, "one")],
        "doc_id long, text string",
    )
    batch = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    exprv = {
        r.doc_id: r.fp
        for r in docs.select("doc_id", simhash_col("text").alias("fp")).collect()
    }
    # the aggregation kernel emits no row for token-less docs; the
    # stateless expression gives them fingerprint 0 (all sums 0)
    assert exprv.pop(100) == 0
    assert batch == exprv


def test_stream_er_matches_batch_and_skips_replay(spark, tmp_path):
    """Streaming incremental ER (foreachBatch -> run()/update() folds):
    after draining 3 micro-batches the committed assignments must equal a
    one-shot batch run over the union, and a replayed batch id must be
    skipped by the committed high-water mark (update() is not
    idempotent)."""
    from pyspark.sql import functions as F

    from textgraphs_spark.plans.er_pipeline import ERPipeline
    from textgraphs_spark.sources.pages import synth_pages
    from textgraphs_spark.streaming.er import (
        committed, er_fold_batch, read_current, stream_er_updates,
    )

    docs = synth_pages(spark, 240).select(
        F.xxhash64("url").alias("doc_id"), "text"
    ).cache()
    src = tmp_path / "er_src"
    src.mkdir()
    for part in range(3):  # 3 files => 3 deterministic micro-batches
        docs.filter(F.pmod("doc_id", F.lit(3)) == part).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    wd = str(tmp_path / "er_wd")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_er_updates(stream, wd, checkpoint=str(tmp_path / "er_ck"))
    q.awaitTermination()

    got = sorted(map(tuple, read_current(spark, wd).collect()))
    want = sorted(map(tuple, ERPipeline(spark).run_lean(docs).collect()))
    assert got == want
    assert len(got) > 0
    assert committed(spark, wd) == (2, 2)  # 3 folds -> snapshots v0..v2

    # replaying an already-folded batch id is a no-op
    dup = docs.filter(F.pmod("doc_id", F.lit(3)) == 0)
    assert er_fold_batch(dup, 0, wd) is False
    assert sorted(map(tuple, read_current(spark, wd).collect())) == got

    # a genuinely new batch id still folds (the stream can resume)
    assert er_fold_batch(dup.limit(0), 99, wd) is True
    # empty fold changes nothing but commits a new snapshot
    assert sorted(map(tuple, read_current(spark, wd).collect())) == got
    assert committed(spark, wd) == (3, 99)


def test_stream_er_crash_before_commit_recovers_exactly_once(spark, tmp_path, monkeypatch):
    """The fold's crash window: state stages written but the commit
    marker not yet renamed. Readers must keep resolving the prior
    snapshot (no partial state visible), and the foreachBatch REPLAY of
    the same batch id must fold it exactly once — final clustering
    bit-equal to a never-crashed run (an in-place overwrite + separate
    high-water mark would double mention counts here)."""
    from pyspark.sql import functions as F

    from textgraphs_spark.sources.pages import synth_pages
    from textgraphs_spark.streaming import er as ER

    docs = synth_pages(spark, 160).select(
        F.xxhash64("url").alias("doc_id"), "text"
    ).cache()
    b0 = docs.filter(F.pmod("doc_id", F.lit(2)) == 0)
    b1 = docs.filter(F.pmod("doc_id", F.lit(2)) == 1)

    wd = str(tmp_path / "er_crash_wd")
    assert ER.er_fold_batch(b0, 0, wd) is True
    v0 = sorted(map(tuple, ER.read_current(spark, wd).collect()))

    # crash INSIDE the commit: v1 state dirs fully written, marker absent
    real_commit = ER._commit

    def boom(*a, **k):
        raise RuntimeError("simulated crash before snapshot commit")

    monkeypatch.setattr(ER, "_commit", boom)
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="simulated crash"):
        ER.er_fold_batch(b1, 1, wd)
    monkeypatch.setattr(ER, "_commit", real_commit)

    # reader isolation: the orphan v1 dir is invisible
    assert ER.committed(spark, wd) == (0, 0)
    assert sorted(map(tuple, ER.read_current(spark, wd).collect())) == v0

    # replay folds the batch exactly once
    assert ER.er_fold_batch(b1, 1, wd) is True
    got = sorted(map(tuple, ER.read_current(spark, wd).collect()))

    # reference: the same two folds without any crash
    wd2 = str(tmp_path / "er_clean_wd")
    ER.er_fold_batch(b0, 0, wd2)
    ER.er_fold_batch(b1, 1, wd2)
    want = sorted(map(tuple, ER.read_current(spark, wd2).collect()))
    assert got == want


def test_stream_er_snapshot_pruning(spark, tmp_path, monkeypatch):
    """Snapshot expiry: only the ``keep_last`` newest snapshot dirs
    survive a sequence of folds; the committed reader never breaks. Each
    fold drops only the snapshot that left the window, never re-probing
    the ones earlier folds dropped (per-fold work must not grow with
    the number of versions)."""
    import os
    import re

    from pyspark.sql import functions as F

    from textgraphs_spark.sources import tables as TBL
    from textgraphs_spark.sources.pages import synth_pages
    from textgraphs_spark.streaming import er as ER

    dropped = []
    real_drop = TBL.drop_stage

    def counted_drop(spark_, path):
        dropped.append(path)
        real_drop(spark_, path)

    monkeypatch.setattr(TBL, "drop_stage", counted_drop)

    docs = synth_pages(spark, 120).select(
        F.xxhash64("url").alias("doc_id"), "text"
    ).cache()
    wd = str(tmp_path / "er_prune_wd")
    for b in range(3):
        batch = docs.filter(F.pmod("doc_id", F.lit(3)) == b)
        dropped.clear()
        assert ER.er_fold_batch(batch, b, wd, keep_last=1) is True
        # snapshot dirs below the one this fold committed
        older = [
            int(m.group(1)) for m in
            (re.search(r"/v(\d+)/?$", path) for path in dropped)
            if m and int(m.group(1)) < b
        ]
        assert older == ([b - 1] if b else []), (b, dropped)

    assert ER.committed(spark, wd) == (2, 2)
    assert not os.path.exists(os.path.join(wd, "v0"))
    assert not os.path.exists(os.path.join(wd, "v1"))
    assert ER.read_current(spark, wd).count() > 0
    # commit history markers survive expiry (the audit trail)
    markers = [n for n in os.listdir(os.path.join(wd, "commits"))
               if not n.startswith(".")]  # Hadoop local-FS .crc sidecars
    assert sorted(markers) == ["v0-b0.json", "v1-b1.json", "v2-b2.json"]


def test_stream_er_rejects_keep_last_below_one(spark, tmp_path):
    """keep_last=0 would prune the snapshot the fold just committed, and
    every later fold would find no committed state. Both entry points
    refuse it before any work; the prior snapshot stays readable."""
    import pytest

    from pyspark.sql import functions as F

    from textgraphs_spark.sources.pages import synth_pages
    from textgraphs_spark.streaming import er as ER

    docs = synth_pages(spark, 60).select(
        F.xxhash64("url").alias("doc_id"), "text"
    ).cache()
    wd = str(tmp_path / "er_keep_wd")
    assert ER.er_fold_batch(docs.filter(F.pmod("doc_id", F.lit(2)) == 0), 0, wd)
    v0 = sorted(map(tuple, ER.read_current(spark, wd).collect()))

    with pytest.raises(ValueError, match="keep_last"):
        ER.er_fold_batch(
            docs.filter(F.pmod("doc_id", F.lit(2)) == 1), 1, wd, keep_last=0
        )
    src = str(tmp_path / "er_keep_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    with pytest.raises(ValueError, match="keep_last"):
        ER.stream_er_updates(
            stream, wd, checkpoint=str(tmp_path / "er_keep_ck"), keep_last=0
        )

    assert ER.committed(spark, wd) == (0, 0)
    assert sorted(map(tuple, ER.read_current(spark, wd).collect())) == v0
