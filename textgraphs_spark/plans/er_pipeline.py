"""The flagship plan: pages/documents → entity clusters.

This is the reference's extraction + entity-linking pipeline
(reference: textgraphs/doc.py:381-560, kg.py:306-367, 851-1142) re-expressed
as the north-star record-linkage job:

    extract (mapInPandas, flat per-doc entity mentions)
      → entity aggregate: one groupBy on the entity key (vocabulary-sized)
      → blocking (normalized keys + MinHash-LSH, salted for skew)
      → pairwise scoring inside each salted block: one sorted
        mapInPandas pass (batched JW) emits only the match edges
        (score >= MIN_SIMILARITY, reference defaults.py:14)
      → transitive clustering (connected components, min-member-key ids)
      → assignments: every entity gets a cluster (unmatched = singleton)

``entity_aggregate`` and ``ERPipeline.resolve`` (``match_edges`` → CC →
assign) are the one definition of those stages; ``run``, ``run_lean``,
``update`` and the streaming fold are thin wrappers over them.
``blocking_pairs`` and ``scoring.score_pairs`` stay as the reference
pair path the evaluation operators measure; ``match_edges`` yields
exactly its match set.

``run`` checkpoints its stages (``extracted``, ``entities``,
``assignments``) to parquet under the workdir (mirroring the reference's
own dump/load round-trip as its resume mechanism, graph.py:236-392) and
appends to two audit tables — ``lineage`` (per stage: rows, partitions,
max-partition rows, skew ratio, wall seconds) and ``metrics`` (per stage
x partition: row count) — the north rule's "resumable from checkpoint
with per-partition lineage + metrics".
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import blocking as B
from ..operators import components as C
from ..operators import scoring as S
from ..operators.extract import extract_entities, extract_graphs
from ..sources import tables as TBL


def mention_rows(extracted: DataFrame) -> DataFrame:
    """Per-(doc, key) extraction rows (``extract_entities`` output or
    ``nodes_table`` rows: node_key, surface, label, count) → the
    aggregate's input shape: one document's mentions of one key."""
    return extracted.select(
        F.col("node_key").alias("entity_key"), "surface", "label",
        F.col("count").alias("mention_count"), F.lit(1).alias("doc_freq"),
    )


def entity_aggregate(rows: DataFrame) -> DataFrame:
    """rows(entity_key, surface, label, mention_count, doc_freq) → the
    vocabulary-sized entity aggregate the whole ER stack runs on: one
    hash aggregation on the entity key. Fresh extraction (``mention_rows``)
    and a prior aggregate unioned with new rows go through the same call.

    The result is localCheckpointed: it truncates lineage so every
    downstream plan reads the materialized partitions — plain
    ``.persist()`` can miss cache substitution across mapInPandas lineage
    and silently recompute the whole extraction.
    """
    return rows.groupBy("entity_key").agg(
        # min, not first: the canonical surface of a key must be
        # deterministic across partitionings (and reproducible by the
        # SQL oracle) — first() depends on shuffle order
        F.min("surface").alias("surface"),
        F.min("label").alias("label"),
        F.sum("mention_count").alias("mention_count"),
        F.sum("doc_freq").alias("doc_freq"),
    ).localCheckpoint()


def blocked_keys(entities: DataFrame) -> DataFrame:
    """entities(entity_key, surface, ...) → (entity_key, surface,
    channel, bkey): one row per blocking-key membership across both
    channels — ``channel`` is ``'name'`` (normalized last token + first
    initial) or ``'minhash'`` (md5-family LSH band keys over the
    normalized surface, reproducible in DuckDB). This is the pre-salting
    block table ``match_edges`` salts and scores in place (and
    ``blocking_pairs`` self-joins); exposed so diagnostics
    (plans/er_eval.blocking_stats) describe the EXACT blocks the
    pipeline builds.
    """
    keyed = B.block_keys(entities)
    name = keyed.select(
        "entity_key", "surface",
        F.lit("name").alias("channel"),
        F.col("block_key").alias("bkey"),
    )
    mh = B.minhash_band_keys(
        keyed, "entity_key", "norm", carry_cols=("surface",),
        hash_family="md5",
    )
    return name.unionByName(
        mh.select(
            "entity_key", "surface",
            F.lit("minhash").alias("channel"),
            F.concat_ws("|", F.lit("mh"), "band_id", "band_key").alias("bkey"),
        )
    )


def blocking_pairs(
    entities: DataFrame, *, max_block_size: int = 200
) -> DataFrame:
    """entities(entity_key, surface, ...) → distinct candidate pairs via
    both blocking channels: the normalized-name block key (last token +
    first initial) UNION MinHash-LSH band keys over the normalized
    surface, salted above ``max_block_size`` (blocking.candidate_pairs).

    Module-level so the evaluation operators (plans/er_eval) measure the
    EXACT candidate set the pipeline clusters from: ``match_edges``
    scores these pairs inside their blocks, and its edges are the
    matches among them.
    """
    blocked = blocked_keys(entities).drop("channel")
    return B.candidate_pairs(
        blocked, key_col="bkey", id_col="entity_key",
        max_block_size=max_block_size,
    )


def match_edges(
    entities: DataFrame, *, max_block_size: int = 200,
    prior: DataFrame | None = None,
) -> DataFrame:
    """entities(entity_key, surface, ...) → match edges (left_id,
    right_id), left_id < right_id: the pairs of ``blocking_pairs`` that
    ``score_pairs`` marks as matches, found without building the pairs.

    The salted block rows are hash-partitioned and sorted on
    ``salted_key``, so each block is a run of adjacent rows, and
    ``scoring.block_match_edges`` scores every block's pairs inside its
    partition; only matches leave the Python worker. A pair that several
    blocks share comes out once per block (CC starts with a ``distinct``).

    With a ``prior`` assignment table, a block row is ``fresh`` when its
    key has no prior row (one join of the block rows against the prior
    keys), and pairs with no fresh end are never scored; without one,
    every row is fresh. The edges are localCheckpointed because CC reads
    them twice (key ids and CC input).
    """
    spark = entities.sparkSession
    blocked = blocked_keys(entities).drop("channel")
    fresh = F.lit(True)
    if prior is not None:
        old = prior.select("entity_key", F.lit(True).alias("_old"))
        blocked = blocked.join(old, "entity_key", "left")
        fresh = F.col("_old").isNull()
    salted = B._salt_oversized(
        blocked.select("bkey", "entity_key", "surface", fresh.alias("fresh")),
        "bkey", "entity_key", max_block_size,
    )
    id_type = entities.schema["entity_key"].dataType
    schema = T.StructType([
        T.StructField("left_id", id_type), T.StructField("right_id", id_type),
    ])
    # an explicit partition count: AQE coalesces shuffles by BYTE size,
    # but the scoring pass is compute-bound per ROW — a few MB of block
    # rows coalesced into one partition would score on one core
    n_parts = spark.sparkContext.defaultParallelism * 2
    return (
        salted.select("salted_key", "entity_key", "surface", "fresh")
        .repartition(n_parts, "salted_key")
        .sortWithinPartitions("salted_key")
        .mapInPandas(S.block_match_edges, schema)
        .localCheckpoint()
    )


class ERPipeline:
    """Checkpointed entity-resolution run rooted at ``workdir``.

    Re-running with the same workdir resumes: any stage whose table
    output already exists is read back instead of recomputed. Without a
    workdir, stages are localCheckpoint'ed (lineage truncation without
    durable storage).
    """

    def __init__(self, spark: SparkSession, workdir: str | None = None, *,
                 max_block_size: int = 200,
                 include_lemmas: bool = False,
                 small_graph_threshold: int = 500_000):
        self.spark = spark
        self.workdir = workdir
        self._lineage: list[dict] = []
        self._metrics: list[dict] = []
        self.max_block_size = max_block_size
        # include NOUN/PROPN lemma mentions as resolvable entities —
        # for corpora whose text has no NER surface forms
        self.include_lemmas = include_lemmas
        # CC size-adaptive cutover: up to this many match edges the
        # clustering runs as a driver union-find; 0 forces the
        # distributed path, a per-partition contraction pass then
        # large-star/small-star rounds until the edges form a star forest
        # (engage-scale proof runs and clusters-at-10^12 both take that
        # path). Every resolve overwrites ``self.cc_stats`` with the
        # evidence of its own clustering: path, edges, and rounds (passes
        # over the edge set, the contraction pass included; 0 on the
        # union-find path).
        self.small_graph_threshold = small_graph_threshold
        self.cc_stats: dict = {}

    # -- checkpoint helpers ------------------------------------------------
    def _stage(self, name: str, build) -> DataFrame:
        """Materialize a stage through a table checkpoint (if workdir).

        Storage goes through the sources.tables seam — parquet by
        default, Iceberg on clusters with the runtime + catalog
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

    def _extract(self, docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        return extract_entities(docs, id_col, text_col, include_lemmas=self.include_lemmas)

    def resolve(
        self, entities: DataFrame, *, prior: DataFrame | None = None
    ) -> DataFrame:
        """entities(entity_key, surface, label, mention_count, doc_freq) →
        assignments(entity_key, cluster_id, surface, label, mention_count,
        doc_freq): block → score → CC → assign, the one definition every
        entry point runs. Blocking and scoring are one block-local pass
        (``match_edges``).

        ``prior`` is a committed assignment table (entity_key, cluster_id,
        ...) over a subset of ``entities``. Only pairs touching a FRESH key
        (one with no prior row) are scored: old-old pair decisions are
        already encoded by the prior clustering (match scores depend on
        surfaces alone). Prior rows with ``entity_key != cluster_id``
        join the match edges as CC edges — ``cluster_id`` is the min
        member key, so a prior row is an edge inside its old cluster — and
        connected components merges clusters transitively, so a new
        bridging form can fuse two old clusters. The result equals a
        full-batch run when no prior key's canonical surface changes and
        no block crosses ``max_block_size`` between folds; otherwise old
        decisions stand unrevised (ROADMAP D8).
        """
        edges = match_edges(
            entities, max_block_size=self.max_block_size, prior=prior
        )
        if prior is not None:
            edges = edges.unionByName(
                prior.filter(F.col("entity_key") != F.col("cluster_id")).select(
                    F.col("entity_key").alias("left_id"),
                    F.col("cluster_id").alias("right_id"),
                )
            )
        clusters = C.components_over_keys(
            edges,
            small_graph_threshold=self.small_graph_threshold,
            stats=self.cc_stats,
        )
        return (
            entities.join(clusters, "entity_key", "left")
            .withColumn("cluster_id", F.coalesce("cluster_id", F.col("entity_key")))
            .select("entity_key", "cluster_id", "surface", "label", "mention_count", "doc_freq")
        )

    def run(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> dict[str, DataFrame]:
        """Staged batch run → {extracted, entities, clusters}.

        ``extracted`` (flat per-doc entity mentions), ``entities`` and
        the assignment table (returned as ``clusters``) each materialize
        as a stage, so a resumed run reads them back instead of
        recomputing.
        """
        extracted = self._stage("extracted", lambda: self._extract(docs, id_col, text_col))
        entities = self._stage("entities", lambda: entity_aggregate(mention_rows(extracted)))
        assignments = self._stage("assignments", lambda: self.resolve(entities))
        self.write_lineage()
        return {"extracted": extracted, "entities": entities, "clusters": assignments}

    def run_lean(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
        *, entities: DataFrame | None = None,
    ) -> DataFrame:
        """Throughput-path variant: one lazy DAG, no per-stage counts;
        returns the assignment frame.

        Extraction feeds the vocabulary-sized ``entities`` aggregate, which
        is the only thing persisted — it is reused by both blocking
        channels and the final assignment join, so extraction runs exactly
        once while everything downstream operates on a table ~4 orders of
        magnitude smaller than the corpus. This is the shape that matters
        at 10^12 docs: the corpus is touched once, in one pass.

        Pass ``entities`` (entity_key, surface, label, mention_count,
        doc_freq) to skip extraction — for callers that already hold the
        aggregate from a shared extraction pass.
        """
        if entities is None:
            entities = entity_aggregate(mention_rows(self._extract(docs, id_col, text_col)))
        return self.resolve(entities)

    def update(self, new_docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", *,
               state_from: str | None = None) -> DataFrame:
        """Incrementally fold a NEW batch of documents into an existing
        clustering (the continuously-crawled-corpus path): merge the
        batch's mention rows into the prior entity aggregate, then
        ``resolve`` the merged vocabulary against the prior assignments —
        only pairs touching a previously-unseen key are scored. The
        result equals a full-batch run when no prior key's canonical
        surface changes and no block crosses ``max_block_size`` between
        folds; otherwise prior decisions stand unrevised (ROADMAP D8).

        Work scales with |new batch| + |vocabulary|, never |old corpus|.
        Writes refreshed ``entities``/``assignments`` stages back to the
        workdir and returns the new assignments.

        ``state_from`` reads the PRIOR entities/assignments from a
        different directory than the one being written — the
        snapshot-isolation hook ``streaming.er`` folds through (each fold
        reads committed snapshot v(N) and writes v(N+1), so a crash
        mid-write can never corrupt readable state). Default (None) is
        the classic in-place refresh of ``self.workdir``.
        """
        if not self.workdir:
            raise ValueError("update() needs the workdir of a prior run()")
        t0 = time.time()
        spark = self.spark
        src = state_from or self.workdir
        for stage in ("entities", "assignments"):
            if not TBL.stage_exists(spark, os.path.join(src, stage)):
                raise FileNotFoundError(
                    f"update() found no completed '{stage}' stage under "
                    f"{src} — run() must finish once before "
                    "incremental updates"
                )
        old_entities = TBL.read_table(spark, os.path.join(src, "entities"))
        old_assign = TBL.read_table(spark, os.path.join(src, "assignments"))

        merged = entity_aggregate(
            old_entities.unionByName(mention_rows(self._extract(new_docs, id_col, text_col)))
        )
        assignments = self.resolve(merged, prior=old_assign).localCheckpoint()
        # refresh the resumable state. Direct overwrite is safe — both
        # DataFrames are localCheckpoint'ed, so their lineage no longer
        # reads the paths being replaced — and it works on any Hadoop
        # filesystem (hdfs://, s3a://), unlike driver-local rmtree/rename.
        for stage, df in (("entities", merged), ("assignments", assignments)):
            TBL.write_table(df, os.path.join(self.workdir, stage))
        # drop the now-stale extraction checkpoint: a later run() on this
        # workdir must never resume pre-update mentions against
        # post-update entities
        TBL.drop_stage(spark, os.path.join(self.workdir, "extracted"))
        self._record("update", assignments, t0)
        self.write_lineage()
        return assignments


def ranked_clusters(
    spark: SparkSession,
    docs: DataFrame,
    *,
    workdir: str | None = None,
    include_lemmas: bool = True,
    max_iter: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Clusters + per-cluster PageRank ranking, extraction-shape chosen
    by whether a ``workdir`` exists:

    * **staged** (``workdir`` set) — the corpus is scanned ONCE: the full
      graph extraction materializes as the pipeline's ``extracted``
      checkpoint, and BOTH consumers (the entity aggregate feeding
      blocking→scoring→CC, and the lemma-edge table feeding PageRank)
      read that parquet back. The right shape at 10^12 docs, where
      re-reading the corpus is the dominant cost — and a resumed run
      re-reads the stage instead of re-extracting.
    * **one-shot** (no workdir) — two lazy passes: the cheap flat entity
      extraction for clustering plus an edges-only graph extraction for
      ranking. Measured ~2x cheaper than materializing the nested graph
      rows in memory at sf0.1, where extraction is compute-, not
      IO-bound (see the er_ranked_clusters query note).

    Both paths emit identical values (same oracle hash): the entity
    aggregate from per-doc graph nodes equals ``extract_entities``'s —
    one row per (doc, key) with the same surface/label/count fields.
    """
    from ..operators.extract import corpus_edges, nodes_table

    pipe = ERPipeline(spark, workdir, include_lemmas=include_lemmas)
    if workdir:
        extracted = pipe._stage(
            "extracted",
            lambda: extract_graphs(docs, id_col, text_col, parts=("nodes", "edges")),
        )
        kind_pred = (
            (F.col("kind") == "ent")
            | (F.lit(include_lemmas) & (F.col("kind") == "lem")
               & F.col("pos").isin("NOUN", "PROPN"))
        )
        entities = entity_aggregate(mention_rows(nodes_table(extracted).filter(kind_pred)))
        edges_src = extracted
    else:
        entities = None
        edges_src = extract_graphs(docs, id_col, text_col, parts=("edges",))
    assignments = pipe.run_lean(docs, id_col, text_col, entities=entities)
    pipe.write_lineage()
    edges = corpus_edges(edges_src).select(
        F.col("src_key").alias("src"), F.col("dst_key").alias("dst"),
        F.col("count").alias("weight"),
    )
    return ranked_cluster_members(assignments, edges, max_iter=max_iter)


def ranked_cluster_members(
    assignments: DataFrame, lemma_edges: DataFrame, *, max_iter: int = 20
) -> DataFrame:
    """Rank the linked entities inside each cluster by PageRank over the
    aggregated lemma graph — the reference's TextRank phrase ranking
    (doc.py:927-933, α=0.85) re-expressed at corpus level: one iterative-
    join PageRank over the whole graph, then a per-cluster window rank.

    ``lemma_edges`` is the corpus edge table (src, dst, weight); nodes
    absent from the graph rank after all ranked members (rank mass 0).
    """
    from pyspark.sql.window import Window

    from ..operators.pagerank import pagerank

    pr = pagerank(lemma_edges, max_iter=max_iter)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last("rank"), "entity_key"
    )
    return (
        assignments.join(
            pr.withColumnRenamed("node", "entity_key"), "entity_key", "left"
        )
        .withColumn("rank_in_cluster", F.row_number().over(w))
        .select(
            "cluster_id", "rank_in_cluster", "entity_key", "surface",
            F.round(F.coalesce("rank", F.lit(0.0)), 6).alias("rank"),
            "mention_count",
        )
    )


def cluster_summary(assignments: DataFrame) -> DataFrame:
    """Entity clusters with members and sizes — the flagship query answer.

    ``members`` is a pipe-joined sorted string (not array<string>): scalar
    columns survive any downstream canonicalizer/hasher, and the value is
    byte-identical to what an ANSI-SQL oracle can produce. Callers that
    want the array split on '|'.
    """
    return (
        assignments.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_forms"),
            F.sum("mention_count").alias("n_mentions"),
            F.array_join(F.sort_array(F.collect_set("surface")), "|").alias("members"),
            F.max("mention_count").alias("max_mentions"),
        )
        .orderBy(F.desc("n_mentions"), "cluster_id")
    )
