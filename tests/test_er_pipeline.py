"""End-to-end entity resolution on synthetic pages: pairwise F1 vs the
generator's ground truth on labeled pairs sharing a blocking key — the
BASELINE.json metric (target F1 >= 0.99)."""

import pytest
from pyspark.sql import functions as F

from textgraphs_spark.operators.blocking import block_keys
from textgraphs_spark.plans.er_pipeline import ERPipeline, cluster_summary
from textgraphs_spark.sources.pages import extract_text, gen_page, synth_pages, truth_mentions

N_PAGES = 300


@pytest.fixture(scope="module")
def er_result(spark):
    pages = synth_pages(spark, N_PAGES).cache()
    docs = pages.select(
        F.xxhash64("url").alias("doc_id"), "text", "url"
    )
    pipe = ERPipeline(spark)
    out = pipe.run(docs)
    out["truth"] = truth_mentions(pages)
    out["docs"] = docs
    return out


def test_extraction_byte_identity():
    """Per-url invariant: extract_text(html) == text, byte-identical
    (BASELINE.json input_hint)."""
    for i in range(50):
        page = gen_page(42, i, N_PAGES)
        assert extract_text(page["html"]) == page["text"], page["url"]


def test_pairwise_f1(er_result, spark):
    """Pairwise F1 >= 0.99 on labeled pairs sharing a blocking key."""
    truth = er_result["truth"]
    # ground truth at surface-form level: one entity_id per distinct surface
    # (the generator never reuses a surface across entities)
    surfaces = truth.groupBy("surface").agg(F.min("entity_id").alias("entity_id"))

    assignments = er_result["clusters"].select("surface", "cluster_id")
    labeled = surfaces.join(assignments, "surface", "inner")

    keyed = block_keys(labeled.withColumnRenamed("surface", "surface"))
    a = keyed.select(
        F.col("block_key"),
        F.col("surface").alias("ls"), F.col("entity_id").alias("le"),
        F.col("cluster_id").alias("lc"),
    )
    b = keyed.select(
        F.col("block_key"),
        F.col("surface").alias("rs"), F.col("entity_id").alias("re"),
        F.col("cluster_id").alias("rc"),
    )
    pairs = a.join(b, "block_key").filter(F.col("ls") < F.col("rs"))
    stats = pairs.select(
        (F.col("le") == F.col("re")).cast("int").alias("is_match"),
        (F.col("lc") == F.col("rc")).cast("int").alias("pred"),
    ).agg(
        F.sum(F.col("is_match") * F.col("pred")).alias("tp"),
        F.sum((1 - F.col("is_match")) * F.col("pred")).alias("fp"),
        F.sum(F.col("is_match") * (1 - F.col("pred"))).alias("fn"),
    ).collect()[0]
    tp, fp, fn = stats["tp"] or 0, stats["fp"] or 0, stats["fn"] or 0
    assert tp > 0
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, f"F1={f1:.4f} (p={precision:.4f}, r={recall:.4f}, tp={tp}, fp={fp}, fn={fn})"


def test_variants_cluster_together(er_result):
    """Full and initialed forms of the hot entity land in one cluster."""
    rows = er_result["clusters"].filter(
        F.col("surface").isin("Anna Herzog", "A. Herzog")
    ).select("surface", "cluster_id").distinct().collect()
    by_surface = {r["surface"]: r["cluster_id"] for r in rows}
    if len(by_surface) == 2:
        assert by_surface["Anna Herzog"] == by_surface["A. Herzog"]


def test_cluster_summary_shape(er_result):
    summary = cluster_summary(er_result["clusters"])
    top = summary.first()
    assert top["n_mentions"] >= top["max_mentions"]
    # members is a pipe-joined sorted string (canonicalizer-safe scalar)
    assert len(top["members"].split("|")) == top["n_forms"]


def test_ranked_cluster_members(spark):
    """Within each cluster, members are ranked by lemma-graph PageRank."""
    from pyspark.sql import functions as F

    from textgraphs_spark.plans.er_pipeline import ranked_cluster_members

    assignments = spark.createDataFrame(
        [("a", 1, "Anna", "PERSON", 5, 3), ("b", 1, "A. Klein", "PERSON", 2, 2),
         ("c", 2, "Solo", "PERSON", 1, 1)],
        "entity_key string, cluster_id long, surface string, label string, "
        "mention_count long, doc_freq long",
    )
    # b receives from three nodes; a only donates — b is more central
    edges = spark.createDataFrame(
        [("x", "b", 1.0), ("y", "b", 1.0), ("z", "b", 1.0), ("a", "x", 1.0)],
        "src string, dst string, weight double",
    )
    out = ranked_cluster_members(assignments, edges).collect()
    by_key = {r.entity_key: r for r in out}
    assert by_key["b"].rank_in_cluster == 1
    assert by_key["a"].rank_in_cluster == 2
    assert by_key["c"].rank_in_cluster == 1       # singleton cluster
    assert by_key["c"].rank == 0.0                # absent from the graph
    assert by_key["b"].rank > by_key["a"].rank


def test_salting_bounds_hot_block_pairs(spark):
    """A Zipfian hot blocking key is salted into shards: the pair count
    stays O(n * max_block_size) instead of O(n^2), and no shard exceeds
    the cap."""
    from pyspark.sql import functions as F

    from textgraphs_spark.operators.blocking import candidate_pairs

    n_hot = 1000
    rows = [(f"e{i}", "hot", f"surface {i}") for i in range(n_hot)]
    rows += [(f"c{i}", "cold", f"surface {i}") for i in range(5)]
    blocked = spark.createDataFrame(
        rows, "entity_key string, block_key string, surface string"
    )
    pairs = candidate_pairs(
        blocked, key_col="block_key", id_col="entity_key", max_block_size=100
    )
    n_pairs = pairs.count()
    # unsalted would be C(1000, 2) = 499500; salted: 10 shards of ~100
    assert n_pairs < 3 * n_hot * 100 / 2 + 100, n_pairs
    assert n_pairs > 0
    # every cold-block pair survives (small blocks are untouched)
    cold = pairs.filter(F.col("block_key") == "cold").count()
    assert cold == 5 * 4 / 2


def test_engaged_distributed_paths_match_fast_path(spark):
    """Engage-scale equivalence, end to end: the SAME ER job run with
    (a) the driver union-find CC fast path and (b) the distributed
    large-star/small-star rounds forced on (small_graph_threshold=0),
    both under a max_block_size small enough that block salting
    genuinely engages, must emit identical cluster assignments.

    This is the sandbox form of the at-100TB proof: the star rounds and
    the salting shards are exactly the code a 1000-executor run would
    exercise, and here they reproduce the fast path bit-for-bit on the
    identical pair set."""
    pages = synth_pages(spark, 400)
    docs = pages.select(F.xxhash64("url").alias("doc_id"), "text")
    mbs = 10    # organic max block at 400 pages is ~25 -> salting engages

    with pytest.warns(UserWarning, match="salted blocking engaged"):
        fast = ERPipeline(spark, max_block_size=mbs)
        fast_rows = {tuple(r) for r in fast.run_lean(docs).collect()}
    assert fast.cc_stats["path"] == "union_find"
    assert fast.cc_stats["edges"] > 0

    with pytest.warns(UserWarning, match="salted blocking engaged"):
        dist = ERPipeline(spark, max_block_size=mbs, small_graph_threshold=0)
        dist_rows = {tuple(r) for r in dist.run_lean(docs).collect()}
    assert dist.cc_stats["path"] == "stars"
    assert dist.cc_stats["rounds"] >= 1
    assert dist.cc_stats["edges"] == fast.cc_stats["edges"]

    assert dist_rows == fast_rows
    # and the clustering is non-trivial: at least one multi-form cluster
    multi = [r for r in fast_rows if r[0] != r[1]]
    assert multi


def test_ranked_clusters_staged_single_pass_matches_oneshot(spark, tmp_path):
    """ranked_clusters(workdir=...) must (a) emit values identical to
    the one-shot two-pass form — it shares the er_ranked_clusters
    oracle — and (b) feed BOTH consumers (clustering + PageRank edges)
    from the materialized extraction checkpoint, so the corpus is
    scanned once."""
    from textgraphs_spark.plans.er_pipeline import ranked_clusters

    pages = synth_pages(spark, 120)
    docs = pages.select(F.xxhash64("url").alias("doc_id"), "text")

    oneshot = ranked_clusters(spark, docs, include_lemmas=True)
    wd = str(tmp_path / "rc_wd")
    staged = ranked_clusters(spark, docs, workdir=wd, include_lemmas=True)

    key = lambda r: (r["cluster_id"], r["rank_in_cluster"])  # noqa: E731
    a = sorted((tuple(r) for r in oneshot.collect()), key=lambda t: (t[0], t[1]))
    b = sorted((tuple(r) for r in staged.collect()), key=lambda t: (t[0], t[1]))
    assert a == b
    # single-pass evidence: the extraction checkpoint exists, and a
    # RESUMED staged call given an EMPTY docs frame still reproduces the
    # full result — possible only if neither consumer (clustering nor
    # PageRank edges) ever scans the corpus again; both read the
    # 'extracted' parquet back
    import os

    assert os.path.isdir(os.path.join(wd, "extracted"))
    again = ranked_clusters(
        spark, docs.limit(0), workdir=wd, include_lemmas=True
    )
    c = sorted((tuple(r) for r in again.collect()), key=lambda t: (t[0], t[1]))
    assert c == b


def test_incremental_update_matches_batch(spark, tmp_path):
    """ERPipeline.update(new batch) == full batch run on A ∪ B.

    (Exact equivalence holds while blocks stay under the salting caps —
    resharding a block mid-stream changes which old-old pairs exist,
    which is a different-but-valid clustering.)"""
    pages = synth_pages(spark, 240)
    docs = pages.select(F.xxhash64("url").alias("doc_id"), "text")
    a = docs.limit(160).cache()
    b = docs.subtract(a).cache()
    assert a.count() + b.count() == 240

    wd = str(tmp_path / "incr")
    pipe = ERPipeline(spark, workdir=wd)
    pipe.run(a)
    incr = pipe.update(b)

    full = ERPipeline(spark).run_lean(docs)

    def canon(df):
        return {
            tuple(sorted(r["members"]))
            for r in df.groupBy("cluster_id").agg(
                F.collect_set("entity_key").alias("members")
            ).collect()
        }

    assert canon(incr) == canon(full)
    # the refreshed workdir state is what a subsequent resume reads
    stored = spark.read.parquet(f"{wd}/assignments")
    assert canon(stored) == canon(full)


def test_update_without_prior_run_fails_cleanly(spark, tmp_path):
    import pytest

    pipe = ERPipeline(spark, workdir=str(tmp_path / "never_ran"))
    docs = spark.createDataFrame([(1, "Werner Herzog.")], ["doc_id", "text"])
    with pytest.raises(FileNotFoundError, match="run\\(\\) must finish once"):
        pipe.update(docs)
    # no workdir at all: a ValueError that survives ``python -O``
    with pytest.raises(ValueError, match="needs the workdir of a prior run"):
        ERPipeline(spark).update(docs)


@pytest.mark.parametrize("include_lemmas", [False, True])
def test_run_entities_match_mentions_definition(spark, include_lemmas):
    """run()'s entity aggregate (sum of per-doc counts, one row per doc)
    equals, row for row, the mentions-based definition: one row per
    mention of a kept kind, count(*) -> mention_count and
    countDistinct(doc_id) -> doc_freq."""
    from textgraphs_spark.operators.extract import extract_graphs, mentions_table

    docs = synth_pages(spark, 80).select(F.xxhash64("url").alias("doc_id"), "text")
    got = ERPipeline(spark, include_lemmas=include_lemmas).run(docs)["entities"]

    kind_pred = (F.col("kind") == "ent") | (
        F.lit(include_lemmas) & (F.col("kind") == "lem")
        & F.col("pos").isin("NOUN", "PROPN")
    )
    want = (
        mentions_table(extract_graphs(docs, parts=("mentions",)))
        .filter(kind_pred)
        .groupBy(F.col("node_key").alias("entity_key"))
        .agg(
            F.min("surface").alias("surface"),
            F.min("label").alias("label"),
            F.count("*").alias("mention_count"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
    )
    typed = lambda df: [(f.name, f.dataType) for f in df.schema]  # noqa: E731
    assert typed(got) == typed(want)
    rows = sorted(map(tuple, got.collect()))
    assert rows and rows == sorted(map(tuple, want.collect()))


def test_run_accepts_custom_id_and_text_columns(spark):
    """run() takes the same id/text column names as run_lean() and
    clusters the same way."""
    docs = synth_pages(spark, 80).select(
        F.xxhash64("url").alias("page_id"), F.col("text").alias("body")
    )
    full = ERPipeline(spark).run(docs, "page_id", "body")["clusters"]
    lean = ERPipeline(spark).run_lean(docs, "page_id", "body")
    assert full.count() > 0
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, lean.collect()))


def test_every_entry_point_runs_one_resolve_path(spark, tmp_path, monkeypatch):
    """run, run_lean, update and the streaming fold each block and score
    (one pass) and cluster exactly once, through the same two layer
    functions."""
    from textgraphs_spark.operators import components as C
    from textgraphs_spark.plans import er_pipeline as ERP
    from textgraphs_spark.streaming.er import er_fold_batch

    calls = {}

    def counted(mod, name):
        fn = getattr(mod, name)

        def wrapper(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            return fn(*args, **kwargs)

        monkeypatch.setattr(mod, name, wrapper)

    counted(ERP, "match_edges")
    counted(C, "components_over_keys")

    docs = spark.createDataFrame(
        [(1, "Werner Herzog met Anna Klein."), (2, "W. Herzog filmed in Peru."),
         (3, "Anna Klein and A. Klein live in Berlin.")],
        ["doc_id", "text"],
    )
    a, b = docs.filter("doc_id < 3"), docs.filter("doc_id = 3")
    pipe = ERPipeline(spark, workdir=str(tmp_path / "wd"))
    entry_points = {
        "run": lambda: pipe.run(a)["clusters"].count(),
        "update": lambda: pipe.update(b).count(),
        "run_lean": lambda: ERPipeline(spark).run_lean(docs).count(),
        "fold v0": lambda: er_fold_batch(a, 0, str(tmp_path / "fold")),
        "fold v1": lambda: er_fold_batch(b, 1, str(tmp_path / "fold")),
    }
    for name, call in entry_points.items():
        calls.clear()
        call()
        assert calls == {"match_edges": 1, "components_over_keys": 1}, name


def test_flagship_er_queries_match_oracle(spark, sf_dir):
    """er_clusters, er_incremental (update == batch: its oracle is the
    batch clustering SQL) and er_ranked_clusters hash-match their DuckDB
    oracles under tools/check_oracle.py's comparator."""
    import duckdb

    import __spark_entry__ as em
    from tools.check_oracle import compare

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    queries, oracles = em.queries(), em.oracle_sql()
    for name in ("er_clusters", "er_incremental", "er_ranked_clusters"):
        got = queries[name](spark, sf_dir).toPandas()
        assert len(got) > 0, name
        assert compare(got, con.execute(oracles[name]).df()) == [], name
