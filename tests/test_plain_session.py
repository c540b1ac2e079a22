"""Driver-environment robustness: everything that crosses the Arrow
boundary must behave identically when Arrow is OFF — which is Spark's
DEFAULT, and the external harness's session config.

Round-4 lesson: ``spark.sql.execution.arrow.pyspark.enabled`` changes the
PYTHON SHAPE of struct cells crossing ``toPandas()`` — dicts with Arrow,
``pyspark.sql.Row`` without — and the repo's own session helper enables
Arrow, so a Row-only bug in components.py passed every local gate while
crashing 7 driver correctness rows (CORRECTNESS_r04). These tests flip
the conf at runtime (it is session-local and runtime-settable) and drive
the exact call chain the driver uses.

Audited Arrow-shape-dependent boundaries (see PLANS.md "Arrow boundary
audit"): components._driver_union_find (struct ids cross toPandas and
createDataFrame as flattened long columns — covered here),
graphops.girvan_newman_communities (long-only itertuples — shape-invariant).
"""

import pytest
from pyspark.sql import functions as F

from textgraphs_spark.operators.components import (
    components_over_keys,
    connected_components,
)

ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture()
def plain(spark):
    """The shared session with Arrow disabled — the driver's default
    shape — restored afterwards so other tests see the tuned config."""
    saved = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, "false")
    yield spark
    spark.conf.set(ARROW_CONF, saved)


def test_components_over_keys_without_arrow(plain):
    """The r4 regression: struct node ids arrive as Row (not dict) when
    Arrow is off; the driver union-find must decode both shapes."""
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    df = plain.createDataFrame(edges, ["left_id", "right_id"])
    stats = {}
    out = components_over_keys(df, stats=stats).collect()
    assert stats["path"] == "union_find"  # the shape-sensitive fast path
    cl = {r["entity_key"]: r["cluster_id"] for r in out}
    assert cl == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_struct_cc_arrow_on_off_identical(spark, plain):
    """Struct-id CC through the driver fast path must return the same
    assignment under both Arrow shapes (dict cells vs Row cells), and the
    createDataFrame return leg must accept dict cells without Arrow."""
    import random

    rng = random.Random(23)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(40)]
    edges = [(a, b) for a, b in edges if a != b]

    def run(sess):
        df = sess.createDataFrame(edges, ["sa", "sb"]).select(
            F.struct(F.col("sa").cast("long").alias("hi"),
                     (F.col("sa") * 3).cast("long").alias("lo")).alias("src"),
            F.struct(F.col("sb").cast("long").alias("hi"),
                     (F.col("sb") * 3).cast("long").alias("lo")).alias("dst"),
        )
        return {(tuple(r["node"]), tuple(r["component"]))
                for r in connected_components(df).collect()}

    no_arrow = run(plain)
    plain.conf.set(ARROW_CONF, "true")
    with_arrow = run(plain)
    plain.conf.set(ARROW_CONF, "false")
    assert no_arrow == with_arrow


def test_er_lean_clusters_without_arrow(plain, sf_dir):
    """The flagship call chain (ERPipeline.run_lean → components_over_keys
    → cluster_summary) end-to-end under the driver's session shape — the
    exact path behind the 7 red CORRECTNESS_r04 rows."""
    from textgraphs_spark.plans.er_pipeline import ERPipeline, cluster_summary

    docs = plain.read.parquet(f"{sf_dir}/documents.parquet")
    out = ERPipeline(plain, include_lemmas=True).run_lean(docs)
    summary = cluster_summary(out).collect()
    assert len(summary) > 0
    # every cluster id is the min member key (string), never a raw hash
    assert all(isinstance(r["cluster_id"], str) for r in summary)


def test_entry_contract_without_arrow(plain):
    """__spark_entry__.entry must hold under a default-shape session, not
    just the repo helper (VERDICT r4 item 7)."""
    import __spark_entry__ as entrymod

    df = entrymod.entry(plain)
    rows = df.collect()
    assert len(rows) > 0
    assert "cluster_id" in df.columns
