"""Constraint-aware clustering: reviewer cannot-link verdicts folded
into the transitive closure.

The reference pipeline has no human-in-the-loop surface (its linking is
fully automatic — textgraphs/kg.py:444-788); a production ER deployment
does: `er_review_queue` surfaces borderline pairs, a reviewer rejects
some, and the NEXT clustering run must honor those rejections. This
module closes that loop:

* ``cannot_links`` removes rejected pairs from the MATCH EDGE set
  before closure — a rejected pair never contributes its own edge;
* transitive co-membership can still reconnect the pair through OTHER
  accepted edges (A≠B but A~C~B). Proper repair of those is
  correlation clustering (NP-hard); instead of silently approximating,
  ``constraint_violations`` AUDITS them — every rejected pair is
  reported with whether it still landed in one cluster, so the residue
  is visible, not hidden. This is the semantics dedupe-style tooling
  ships, and it is exactly expressible as one anti-join + the shared
  CC kernel.

Scale shape: the cannot-link table is reviewer-sized (human throughput
— thousands of rows, broadcastable, but expressed as a key-keyed
anti-join so nothing breaks if it grows); everything else reuses the
lean pipeline's plan unchanged (one corpus pass, vocabulary-sized
entity aggregate, checkpointed match edges, size-adaptive CC).

The deterministic "reviewer" used by the registered queries rejects
pairs whose canonical-pair Lehmer hash ≡ 0 (mod ``modulus``) — an
engine-neutral 1/modulus sample of the proposed matches that the
DuckDB oracle regenerates bit-identically from ITS matches CTE
(er_oracle.constrained_clustering_ctes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import components as C
from ..operators.lehmer import det_hash
from .er_pipeline import ERPipeline


def _canonical_edges(match_edges: DataFrame) -> DataFrame:
    return match_edges.select(
        F.least("left_id", "right_id").alias("left_id"),
        F.greatest("left_id", "right_id").alias("right_id"),
    )


def pair_hash(left: str = "left_id", right: str = "right_id"):
    """Engine-neutral Lehmer hash of the canonical (left, right) pair —
    the md5 → 60-bit int → MINSTD mixer (operators/lehmer.py) over the
    '|'-joined pair key."""
    gid = F.conv(
        F.substring(
            F.md5(F.concat(F.col(left), F.lit("|"), F.col(right))), 1, 15
        ),
        16, 10,
    ).cast("long")
    return det_hash(gid)


def synthetic_cannot_links(match_edges: DataFrame, *, modulus: int = 7) -> DataFrame:
    """Deterministic reviewer stand-in: reject the ~1/modulus of
    proposed match edges whose canonical-pair hash ≡ 0 (mod modulus).
    A real deployment replaces this with the reviewer verdict table —
    everything downstream is shape-identical."""
    e = _canonical_edges(match_edges)
    return e.filter(pair_hash() % modulus == 0)


def constrained_run(
    spark,
    docs: DataFrame | None,
    cannot_links: DataFrame | None = None,
    *,
    entities: DataFrame | None = None,
    modulus: int = 7,
    include_lemmas: bool = False,
) -> dict[str, DataFrame]:
    """Lean pipeline + cannot-link removal → {assignments, cannot,
    entities}. With ``cannot_links=None`` the deterministic reviewer
    stand-in supplies them (the registered-query configuration); pass
    ``entities`` to skip extraction (the labeled eval-corpus path —
    the organic documents corpus never produces multi-member clusters,
    so constraint semantics are exercised on the variant corpus)."""
    pipe = ERPipeline(spark, include_lemmas=include_lemmas)
    parts = pipe.run_lean(docs, entities=entities, return_parts=True)
    edges = _canonical_edges(parts["match_scores"])
    cannot = (
        _canonical_edges(cannot_links)
        if cannot_links is not None
        else synthetic_cannot_links(edges, modulus=modulus)
    )
    kept = edges.join(cannot, ["left_id", "right_id"], "left_anti")
    clusters = C.components_over_keys(
        kept, small_graph_threshold=pipe.small_graph_threshold, stats=pipe.cc_stats
    )
    assignments = (
        parts["entities"]
        .join(clusters, "entity_key", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("entity_key")))
        .select(
            "entity_key", "cluster_id", "surface", "label", "mention_count", "doc_freq"
        )
    )
    return {"assignments": assignments, "cannot": cannot, "entities": parts["entities"]}


def constraint_violations(
    assignments: DataFrame, cannot: DataFrame
) -> DataFrame:
    """(left_id, right_id, violated) — the audit: a rejected pair is
    VIOLATED when other accepted edges still connect it transitively
    (same cluster despite the removed direct edge). Two key-keyed joins
    against the vocabulary-sized assignment table."""
    a = assignments.select(
        F.col("entity_key").alias("left_id"), F.col("cluster_id").alias("_lc")
    )
    b = assignments.select(
        F.col("entity_key").alias("right_id"), F.col("cluster_id").alias("_rc")
    )
    return (
        cannot.join(a, "left_id").join(b, "right_id")
        .select(
            "left_id", "right_id",
            (F.col("_lc") == F.col("_rc")).alias("violated"),
        )
    )
