"""Correctness checks of one ER result against generator truth.

``pairwise_f1`` follows the protocol of ``bench.py:distributed_engage``:
labeled surface forms that share a name blocking key (last token + first
initial, ``operators.blocking.block_keys``) form the pairs; a pair is a
true match when both forms name the same true entity and a predicted
match when both landed in the same cluster.
"""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

from .gen import PERSON

MIN_F1 = 0.99


class CheckFailed(Exception):
    """A job's output is wrong; the job counts as failed."""


def pairwise_f1(rows) -> tuple[int, int, int, float]:
    """rows: iterable of (block_key, surface, true_entity, cluster_id) for
    labeled forms. Returns (tp, fp, fn, f1) over unordered pairs of
    distinct surfaces within one block."""
    blocks: dict[str, list[tuple]] = defaultdict(list)
    for block, surface, entity, cluster in rows:
        blocks[block].append((surface, entity, cluster))
    tp = fp = fn = 0
    for members in blocks.values():
        for (s1, e1, c1), (s2, e2, c2) in combinations(members, 2):
            if s1 == s2:
                continue
            same_entity, same_cluster = e1 == e2, c1 == c2
            tp += same_entity and same_cluster
            fp += same_cluster and not same_entity
            fn += same_entity and not same_cluster
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return tp, fp, fn, f1


def check_assignments(assignments, truth: dict[str, int],
                      expected_keys: set[str]) -> float:
    """Check one assignment table (entity_key, cluster_id, surface, label)
    and return its pairwise F1.

    * every entity gets exactly one cluster;
    * the entity keys are exactly ``expected_keys``, and the person forms
      are exactly the truth forms;
    * pairwise F1 >= ``MIN_F1``.
    """
    from textgraphs_spark.operators.blocking import block_keys

    pdf = block_keys(assignments).select(
        "entity_key", "cluster_id", "surface", "label", "block_key"
    ).toPandas()
    if pdf.entity_key.duplicated().any():
        raise CheckFailed("an entity was assigned to more than one cluster")
    if set(pdf.entity_key) != expected_keys:
        raise CheckFailed("assigned entity keys differ from the input entities")
    persons = set(pdf.surface[pdf.label == PERSON])
    if persons != set(truth):
        raise CheckFailed(
            f"{len(set(truth) - persons)} truth forms unassigned, "
            f"{len(persons - set(truth))} unexpected person forms"
        )
    labeled = pdf[pdf.surface.isin(truth.keys())]
    *_, f1 = pairwise_f1(
        (b, s, truth[s], c)
        for b, s, c in zip(labeled.block_key, labeled.surface, labeled.cluster_id)
    )
    if f1 < MIN_F1:
        raise CheckFailed(f"pairwise F1 {f1:.4f} < {MIN_F1}")
    return f1
