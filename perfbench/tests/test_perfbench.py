"""Tests of the benchmark's own code; none of them starts Spark.

    python -m pytest perfbench/tests -q
"""

import json
import os
import time
from collections import defaultdict

import pytest

from perfbench import gen, run, spans
from perfbench.procmem import PeakRss
from perfbench.quality import pairwise_f1
from perfbench.workloads import WORKLOADS, ErFold


# -- seeded inputs ------------------------------------------------------------

def test_same_seed_same_inputs():
    assert gen.vocabulary(5, 800) == gen.vocabulary(5, 800)
    assert gen.pages(5, 40) == gen.pages(5, 40)
    assert gen.pages(5, 40, universe=gen.PAGES_UNIVERSE) == gen.pages(
        5, 40, universe=gen.PAGES_UNIVERSE
    )


def test_other_seed_other_inputs():
    assert gen.vocabulary(5, 800)[0] != gen.vocabulary(6, 800)[0]
    assert gen.pages(5, 40)[0] != gen.pages(6, 40)[0]


def test_vocabulary_shape():
    rows, truth = gen.vocabulary(7, 3000)
    assert len(rows) == 3000
    surfaces = [r["surface"] for r in rows]
    assert len(set(surfaces)) == len(surfaces) == len(truth)
    assert len({r["entity_key"] for r in rows}) == len(rows)
    assert all(1 <= r["doc_freq"] <= r["mention_count"] for r in rows)


def test_vocabulary_name_blocks_hold_one_person():
    # a name block (last token + first initial) never mixes two people,
    # so pairwise F1 >= 0.99 is reachable by design
    _, truth = gen.vocabulary(7, 5000)
    people = defaultdict(set)
    for surface, ent in truth.items():
        toks = surface.lower().replace(".", "").split()
        people[(toks[-1], toks[0][0])].add(ent)
    assert all(len(p) == 1 for p in people.values())


def test_fold_batches_use_seeds_disjoint_from_the_base():
    fold = ErFold(None, 3, "unused")
    batch_seeds = {fold._seed(k) for k in range(1, ErFold.max_folds + 1)}
    assert len(batch_seeds) == ErFold.max_folds
    assert fold._seed(0) not in batch_seeds
    base_ids = {r["doc_id"] for r in gen.pages(fold._seed(0), 50)[0]}
    batch_ids = {r["doc_id"] for r in gen.pages(fold._seed(1), 50)[0]}
    assert not base_ids & batch_ids


# -- pairwise F1 ----------------------------------------------------------------

def test_pairwise_f1_hand_built():
    rows = [
        # block herzog|w: one person split over two clusters
        ("herzog|w", "Werner Herzog", 1, "c1"),
        ("herzog|w", "W. Herzog", 1, "c1"),
        ("herzog|w", "Werner M. Herzog", 1, "c2"),
        # block klein|a: two people merged into one cluster
        ("klein|a", "Anna Klein", 2, "c3"),
        ("klein|a", "A. Klein", 3, "c3"),
        # a repeated surface is not a pair
        ("klein|a", "A. Klein", 3, "c3"),
        # singleton block: no pairs
        ("vogel|b", "Boris Vogel", 4, "c4"),
    ]
    tp, fp, fn, f1 = pairwise_f1(rows)
    assert (tp, fp, fn) == (1, 2, 2)
    precision, recall = 1 / 3, 1 / 3
    assert f1 == pytest.approx(2 * precision * recall / (precision + recall))


def test_pairwise_f1_perfect_and_empty():
    rows = [("k|a", "Anna K", 1, "x"), ("k|a", "A. K", 1, "x")]
    assert pairwise_f1(rows) == (1, 0, 0, 1.0)
    assert pairwise_f1([]) == (0, 0, 0, 0.0)


# -- span self times --------------------------------------------------------------

def _span(name, start, end, parent=None, job=0, **counts):
    return spans.Span(name, job, parent, start, end, counts)


def test_self_time_on_nested_spans():
    tree = [
        _span("job", 0.0, 10.0),
        _span("blocking", 1.0, 4.0, parent=0),
        _span("trace", 2.0, 3.0, parent=1),
        _span("scoring", 5.0, 9.0, parent=0),
        _span("blocking", 6.0, 8.0, parent=3),
    ]
    assert spans.self_times(tree) == pytest.approx([3.0, 2.0, 1.0, 2.0, 2.0])
    m = spans.job_metrics(tree, 0)
    assert m["er_pipeline.assign_self_s"] == pytest.approx(3.0)
    assert m["blocking.self_s"] == pytest.approx(4.0)
    assert m["scoring.self_s"] == pytest.approx(2.0)
    assert m["extract.self_s"] == 0.0


def test_covered_merges_overlaps_and_clips():
    assert spans.covered((0, 10), [(1, 5), (3, 7)]) == pytest.approx(6)
    assert spans.covered((2, 4), [(0, 3), (3.5, 9)]) == pytest.approx(1.5)
    assert spans.covered((0, 1), [(2, 3)]) == 0


def test_job_metrics_sums_counts_of_one_job():
    tree = [
        _span("job", 0.0, 2.0, job=1),
        _span("scoring", 0.5, 1.0, parent=0, job=1, **{"scoring.pairs_in": 7}),
        _span("scoring", 1.0, 1.5, parent=0, job=1, **{"scoring.pairs_in": 5}),
        _span("job", 3.0, 4.0, job=2),
        _span("scoring", 3.0, 4.0, parent=3, job=2, **{"scoring.pairs_in": 100}),
    ]
    m = spans.job_metrics(tree, 1)
    assert m["scoring.pairs_in"] == 12
    assert m["scoring.self_s"] == pytest.approx(1.0)
    assert m["er_pipeline.assign_self_s"] == pytest.approx(1.0)


def test_tracer_links_parents():
    tr = spans.Tracer()
    with tr.span("job"):
        with tr.span("blocking"):
            with tr.span("trace"):
                pass
        with tr.span("scoring"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("job", None), ("blocking", 0), ("trace", 1), ("scoring", 0),
    ]
    root = tr.spans[0]
    assert sum(spans.self_times(tr.spans)) == pytest.approx(root.end - root.start)


# -- BENCHMARK.json ----------------------------------------------------------------

def test_printed_metrics_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_peak_rss_counts_this_process():
    sampler = PeakRss(interval=0.02).start()
    time.sleep(0.2)
    assert sampler.stop() > 1
