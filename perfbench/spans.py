"""Layer spans for the traced benchmark run.

A ``Tracer`` keeps spans (name, start, end, parent, job) in memory. The
traced run wraps each layer's public entry point by rebinding the module
attribute the pipeline calls (``install``); untraced runs install
nothing. Every wrapper materialises its result at the boundary
(``localCheckpoint()`` + count) so a span covers the layer's work, not
lazy plan building. Counters the benchmark reads at a boundary, and
the Spark jobs it runs to read them, sit in child spans named
``trace`` so they never count toward a layer's self time.

A layer's self time is its span's duration minus the part of that
interval its child spans cover (``self_times``).
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# span name -> per-layer self-time metric; "job" is the root span the
# runner opens around one job, so its self time is the work the entry
# point does itself (the run_lean assignment join, update()'s merges)
SELF_TIME_METRICS = {
    "extract": "extract.self_s",
    "er_pipeline.aggregate": "er_pipeline.aggregate_self_s",
    "job": "er_pipeline.assign_self_s",
    "blocking": "blocking.self_s",
    "scoring": "scoring.self_s",
    "components": "components.self_s",
    "tables.read": "tables.read_s",
    "tables.write": "tables.write_s",
}


@dataclass
class Span:
    name: str
    job: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.job = 0
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        sp = Span(name, self.job, parent, time.perf_counter())
        self.spans.append(sp)
        self._open.append(idx)
        try:
            yield sp
        finally:
            self._open.pop()
            sp.end = time.perf_counter()

    def to_json(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: duration minus what its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered((s.start, s.end), children.get(i, []))
        for i, s in enumerate(spans)
    ]


def job_metrics(spans: list[Span], job: int) -> dict[str, float]:
    """Per-layer self times and summed counters of one traced job."""
    out = {m: 0.0 for m in SELF_TIME_METRICS.values()}
    for s, self_s in zip(spans, self_times(spans)):
        if s.job != job:
            continue
        if s.name in SELF_TIME_METRICS:
            out[SELF_TIME_METRICS[s.name]] += self_s
        for k, v in s.counts.items():
            out[k] = out.get(k, 0) + v
    return out


# -- wrappers ---------------------------------------------------------------

def install(tracer: Tracer):
    """Wrap each layer's public function in a span; returns ``uninstall``."""
    from pyspark.sql import functions as F

    from textgraphs_spark.operators import blocking as B
    from textgraphs_spark.operators import components as C
    from textgraphs_spark.operators import scoring as S
    from textgraphs_spark.plans import er_pipeline as ERP
    from textgraphs_spark.sources import tables as TBL

    def spanned(name, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def extract(fn):
        @functools.wraps(fn)
        def wrapper(docs, *args, **kwargs):
            with tracer.span("trace") as t:
                t.counts["extract.docs_in"] = docs.count()
            with tracer.span("extract") as sp:
                out = fn(docs, *args, **kwargs).localCheckpoint()
                sp.counts["extract.mentions_out"] = out.count()
            return out
        return wrapper

    def aggregate(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span("er_pipeline.aggregate") as sp:
                out = fn(*args, **kwargs).localCheckpoint()
                sp.counts["er_pipeline.entities_out"] = out.count()
            return out
        return wrapper

    def candidate_pairs(fn):
        @functools.wraps(fn)
        def wrapper(blocked, **kwargs):
            key = kwargs.get("key_col", "block_key")
            cap = kwargs.get("max_block_size", 200)
            with tracer.span("blocking") as sp:
                blocked = blocked.localCheckpoint()
                with tracer.span("trace") as t:
                    sizes = blocked.groupBy(key).count()
                    row = sizes.agg(
                        F.sum("count").alias("rows"),
                        F.max("count").alias("max_rows"),
                        F.sum((F.col("count") > cap).cast("int")).alias("salted"),
                    ).collect()[0]
                    t.counts["blocking.block_rows"] = row["rows"] or 0
                    t.counts["blocking.max_block_rows"] = row["max_rows"] or 0
                    t.counts["blocking.salted_blocks"] = row["salted"] or 0
                out = fn(blocked, **kwargs).localCheckpoint()
                sp.counts["blocking.pairs_out"] = out.count()
                with tracer.span("trace") as t:
                    per_part = [
                        r["count"] for r in
                        out.groupBy(F.spark_partition_id()).count().collect()
                    ]
                    n_parts = out.rdd.getNumPartitions()
                    mean = sum(per_part) / n_parts if n_parts else 0.0
                    t.counts["blocking.partition_skew"] = (
                        max(per_part) / mean if mean else 0.0
                    )
            return out
        return wrapper

    def score_pairs(fn):
        @functools.wraps(fn)
        def wrapper(pairs, *args, **kwargs):
            # the caller's lazy plan (a repartition, update()'s touched-
            # pair join) is the caller's work: materialise it in the
            # caller's span, then score inside this one
            pairs = pairs.localCheckpoint()
            with tracer.span("trace") as t:
                t.counts["scoring.pairs_in"] = pairs.count()
            with tracer.span("scoring") as sp:
                out = fn(pairs, *args, **kwargs).localCheckpoint()
                out.count()
                with tracer.span("trace"):
                    sp.counts["scoring.matches_out"] = out.filter(F.col("match")).count()
            return out
        return wrapper

    def connected_components(fn):
        @functools.wraps(fn)
        def wrapper(edges, **kwargs):
            stats = kwargs.get("stats")
            if stats is None:
                stats = kwargs["stats"] = {}
            with tracer.span("components") as sp:
                out = fn(edges, **kwargs).localCheckpoint()
                out.count()
                with tracer.span("trace"):
                    sp.counts["components.clusters_out"] = (
                        out.select("component").distinct().count()
                    )
                sp.counts["components.edges_in"] = stats.get("edges", 0)
                sp.counts["components.rounds"] = stats.get("rounds", 0)
            return out
        return wrapper

    def components_over_keys(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span("components"):
                out = fn(*args, **kwargs).localCheckpoint()
                out.count()
            return out
        return wrapper

    def read_table(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span("tables.read"):
                out = fn(*args, **kwargs).localCheckpoint()
                out.count()
            return out
        return wrapper

    patches = [
        (ERP, "extract_entities", extract),
        (ERP, "entity_aggregate", aggregate),
        (ERP, "blocking_pairs", lambda fn: spanned("blocking", fn)),
        (B, "candidate_pairs", candidate_pairs),
        (S, "score_pairs", score_pairs),
        (C, "components_over_keys", components_over_keys),
        (C, "connected_components", connected_components),
        (TBL, "read_table", read_table),
        (TBL, "write_table", lambda fn: spanned("tables.write", fn)),
    ]
    originals = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    for mod, attr, wrap in patches:
        setattr(mod, attr, wrap(getattr(mod, attr)))

    def uninstall() -> None:
        for mod, attr, fn in originals:
            setattr(mod, attr, fn)

    return uninstall
