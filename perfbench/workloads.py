"""The ER workloads: set-up, one timed job, and the check of its output.

Every job is one closed-loop request: the runner starts the next job only
after the previous one has finished and been checked. Inputs are written
to parquet during set-up and read back inside the timed job through
``sources.tables.read_table``, the program's storage seam; ground truth
stays in the benchmark.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from textgraphs_spark.plans.er_pipeline import ERPipeline
from textgraphs_spark.sources import tables as TBL
from textgraphs_spark.streaming import er as ER

from . import gen
from .quality import CheckFailed, check_assignments


def _write(rows: list[dict], path: str, files: int = 8) -> None:
    """Write rows as ``files`` parquet files with pyarrow on the driver: no
    Spark job, so set-up warms only the code paths the timed job runs."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for i in range(files):
        chunk = pa.Table.from_pylist(rows[i * step:(i + 1) * step])
        pq.write_table(chunk, os.path.join(path, f"part-{i:03d}.parquet"))


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    ) / 2**20


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work

    def setup(self) -> None:
        raise NotImplementedError

    def job(self):
        """One timed request; returns what ``check`` needs."""
        raise NotImplementedError

    def check(self, result) -> float:
        """Raise ``CheckFailed`` on a wrong output; else return pairwise F1."""
        raise NotImplementedError

    def trace_counts(self, result, layers: dict) -> dict:
        """Extra per-layer counters of a traced job, read after its check."""
        return {}


class ErVocab(Workload):
    """run_lean over a given vocabulary on the star-round CC path: no
    extraction, so blocking, scoring and CC do all the work."""

    name = "er_vocab"
    forms = 7000
    warm_forms = 1000

    def setup(self) -> None:
        rows, self.truth = gen.vocabulary(self.seed, self.forms)
        self.keys = {r["entity_key"] for r in rows}
        warm = os.path.join(self.work, "warm")
        self.input = os.path.join(self.work, "entities")
        _write(rows[: self.warm_forms], warm)
        _write(rows, self.input)
        self._resolve(warm)

    def _resolve(self, path: str):
        ents = TBL.read_table(self.spark, path)
        pipe = ERPipeline(self.spark, small_graph_threshold=0)
        out = pipe.run_lean(None, entities=ents).localCheckpoint()
        out.count()
        return out

    def job(self):
        return self._resolve(self.input)

    def check(self, out) -> float:
        return check_assignments(out, self.truth, self.keys)


class ErFold(Workload):
    """One er_fold_batch of fresh pages per job into a committed snapshot
    bootstrapped from a base corpus during set-up: reads and writes, with
    state that grows fold by fold."""

    name = "er_fold"
    base_pages = 1000
    batch_pages = 600
    max_folds = 8

    def _seed(self, k: int) -> int:
        # base corpus k=0, fold batches k>=1: disjoint page seeds
        return self.seed * 1000 + k

    def setup(self) -> None:
        base, self.truth = gen.pages(
            self._seed(0), self.base_pages, universe=gen.PAGES_UNIVERSE
        )
        _write(base, os.path.join(self.work, "base"))
        self.batch_truth = {}
        for k in range(1, self.max_folds + 1):
            rows, self.batch_truth[k] = gen.pages(
                self._seed(k), self.batch_pages, universe=gen.PAGES_UNIVERSE
            )
            _write(rows, self._batch(k))
        self.state = os.path.join(self.work, "state")
        base_docs = TBL.read_table(self.spark, os.path.join(self.work, "base"))
        ER.er_fold_batch(base_docs, 0, self.state)
        self.folded = 0
        self.n_entities = self.spark.read.parquet(f"{self.state}/v0/entities").count()

    def _batch(self, k: int) -> str:
        return os.path.join(self.work, "batches", str(k))

    def job(self):
        if self.folded >= self.max_folds:
            raise RuntimeError("er_fold ran out of pre-generated batches")
        k = self.folded + 1
        docs = TBL.read_table(self.spark, self._batch(k))
        if not ER.er_fold_batch(docs, k, self.state):
            raise CheckFailed(f"fold {k} was skipped as already folded")
        self.folded = k
        return k

    def check(self, k: int) -> float:
        self.truth.update(self.batch_truth[k])
        if ER.committed(self.spark, self.state) != (k, k):
            raise CheckFailed(f"fold {k} is not the committed snapshot")
        snap = f"{self.state}/v{k}"
        keys = set(
            self.spark.read.parquet(f"{snap}/entities")
            .select("entity_key").toPandas().entity_key
        )
        f1 = check_assignments(
            self.spark.read.parquet(f"{snap}/assignments"), self.truth, keys
        )
        self.fresh_keys = len(keys) - self.n_entities
        self.n_entities = len(keys)
        return f1

    def trace_counts(self, k: int, layers: dict) -> dict:
        touched = layers.get("scoring.pairs_in", 0)
        pairs = layers.get("blocking.pairs_out", 0)
        return {
            "tables.snapshot_mb": _dir_mb(f"{self.state}/v{k}"),
            "update.fresh_keys": self.fresh_keys,
            "update.touched_pairs": touched,
            "update.touched_ratio": touched / pairs if pairs else 0.0,
        }


WORKLOADS = {w.name: w for w in (ErVocab, ErFold)}
