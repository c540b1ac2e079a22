#!/usr/bin/env python3
"""ER benchmark: one seeded workload, measured for a fixed time.

    python3 perfbench/run.py --workload er_vocab --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout on ``local[<nproc>]`` with the library's
session defaults, from a single driver process. Set-up (session start,
input generation and warm-up; for ``er_fold``, the snapshot bootstrap)
is timed as ``setup_s``; then jobs run one after another until the time
is up, each checked for correctness outside its timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced jobs and prints the per-layer metrics (see
README.md). Human-readable lines come first; the last line of standard
output is one JSON object. JVM and Spark logging go to a log file under
``.perfbench/logs`` so the output stays parseable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "2g"

END_TO_END = {
    "job_s": "s", "setup_s": "s", "pairwise_f1": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "extract.self_s": "s", "extract.docs_in": "count",
    "extract.mentions_out": "count",
    "er_pipeline.aggregate_self_s": "s", "er_pipeline.entities_out": "count",
    "er_pipeline.assign_self_s": "s",
    "blocking.self_s": "s", "blocking.block_rows": "count",
    "blocking.max_block_rows": "count", "blocking.salted_blocks": "count",
    "blocking.pairs_out": "count", "blocking.partition_skew": "ratio",
    "scoring.self_s": "s", "scoring.pairs_in": "count",
    "scoring.matches_out": "count", "scoring.pair_yield": "ratio",
    "components.self_s": "s", "components.edges_in": "count",
    "components.rounds": "count", "components.clusters_out": "count",
    "tables.read_s": "s", "tables.write_s": "s", "tables.snapshot_mb": "MB",
    "update.fresh_keys": "count", "update.touched_pairs": "count",
    "update.touched_ratio": "ratio",
    "trace.overhead_s": "s",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["er_vocab", "er_fold"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's Python workers,
    and wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.procmem import descendants

    gateway = SparkContext._gateway
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _run_job(wl, tracer, idx: int) -> dict:
    """One timed job, then its check. Returns the job's record."""
    from perfbench import spans
    from perfbench.quality import CheckFailed

    rec = {"traced": tracer is not None, "ok": False}
    uninstall = None
    try:
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.job = idx
            uninstall = spans.install(tracer)
            with tracer.span("job"):
                result = wl.job()
        else:
            result = wl.job()
        rec["wall"] = time.perf_counter() - t0
    except Exception:
        traceback.print_exc()
        return rec
    finally:
        if uninstall is not None:
            uninstall()
    try:
        rec["f1"] = wl.check(result)
        rec["ok"] = True
    except CheckFailed as e:
        print(f"check failed: {e}", file=sys.stderr)
    if tracer is not None:
        layers = spans.job_metrics(tracer.spans, idx)
        layers.update(wl.trace_counts(result, layers))
        rec["layers"] = layers
    return rec


def _layer_metrics(records: list[dict]) -> dict:
    traced = [r for r in records if r["traced"] and "layers" in r]
    out = {}
    for name in PER_LAYER:
        vals = [r["layers"].get(name, 0) for r in traced]
        out[name] = statistics.median(vals) if vals else 0.0
    pairs_in = out["scoring.pairs_in"]
    out["scoring.pair_yield"] = out["scoring.matches_out"] / pairs_in if pairs_in else 0.0
    walls = {
        mode: [r["wall"] for r in records if r["traced"] is mode and "wall" in r]
        for mode in (True, False)
    }
    if walls[True] and walls[False]:
        out["trace.overhead_s"] = (
            statistics.median(walls[True]) - statistics.median(walls[False])
        )
    return out


def run(args, work: str, logs: str) -> dict:
    t_setup = time.perf_counter()
    from textgraphs_spark.session import get_spark

    from perfbench.procmem import PeakRss
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(
        "perfbench", master=f"local[{nproc}]",
        extra_conf={
            # the heap starts at its cap, so the JVM's resident size does not
            # depend on when the collector chose to grow it; no perf-data
            # file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        wl.setup()
        setup_s = time.perf_counter() - t_setup

        tracer = Tracer() if args.trace else None
        records: list[dict] = []
        rss = PeakRss().start()
        t0 = time.perf_counter()
        while True:
            traced = tracer if args.trace and len(records) % 2 == 1 else None
            records.append(_run_job(wl, traced, len(records)))
            elapsed = time.perf_counter() - t0
            # closed loop: start another job only if it should finish in time
            if elapsed * (len(records) + 1) / len(records) > args.seconds and (
                len(records) >= 2 or not args.trace
            ):
                break
        peak_mb = rss.stop()
        if tracer is not None:
            with open(os.path.join(
                    logs, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump(tracer.to_json(), fh)
    finally:
        _stop_spark(spark)

    ok = [r for r in records if r["ok"]]
    failed = len(records) - len(ok)
    walls = [r["wall"] for r in ok if not r["traced"]]
    if not walls:
        raise RuntimeError("no untraced job completed")
    end_to_end = {
        "job_s": statistics.median(walls),
        "setup_s": setup_s,
        "pairwise_f1": min(r["f1"] for r in ok),
        "peak_rss_mb": peak_mb,
    }
    metrics = (
        {k: (v, PER_LAYER[k]) for k, v in _layer_metrics(records).items()}
        if args.trace else
        {k: (v, END_TO_END[k]) for k, v in end_to_end.items()}
    )
    print(f"workload {args.workload} seed {args.seed}: {len(records)} jobs "
          f"({len(walls)} untraced), job walls "
          + " ".join(f"{w:.3f}" for w in walls))
    print(f"failed_share {failed / len(records):.4f} ({failed}/{len(records)})")
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    return {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = _args(argv)
    base = os.path.join(ROOT, ".perfbench")
    logs = os.path.join(base, "logs")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    # Python workers are forked by the JVM and import textgraphs_spark
    # by name: put the checkout root on their path, whatever the cwd.
    # Temp files, shuffle blocks and the catalog stay in the checkout.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.update({
        # session.py's driver-memory knob (its default, 8g, would let the
        # heap grow far past what these inputs need on a shared host)
        "SPARK_DRIVER_MEMORY": HEAP,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
    })
    # the JVM writes to the inherited fd 2: point it at a log file before
    # the JVM starts, and keep the real stderr for failures
    log_path = os.path.join(logs, f"jvm-{args.workload}-{args.seed}.log")
    real_err = os.dup(2)
    sink = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(sink, 2)
    os.close(sink)
    try:
        result = run(args, work, logs)
    except Exception:
        with os.fdopen(real_err, "w") as err:
            traceback.print_exc(file=err)
            with open(log_path, errors="replace") as fh:
                err.write("--- log tail ---\n" + "".join(fh.readlines()[-30:]))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
