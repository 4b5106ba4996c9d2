#!/usr/bin/env python3
"""Review-pipeline benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds its inputs from ``--seed``,
measures for ``--seconds``, checks the program's outputs, and prints
one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same workload with
tracing on and reports the per-layer metrics, keeping its spans in
memory and writing them to ``.perfbench_work/trace-<workload>-s<seed>.json``
at the end. Everything else the run writes stays under
``.perfbench_work/`` in the checkout and is removed at exit. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def _process_start() -> float:
    """perf_counter() value at which this process was started, so that
    set-up time includes interpreter start-up."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        return time.perf_counter() - max(0.0, age)
    except (OSError, ValueError, IndexError):
        return time.perf_counter()


T_START = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4

LIVE_RATE = 20
WORKLOADS = {
    f"stream_live_{LIVE_RATE}": (
        "stream",
        {"rate": float(LIVE_RATE), "docs": 5000, "max_tick_s": 30.0},
    ),
    "batch_suite": ("batch", {"sf": "0.01"}),
}
# --scale smoke: the same code paths on the smallest inputs
SMOKE = {
    "stream": {"docs": 500},
    "batch": {"sf": "0.001"},
}

END_TO_END = {
    "latency_p50_s": "s",
    "latency_p95_s": "s",
    "wall_s": "s",
    "setup_s": "s",
}


def per_layer_catalogue() -> dict[str, str]:
    """Every per-layer metric and its unit. Metrics of the other
    workload's layers are reported as 0 (all of them counts or ratios)."""
    from batch import ENTRIES
    from stream import QUERIES
    from tracing import PHASES

    cat = {
        "op.wall_s": "s", "op.build_s": "s", "op.action_s": "s",
        "spark.jobs": "count", "spark.jobs_build": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
        "spark.executor_run_s": "s", "spark.busy_frac": "ratio",
        "trace.latency_p50_s": "s", "op.latency_samples": "count", "proc.peak_rss_mb": "MB",
        "topology.queries_per_tick": "count", "topology.batches_per_tick": "count",
        "topology.outside_trigger_frac": "ratio", "topology.raw_reads_per_record": "ratio",
        "topology.tick_growth": "ratio",
    }
    for q in QUERIES:
        for p in PHASES:
            cat[f"topology.{q}.{p}_frac"] = "ratio"
    cat.update({
        "state.dedup.rows_total": "count", "state.dedup.memory_bytes": "bytes",
        "state.dedup.commit_frac": "ratio", "state.dedup.dropped_late": "count",
        "filetopic.produce_batch_frac": "ratio", "filetopic.produce_batch_calls": "count",
        "filetopic.records_written": "count",
    })
    for e in ENTRIES:
        cat.update({
            f"{e}.wall_frac": "ratio", f"{e}.build_frac": "ratio",
            f"{e}.jobs_build": "count", f"{e}.jobs_action": "count",
        })
    cat.update({"batch.build_frac": "ratio", "batch.jobs_build": "count"})
    return cat


def _isolate(work: str) -> dict[str, str]:
    """Point every scratch location (Python, JVM, Spark, DuckDB) into the
    run's work directory; returns extra Spark conf."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "yelp_streaming_etl_pipeline_spark"))
    ):
        print(f"program not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    kind, cfg = WORKLOADS[args.workload]
    cfg = dict(cfg, **(SMOKE[kind] if args.scale == "smoke" else {}))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    extra = _isolate(work)
    sys.path[:0] = [HERE, ROOT]

    from yelp_streaming_etl_pipeline_spark.session import get_spark

    import batch
    import stream
    import tracing as TR

    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=extra)
    TR.log(T_START, "spark session ready")
    try:
        res = (stream if kind == "stream" else batch).run(
            spark, work, args.seed, args.seconds, bool(args.trace), cfg, T_START
        )
        res["per_layer"]["proc.peak_rss_mb"] = (TR.peak_rss_mb(), "MB")
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        trace_file = os.path.join(os.path.dirname(work), f"trace-{args.workload}-s{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump(res["trace"], f, default=str)
        print(f"trace written to {os.path.relpath(trace_file, ROOT)}", file=sys.stderr)
        cat = per_layer_catalogue()
        got = res["per_layer"]
        metrics = {k: got.get(k, (0, u)) for k, u in cat.items()}
    else:
        metrics = res["end_to_end"]
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
