#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root)::

    python3 perfbench/run.py --workload stream_replay --seed 1 --seconds 1 --trace 0

Workloads: ``stream_files``, ``stream_replay`` (perfbench/streams.py) and
``suite_heavy`` (perfbench/suite_heavy.py).  Inputs are generated from
``--seed``; every file the run writes lives under
``.perfbench_run/`` in the repository root and is removed at exit.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (event log,
sink timers and job descriptions on).  The line before it carries
details: host fingerprint, sample counts and any errors.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402
from perfbench.eventlog import SPARK_METRICS  # noqa: E402

WORKLOADS = ("stream_files", "stream_replay", "suite_heavy")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "latency_ms_p50": "ms",
    "cpu_s": "s",
}

#: End-to-end measurements printed with the layers instead: a run has
#: ~10 latency samples, too few for p80 to have ten beyond it, and peak
#: RSS does not repeat within a tenth between runs.
_E2E_AS_LAYERS = {"latency_ms_p80": "ms", "peak_rss_mb": "MB"}

_SPARK_UNITS = {
    "tasks": "count", "stages": "count", "executor_run_ms": "ms",
    "executor_cpu_ms": "ms", "jvm_gc_ms": "ms", "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "python_worker_ms": "ms", "python_bytes_out": "bytes",
    "python_bytes_in": "bytes", "peak_execution_memory_bytes": "bytes",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, in print order.  A layer a
    workload does not exercise reads 0 (e.g. ``state.*`` on the suite)."""
    from perfbench.streams import JOB_NAMES
    from perfbench.suite_heavy import QUERIES

    units = dict(_E2E_AS_LAYERS)
    units.update({
        "sources.latest_offset_ms_p50": "ms",
        "sources.get_batch_ms_p50": "ms",
        "sources.reported_rows": "count",
        "streaming.query_planning_ms_p50": "ms",
        "streaming.wal_commit_ms_p50": "ms",
        "streaming.commit_offsets_ms_p50": "ms",
        "streaming.query_start_ms": "ms",
        "streaming.triggers": "count",
        "streaming.empty_triggers": "count",
        "streaming.data_trigger_ratio": "ratio",
        "state.instances": "count",
        "state.commit_ms_p50": "ms",
        "state.updates_ms_p50": "ms",
        "state.rows_total_max": "count",
        "state.memory_bytes_max": "bytes",
        "state.rows_dropped_by_watermark": "count",
        "runner.add_batch_ms_p50": "ms",
        "runner.sink_parquet_ms_p50": "ms",
        "runner.sink_memory_ms_p50": "ms",
        "runner.fanout_ms_p50": "ms",
    })
    units.update({f"jobs.{j}_s": "s" for j in JOB_NAMES})
    units.update({f"suite.{q}_ms": "ms" for q in QUERIES})
    units.update({f"spark.{m}": _SPARK_UNITS[m] for m in SPARK_METRICS})
    units.update({
        "host.first_touch_gbps": "GB/s",
        "host.loadavg_1m": "load",
        "trace.wall_s": "s",
    })
    return units


def _pin_environment(run_dir: str, cores: int) -> None:
    """Deployment settings for this host, and every scratch path inside
    the run directory (Python, the JVM and Spark all write temp files)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    mem_mb = min(4096, common.mem_total_mb() // 4)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": " ".join(p for p in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}") if p),
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    time.tzset()


def _spark_layers(ctx: common.RunContext) -> dict[str, float]:
    from perfbench import eventlog

    tags = ctx.details.get("timed_tags", {})
    per_tag = eventlog.fold(ctx.path("eventlog"), tags)
    units = max(1, ctx.details.get("timed_units", 1))
    per_unit: dict[str, dict[str, float]] = {}
    for tag, vals in per_tag.items():
        acc = per_unit.setdefault(tags[tag], {m: 0.0 for m in SPARK_METRICS})
        for m, v in vals.items():
            if m == "peak_execution_memory_bytes":
                acc[m] = max(acc[m], v)
            else:
                acc[m] += v / units
    ctx.details["spark_by_unit"] = {
        u: {m: round(v, 1) for m, v in vals.items()} for u, vals in per_unit.items()}
    totals = {}
    for m in SPARK_METRICS:
        vals = [v[m] for v in per_unit.values()]
        if m == "peak_execution_memory_bytes":
            totals[f"spark.{m}"] = max(vals, default=0.0)
        else:
            totals[f"spark.{m}"] = sum(vals)
    return totals


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: str = "full") -> dict:
    """Run one workload in this process and return the result object
    (the last printed line) plus ``details``."""
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ctx = common.RunContext(workload, seed, seconds, trace, run_dir, cores,
                            scale)
    spark = None
    try:
        _pin_environment(run_dir, cores)
        host = {
            "cores": cores,
            "mem_total_mb": common.mem_total_mb(),
            "loadavg_1m_before": common.loadavg_1m(),
            "first_touch_gbps": common.first_touch_gbps(),
        }
        t0 = time.perf_counter()
        spark = common.start_spark(ctx, f"perfbench-{workload}")
        ctx.details["phases"] = {"jvm_s": time.perf_counter() - t0}
        if workload == "suite_heavy":
            from perfbench import suite_heavy

            out = suite_heavy.run(ctx, spark, t0)
        else:
            from perfbench import streams

            out = streams.run(ctx, spark, workload.split("_", 1)[1], t0)
        s0 = time.perf_counter()
        common.stop_spark(spark)
        spark = None
        ctx.details.setdefault("phases", {})["stop_s"] = time.perf_counter() - s0
        host["loadavg_1m_after"] = common.loadavg_1m()
        host["degraded"] = (host["first_touch_gbps"] < 1.0
                            or host["loadavg_1m_before"] > 2 * cores)
        ctx.details["killed_stragglers"] = common.reap_children()
        if trace:
            metrics = {name: 0.0 for name in layer_units()}
            metrics.update(out.layers)
            metrics.update({m: out.e2e[m] for m in _E2E_AS_LAYERS if m in out.e2e})
            metrics.update(_spark_layers(ctx))
            metrics.update({
                "host.first_touch_gbps": host["first_touch_gbps"],
                "host.loadavg_1m": host["loadavg_1m_before"],
                "trace.wall_s": out.e2e.get("wall_s", 0.0),
            })
            units = layer_units()
        else:
            metrics, units = out.e2e, END_TO_END
        missing = [m for m in units if m not in metrics]
        if missing:
            out.failed = max(out.failed, 1)
            out.errors.append(f"metrics not measured: {missing}")
        result = {
            "correct": out.failed == 0 and not out.errors,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {m: {"value": float(metrics.get(m, 0.0)), "unit": u}
                        for m, u in units.items()},
        }
        ctx.details.pop("timed_tags", None)
        details = {"workload": workload, "seed": seed, "trace": trace,
                   "host": host, "errors": out.errors[:20], **ctx.details}
        return {"result": result, "details": details}
    finally:
        if spark is not None:
            common.stop_spark(spark)
            common.reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))  # only if no other run uses it
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test")
    args = ap.parse_args(argv)
    if importlib.util.find_spec("kafka_bigdata_jobs_spark") is None:
        print(f"perfbench: engine package kafka_bigdata_jobs_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.scale)
    print(json.dumps(out["details"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
