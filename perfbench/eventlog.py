"""Fold an uncompressed Spark event log into per-tag executor totals.

Every Spark job carries the caller's ``spark.job.description``; the
benchmark sets it to ``<tag>`` (suite query or streaming query name) so
each task can be attributed through task -> stage -> job -> description.
Only the Python standard library is used: the log is JSON lines.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

#: Folded metric names, in print order.
SPARK_METRICS = (
    "tasks",
    "stages",
    "executor_run_ms",
    "executor_cpu_ms",
    "jvm_gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_worker_ms",
    "python_bytes_out",
    "python_bytes_in",
    "peak_execution_memory_bytes",
)

#: SQL-metric accumulators reported by Python-evaluating operators
#: (Arrow/pandas UDFs, Python data sources, mapInPandas, ...).
_PY_TIME = "time to run Python workers"
_PY_OUT = "data sent to Python workers"
_PY_IN = "data returned from Python workers"


def _tag_of(description: str | None, tags) -> str | None:
    """The benchmark tag a job description belongs to: the description
    itself, or its first line (streaming batch descriptions start with
    the query name)."""
    if not description:
        return None
    first = description.split("\n", 1)[0].strip()
    return first if first in tags else None


def fold(eventlog_dir: str, tags) -> dict[str, dict[str, float]]:
    """Return ``{tag: {metric: total}}`` over every task of every job
    whose description maps to one of ``tags``."""
    tags = set(tags)
    stage_tag: dict[int, str] = {}
    stages_seen: dict[str, set[int]] = defaultdict(set)
    out: dict[str, dict[str, float]] = {
        t: {m: 0.0 for m in SPARK_METRICS} for t in tags
    }
    # Spark 4 writes a directory per application (``eventlog_v2_<app>``)
    # holding numbered ``events_<n>_<app>`` files; older layouts are flat.
    paths = sorted(p for p in glob.glob(os.path.join(eventlog_dir, "**"),
                                        recursive=True)
                   if os.path.isfile(p) and not p.endswith(".crc")
                   and "appstatus" not in os.path.basename(p))
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tag = _tag_of(props.get("spark.job.description"), tags)
                    if tag is not None:
                        for sid in ev.get("Stage IDs", ()):
                            stage_tag[sid] = tag
                elif kind == "SparkListenerTaskEnd":
                    tag = stage_tag.get(ev.get("Stage ID"))
                    if tag is not None:
                        _add_task(out[tag], ev)
                        stages_seen[tag].add(ev["Stage ID"])
    for tag, sids in stages_seen.items():
        out[tag]["stages"] = float(len(sids))
    return out


def _add_task(acc: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["executor_run_ms"] += m.get("Executor Run Time", 0)
    acc["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    acc["jvm_gc_ms"] += m.get("JVM GC Time", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0)
    acc["peak_execution_memory_bytes"] = max(
        acc["peak_execution_memory_bytes"], m.get("Peak Execution Memory", 0))
    for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
        name = a.get("Name")
        if name not in (_PY_TIME, _PY_OUT, _PY_IN):
            continue
        try:
            upd = float(a.get("Update", 0))
        except (TypeError, ValueError):
            continue
        if name == _PY_TIME:
            acc["python_worker_ms"] += upd
        elif name == _PY_OUT:
            acc["python_bytes_out"] += upd
        else:
            acc["python_bytes_in"] += upd
