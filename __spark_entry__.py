"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over :mod:`kafka_bigdata_jobs_spark.suite`, which pairs
each PySpark query with its DuckDB oracle SQL.  The driver runs
``entry(spark)`` as a smoke check, then each ``queries()[name]`` at
sf=0.01 against ``oracle_sql()[name]``.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kafka_bigdata_jobs_spark import suite


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing_summary) on /root/testdata/sf0.001."""
    return suite.registry()["pricing_summary"].fn(spark, "/root/testdata/sf0.001")


# Queries that already earned a driver-side CORRECTNESS row in a prior
# round.  The driver samples the registry in iteration order under a time
# budget (round 2 provably consumed ``_ordered()[:50]``), so the
# never-checked queries must come FIRST each round; previously verified
# ones re-run afterwards.  The authoritative source is the committed
# ``CORRECTNESS_r*.json`` artifacts themselves — read at import so the
# set can never go stale when a new round's artifact lands
# (round-2 verdict "What's wrong" item 1).  With no readable artifact
# every query counts as never-checked.
def _artifact_rows() -> list[tuple[int, dict]]:
    """All committed driver artifacts as ``(round, rows)``, round-sorted.
    Shared by the verified set and the staleness rotation so the two can
    never disagree about which artifacts exist."""
    here = os.path.dirname(os.path.abspath(__file__))
    out: list[tuple[int, dict]] = []
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
            with open(path, encoding="utf-8") as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            out.append((rnd, rows))
    return out


def _driver_verified() -> frozenset[str]:
    # The MOST RECENT round's row is authoritative (r5 ADVICE): a query
    # that passed in r2 but has a FAILED row in r5 regressed — it must
    # drop back into the check-first group immediately, not wait for the
    # staleness rotation to reach it.
    latest: dict[str, tuple[int, bool]] = {}
    for rnd, rows in _artifact_rows():
        for name, row in rows.items():
            cur = latest.get(name)
            if cur is None or rnd >= cur[0]:
                latest[name] = (rnd, _row_passed(row))
    return frozenset(name for name, (_, passed) in latest.items() if passed)


def _row_passed(row) -> bool:
    """A CORRECTNESS row counts as verified only if the check PASSED:
    oracle rows need the full rows+schema+hash triple green (r1's
    monthly_rollup row had rows_match=true with hash_match=FALSE — a
    value mismatch must stay in the check-first group), rows-only rows
    need a successful run (``err == "no_oracle"`` with spark_rows
    recorded).  r4's red frequent_event_types_sketch row (canonicalizer
    crash, spark_rows=null, err=traceback) passes neither."""
    if not isinstance(row, dict):
        return True  # legacy/unknown shape: assume checked
    if row.get("err") == "no_oracle":
        return row.get("spark_rows") is not None
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
    )


def _last_checked_round() -> dict[str, int]:
    """name -> highest round number whose committed artifact carries a
    PASSED row for it.  Drives the re-verification rotation: with the
    never-checked backlog cleared (r4), most of the driver's 50-slot
    sample re-runs VERIFIED queries, and registration order would
    re-check the same r1 head every round while r2-r4 rows (the
    rows-only families among them) went stale forever."""
    last: dict[str, int] = {}
    for rnd, rows in _artifact_rows():
        for name, row in rows.items():
            if _row_passed(row):
                last[name] = max(last.get(name, 0), rnd)
    return last


def _ordered() -> list[str]:
    verified = _driver_verified()
    reg = suite.registry()
    names = list(reg)
    fresh = [n for n in names if n not in verified]

    # Oracle-backed queries first within the never-checked group: the
    # driver's fixed-size sample should spend its slots on full
    # value-hash checks before rows-only ones (stable sort keeps
    # registration order within each class).
    fresh.sort(key=lambda n: reg[n].oracle is None)
    # Verified tail rotates by staleness: least-recently-checked round
    # first (ties keep registration order), so the driver's leftover
    # sample slots re-verify the oldest rows — r4 verdict item 5's
    # "spend them re-verifying the rows-only families" made automatic.
    last = _last_checked_round()
    tail = [n for n in names if n in verified]
    tail.sort(key=lambda n: last.get(n, 0))
    return fresh + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    reg = suite.registry()
    return {name: reg[name].fn for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    reg = suite.registry()
    return {
        name: reg[name].oracle
        for name in _ordered()
        if reg[name].oracle is not None
    }
