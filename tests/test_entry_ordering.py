"""Guards on the driver contract in ``__spark_entry__.py``.

Round-2 verdict "What's wrong" item 1: the driver demonstrably checks
``_ordered()[:50]`` each round, and round 2 re-checked the same 50
because the verified set was a hand-maintained frozenset that went
stale.  The fix derives the set from the committed ``CORRECTNESS_r*.json``
artifacts at import time; these tests pin that invariant so it cannot
silently regress.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def entry_mod():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _row_passed(row) -> bool:
    if not isinstance(row, dict):
        return True
    if row.get("err") == "no_oracle":
        return row.get("spark_rows") is not None
    return bool(row.get("rows_match") and row.get("schema_match")
                and row.get("hash_match"))


def _artifact_keys() -> tuple[set[str], set[str]]:
    """(verified, check-first) keys across committed CORRECTNESS_r*.json.

    A row counts as PASSED when its check fully succeeded: oracle rows
    need rows+schema+hash ALL green (r1's monthly_rollup row had
    rows_match=true with hash_match=FALSE — a value mismatch must stay
    in the check-first group), rows-only rows need err=="no_oracle"
    with spark_rows recorded.  r4's red frequent_event_types_sketch
    row (canonicalizer crash, spark_rows=null, err=traceback) passes
    neither.  The MOST RECENT round's row is authoritative (r5 ADVICE):
    pass-in-r2 + fail-in-r5 means regressed, not verified."""
    latest: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        with open(path, encoding="utf-8") as fh:
            rows = json.load(fh)
        assert isinstance(rows, dict), path
        for name, row in rows.items():
            cur = latest.get(name)
            if cur is None or rnd >= cur[0]:
                latest[name] = (rnd, _row_passed(row))
    passed = {n for n, (_, ok) in latest.items() if ok}
    return passed, set(latest) - passed


def test_verified_set_matches_committed_artifacts(entry_mod):
    """The verified set is exactly the latest-round-PASSED keys of
    CORRECTNESS_r*.json."""
    passed, failed_latest = _artifact_keys()
    assert passed, "no CORRECTNESS_r*.json committed — driver never ran?"
    assert entry_mod._driver_verified() == passed
    # Rows whose latest round failed re-enter the check-first group
    # instead of being treated as verified.
    for name in failed_latest:
        assert name not in entry_mod._driver_verified()


def test_latest_round_failure_drops_from_verified(tmp_path):
    """Synthetic artifacts: a query green in r1 but red in r2 must NOT be
    verified (r5 ADVICE — union-across-rounds kept regressions out of
    the check-first group until the staleness rotation reached them)."""
    import shutil

    shutil.copy(os.path.join(REPO, "__spark_entry__.py"),
                tmp_path / "__spark_entry__.py")
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 5, "oracle_rows": 5, "err": None}
    red = {"rows_match": True, "schema_match": True, "hash_match": False,
           "spark_rows": 5, "oracle_rows": 5, "err": None}
    rows_only = {"rows_match": None, "schema_match": None, "hash_match": None,
                 "spark_rows": 3, "oracle_rows": None, "err": "no_oracle"}
    crashed = dict(rows_only, spark_rows=None, err="Traceback ...")
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "regressed": green, "stable": green, "recovered": red,
        "ro_regressed": rows_only}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "regressed": red, "recovered": green, "ro_regressed": crashed}))
    spec = importlib.util.spec_from_file_location(
        "spark_entry_synth", tmp_path / "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    verified = mod._driver_verified()
    assert "stable" in verified          # green r1, unsampled r2
    assert "recovered" in verified       # red r1, green r2
    assert "regressed" not in verified   # green r1, red r2 — the ADVICE case
    assert "ro_regressed" not in verified  # rows-only ran clean r1, crashed r2


def test_never_checked_queries_come_first(entry_mod):
    """While never-checked queries remain, the driver's 50-query sample
    (the front of ``_ordered()``) must consist only of them."""
    verified = entry_mod._driver_verified()
    ordered = entry_mod._ordered()
    never = [n for n in ordered if n not in verified]
    front = ordered[:min(50, len(never))]
    assert all(n not in verified for n in front), (
        "verified queries found ahead of never-checked ones: "
        f"{[n for n in front if n in verified][:5]}")
    # And the tail is exactly the verified set, order-preserved.
    assert set(ordered) == set(never) | verified


def test_ordered_covers_registry_exactly(entry_mod):
    from kafka_bigdata_jobs_spark import suite
    assert sorted(entry_mod._ordered()) == sorted(suite.registry())


def test_fresh_group_internal_ordering(entry_mod):
    """Within the never-checked group: oracle-backed first."""
    from kafka_bigdata_jobs_spark import suite

    reg = suite.registry()
    verified = entry_mod._driver_verified()
    fresh = [n for n in entry_mod._ordered() if n not in verified]
    if not fresh:
        pytest.skip("no never-checked queries remain")
    oracle_backed = [n for n in fresh if reg[n].oracle is not None]
    assert fresh[:len(oracle_backed)] == oracle_backed
