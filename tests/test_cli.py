"""CLI surface: list/run/explain must keep working (user-facing)."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args):
    return subprocess.run(
        [sys.executable, "-m", "kafka_bigdata_jobs_spark", *args],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=180,
    )


def test_cli_list():
    r = _run("list")
    assert r.returncode == 0
    assert "pricing_summary" in r.stdout
    assert "[oracle]" in r.stdout and "[rows-only]" in r.stdout


def test_cli_unknown_query_exit_code():
    r = _run("run", "no_such_query")
    assert r.returncode == 2
    assert "unknown query" in r.stderr


def test_cli_explain_prints_plan():
    r = _run("explain", "top_orders", "--sf-dir", "/root/testdata/sf0.001")
    assert r.returncode == 0
    assert "TakeOrderedAndProject" in r.stdout


def test_cli_oracle_match():
    # Subprocess like the other CLI tests: main() stops its session, which
    # would kill the shared pytest SparkSession if run in-process.
    r = _run("oracle", "daily_volume", "--sf-dir", "/root/testdata/sf0.001")
    assert r.returncode == 0
    assert "MATCH" in r.stdout


def test_cli_oracle_rows_only():
    r = _run("oracle", "approx_uniq_users", "--sf-dir", "/root/testdata/sf0.001")
    assert r.returncode == 0
    assert "rows-only" in r.stdout


def test_matrix_wall_sec_sums_carried_rows(tmp_path, monkeypatch):
    """``matrix --only-missing`` that carries over every row still
    reports the whole matrix's ``wall_sec``: the sum of every row's
    per-SF ``sec``, not the time this run spent re-running queries."""
    import json
    from types import SimpleNamespace

    from kafka_bigdata_jobs_spark import __main__ as cli
    from kafka_bigdata_jobs_spark import session

    def body():
        return None

    reg = {"q_a": SimpleNamespace(oracle="SELECT 1", fn=body),
           "q_b": SimpleNamespace(oracle=None, fn=body)}
    sfs = ["sf_small", "sf_large"]
    secs = {"q_a": (1.25, 4.5), "q_b": (0.5, 2.0)}
    prev = {name: {"oracle": q.oracle is not None, "sig": cli._query_sig(q),
                   **{sf: {"status": "MATCH" if q.oracle else "ROWS_ONLY",
                           "sec": sec} for sf, sec in zip(sfs, secs[name])}}
            for name, q in reg.items()}
    out = tmp_path / "matrix.json"
    out.write_text(json.dumps({"queries": prev}))
    # _matrix stops the session it gets: never hand it the shared one.
    stopped = []
    fake = SimpleNamespace(
        sparkContext=SimpleNamespace(setLogLevel=lambda level: None),
        stop=lambda: stopped.append(True))
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: fake)
    monkeypatch.setattr(cli, "_duckdb_views", lambda sf: None)
    assert cli._matrix(reg, sfs, str(out), only_missing=True) == 0
    got = json.loads(out.read_text())
    assert got["queries"] == prev  # every row carried over
    assert got["wall_sec"] == 8.2
    assert stopped == [True]
