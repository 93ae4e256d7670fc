"""The hier probe's SCALING row, built from fake per-scale results.

``tools/embpairs_probe.py`` writes the ``embedding_near_dup_pairs_hier``
row that ``tests/test_scaling_exponents.py`` gates; these tests pin the
row's keys and exponent arithmetic without starting Spark.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import embpairs_probe  # noqa: E402

PHASES = ("scan", "fit", "assign", "replicate", "tail")


def _fake(seconds: float, pairs: int, rep: float | None) -> dict:
    # every phase takes a fixed share of the total
    return {"seconds": seconds, "pairs": pairs, "replication": rep,
            "phases": {ph: seconds / len(PHASES) for ph in PHASES}}


@pytest.fixture
def full():
    # total wall grows ∝ n (x1 → x10 is 10×), the x100 leg ∝ n^1.2
    return {
        "x1": _fake(5.0, 5_000, 12.0),
        "x3": _fake(15.0, 15_000, 11.0),
        "x10": _fake(50.0, 50_000, 9.5),
        "x30": _fake(150.0, 150_000, 9.0),
        "x100": _fake(150.0 * (10 / 3) ** 1.2, 500_000, None),
    }


def test_full_run_has_every_key_the_scaling_gate_reads(full):
    row = embpairs_probe.probe_row(full, verified_x1=True)
    assert row["verified_vs_blocked_x1"] is True
    assert row["exp_x1_x10"] == 1.0
    assert row["exp_x3_x10"] == 1.0
    assert row["exp_x10_x30"] == 1.0
    assert row["exp_x30_x100"] == 1.2
    for s in ("x1", "x3", "x10", "x30", "x100"):
        assert row[s] == round(full[s]["seconds"], 3)
        assert row[f"rows_{s}"] == full[s]["pairs"]
        assert set(row[f"phases_{s}"]) == set(PHASES)
    for s in ("x1", "x3", "x10", "x30"):
        assert row[f"rep_{s}"] == full[s]["replication"]
    # a skipped guard leaves no replication key
    assert "rep_x100" not in row
    # per-phase exponents between consecutive scales only
    assert sorted(k for k in row if k.startswith("phase_exp_")) == [
        "phase_exp_x10_x30", "phase_exp_x1_x3", "phase_exp_x30_x100",
        "phase_exp_x3_x10"]
    assert row["phase_exp_x30_x100"] == {
        **{ph: 1.2 for ph in PHASES}, "total": 1.2}


def test_subset_writes_only_what_it_probed(full):
    sub = {s: full[s] for s in ("x30", "x10")}  # order must not matter
    sub["x30"]["phases"]["tail"] *= 3 ** 0.5  # tail grows ∝ n^1.5
    row = embpairs_probe.probe_row(sub)
    assert "verified_vs_blocked_x1" not in row  # no x1, no gate
    assert "exp_x1_x10" not in row and "exp_x30_x100" not in row
    assert row["exp_x10_x30"] == 1.0
    assert [k for k in row if k.startswith("phase_exp_")] == [
        "phase_exp_x10_x30"]
    exps = row["phase_exp_x10_x30"]
    assert exps["tail"] == 1.5
    assert all(exps[ph] == 1.0 for ph in ("scan", "fit", "assign",
                                          "replicate", "total"))
    assert set(row) >= {"x10", "x30", "rows_x10", "rows_x30",
                        "phases_x10", "phases_x30"}
    assert not {"x1", "x3", "x100", "phases_x1"} & set(row)

