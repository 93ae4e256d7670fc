"""Every ``SPARK_GRAFT_*`` environment variable the engine reads is
documented in the README's knob table (name, default, contract or
probe-only), and the table lists no variable the code no longer reads.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SCANNED = ("kafka_bigdata_jobs_spark", "bench.py", "__spark_entry__.py",
           "tools")
KNOB = re.compile(r"SPARK_GRAFT_[A-Z_]+")


def _used() -> set[str]:
    names: set[str] = set()
    for entry in SCANNED:
        path = ROOT / entry
        files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
        for f in files:
            names |= set(KNOB.findall(f.read_text(encoding="utf-8")))
    return names


def _documented() -> set[str]:
    rows = re.findall(r"^\| `(SPARK_GRAFT_[A-Z_]+)` \|",
                      (ROOT / "README.md").read_text(encoding="utf-8"),
                      flags=re.MULTILINE)
    return set(rows)


def test_every_knob_is_documented():
    missing = sorted(_used() - _documented())
    assert not missing, (
        f"SPARK_GRAFT_* variables read by the code but missing from the "
        f"README knob table: {missing}")


def test_knob_table_has_no_stale_rows():
    stale = sorted(_documented() - _used())
    assert not stale, (
        f"README knob table lists variables nothing reads: {stale}")
