"""Print the round-notes headline numbers FROM the committed artifacts
(r6 verdict item 5: ROUND6.md hand-transcribed a mid-round bench number
that the min-merged artifact no longer carried).  Round notes should
paste this output verbatim instead of quoting remembered values — then
`make bench` output and the notes agree by construction.

Usage: python tools/round_numbers.py
"""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str) -> dict:
    try:
        with open(os.path.join(REPO, name), encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def main() -> None:
    lines = []
    art = _load("BENCH_local.json")
    if art:
        lines.append(
            f"- BENCH_local.json: {art['value']} s / {art['n_queries']} "
            f"queries ({art['value'] / art['n_queries']:.2f} s/query) "
            f"at sf{art['sf']} on {art.get('cpus')} cpus, "
            f"{art.get('mem_total_mb')} MB, load {art.get('loadavg_1m')}; "
            "cold_builds "
            + ", ".join(f"{k} {v} s"
                        for k, v in sorted(
                            art.get("cold_builds", {}).items())))
    scaling = _load("SCALING.json")
    hier = scaling.get("operator_variants", {}).get(
        "embedding_near_dup_pairs_hier", {})
    if hier:
        walls = " / ".join(
            f"{hier[s]} s" for s in ("x1", "x3", "x10", "x30") if s in hier)
        reps = "/".join(
            str(hier[f"rep_{s}"]) for s in ("x1", "x3", "x10", "x30")
            if f"rep_{s}" in hier)
        exps = ", ".join(f"{k}={v}" for k, v in sorted(hier.items())
                         if k.startswith("exp_"))
        lines.append(f"- hier pair search: {walls}; replication {reps}; "
                     f"{exps}; verified_vs_blocked_x1="
                     f"{hier.get('verified_vs_blocked_x1')}")
    for fam, row in sorted(scaling.get("cold_builds", {}).items()):
        lines.append(
            f"- cold build {fam}: x1/x3/x10 {row.get('x1')} / "
            f"{row.get('x3')} / {row.get('x10')} s, "
            f"e(x3→x10)={row.get('exp_x3_x10')}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
