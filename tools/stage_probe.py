"""Per-PHASE scaling probe for the hier pair search.

Runs the same cold builds as tools/embpairs_probe.py but records each
call's ``HierStats`` phase times per scale, so each phase gets its own
scaling exponent instead of one conflated wall number.  The tail is
timed directly: the probe materializes the result inside
``stats.phase(spark, "tail")``, which also tags the tail's Spark jobs
``hier:tail``.  Phase meanings:

- scan:      corpus scan + normalize + cache materialization
- fit:       quantizer fit (sample, two-level Lloyd, esc-cap scan)
- assign:    pass-1 Arrow home assignment + K-row radius aggregate
- replicate: pass-2 Arrow replication + guard count
- tail:      tagged union + leaf-grain pair matmul + distinct +
             exact-verify joins + output count

Usage: python tools/stage_probe.py [--scales x1,x3,x10,x30,x100]
       [--attempts 2] [--out /tmp/stage_probe.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_bigdata_jobs_spark.session import get_spark  # noqa: E402

SIZES = {"x1": 50_000, "x3": 150_000, "x10": 500_000, "x30": 1_500_000,
         "x100": 5_000_000, "x300": 15_000_000}
DIM = 64
THRESHOLD = 0.95
DATA_ROOT = ".scaledata/embpairs"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="x1,x3,x10,x30,x100")
    ap.add_argument("--attempts", type=int, default=2)
    ap.add_argument("--out", default="/tmp/stage_probe.json")
    ap.add_argument("--no-warmup", action="store_true",
                    help="skip the untimed warm-up run (fit-breakdown "
                         "probes want the cold run itself)")
    args = ap.parse_args()

    from kafka_bigdata_jobs_spark.operators import similarity as sim

    scales = args.scales.split(",")
    for s in scales:
        p = os.path.join(DATA_ROOT, f"{s}.parquet")
        if not os.path.exists(p):
            if s == "x300":
                # generate with the probe tool's corpus generator
                from tools.embpairs_probe import _gen_corpus
                print(f"generating {s} ({SIZES[s]} rows) ...", flush=True)
                _gen_corpus(SIZES[s], seed=1234, path=p)
            else:
                raise SystemExit(f"missing corpus {p}: run embpairs_probe")

    def run_cold(spark, path):
        spark.catalog.clearCache()
        sim._TWO_LEVEL_FIT_CACHE.clear()
        df = spark.read.parquet(path)
        stats = sim.HierStats()
        t0 = time.monotonic()
        out = sim.embedding_near_dup_pairs_hier(
            df, "vec_id", "embedding", threshold=THRESHOLD, dim=DIM,
            stats=stats)
        with stats.phase(spark, "tail"):
            n_pairs = out.count()
        total = time.monotonic() - t0
        import gc
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        return total, n_pairs, stats

    results: dict = {}
    for scale in scales:
        path = os.path.join(DATA_ROOT, f"{scale}.parquet")
        spark = get_spark("kbj-stage-probe")
        spark.sparkContext.setLogLevel("ERROR")
        if not args.no_warmup:
            run_cold(spark, path)  # untimed warm-up
        best = None
        for _ in range(args.attempts):
            total, pairs, st = run_cold(spark, path)
            if best is None or total < best["total"]:
                best = {"total": round(total, 3), "pairs": pairs,
                        "stages": st.phase_seconds,
                        "replication": st.replication, "k": st.k,
                        "fit_mode": st.fit_mode,
                        "fit_breakdown": st.fit_seconds}
        results[scale] = best
        print(f"{scale:5s} total={best['total']:8.2f}s pairs={best['pairs']}"
              f" k={best['k']} rep={best['replication']} fit={best['fit_mode']}"
              f" stages={best['stages']}", flush=True)
        spark.stop()

    # per-stage exponents between consecutive probed scales
    expo: dict = {}
    probed = [s for s in scales if s in results]
    for lo, hi in zip(probed, probed[1:]):
        ratio_n = SIZES[hi] / SIZES[lo]
        stage_names = set(results[lo]["stages"]) | set(results[hi]["stages"])
        row = {}
        for st in sorted(stage_names):
            a = max(results[lo]["stages"].get(st, 0.0), 1e-3)
            b = max(results[hi]["stages"].get(st, 0.0), 1e-3)
            row[st] = round(math.log(b / a) / math.log(ratio_n), 2)
        row["total"] = round(
            math.log(results[hi]["total"] / results[lo]["total"])
            / math.log(ratio_n), 2)
        expo[f"{lo}->{hi}"] = row

    payload = {"results": results, "exponents": expo}
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(json.dumps(expo, indent=1, sort_keys=True))
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
