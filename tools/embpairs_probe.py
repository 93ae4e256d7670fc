"""Scaling probe for the hierarchical exact pair search
(``embedding_near_dup_pairs_hier`` — the ``embedding_close_pairs`` auto
path past ``max_side_bytes``; r5 verdict item 1 "and a SCALING row for
the celled path").

The suite's ``embeddings`` fixture is 2 000 rows at sf0.1 — three
orders below where the hier path dispatches — so this probe generates
its own corpora at 50k/150k/500k/1.5M rows with the structure the
operator exists for (and that real embedding corpora have): content
CLUSTERS.  The x30 leg (r6 verdict item 6) confirms the three-level
quantizer's flattening EMPIRICALLY one scale past where the r6
two-level Θ(n·√K) term was measured, rather than by stage math alone.
Cluster count grows with the corpus (more distinct content regions at
larger crawls), cluster width 15–30° so random same-cluster pairs stay
BELOW the 0.95 threshold (cos 15°² ≈ 0.933 plus ≤0.008 cross-term
jitter in 64-d), and 10% of points carry a planted twin at 1–4°
(cos ≥ 0.9976) — so the qualifying-pair count grows LINEARLY with n
and the measured exponent reflects the PLAN, not an output explosion.

Honesty notes recorded with the row:
- x1 output is checked pair-for-pair against the numpy-blocked exact
  path (same contract both sides of the auto cutover).
- Timings are COLD: the fit memo is cleared per attempt, so each run
  pays sample-fit + assignment + replication + pair join + exact
  verify — the full production build.
- Uniform (clusterless) high-dim data degenerates this operator toward
  all-pairs — the covering radii honestly report that every leaf can
  host a partner.  That is the cost of EXACT completeness on data with
  no structure, not a plan defect; SemDeDup-class corpora are the
  workload.  (SCALE.md carries the same caveat.)

Usage: python tools/embpairs_probe.py [--attempts 2] [--out SCALING.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from kafka_bigdata_jobs_spark.session import get_spark  # noqa: E402

SIZES = {"x1": 50_000, "x3": 150_000, "x10": 500_000, "x30": 1_500_000,
         "x100": 5_000_000}
DIM = 64
THRESHOLD = 0.95
CONE_POINTS = 1_000  # flat cluster size: regions grow in NUMBER with n
DATA_ROOT = ".scaledata/embpairs"


def _gen_corpus(n: int, seed: int, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cones = n // CONE_POINTS
    vecs = np.empty((n, DIM), dtype=np.float64)
    row = 0
    for _ in range(n_cones):
        c = rng.normal(size=DIM)
        c /= np.linalg.norm(c)
        n_twin_pairs = CONE_POINTS // 20  # 10% of points are twin halves
        n_base = CONE_POINTS - n_twin_pairs  # twin sources are base points
        pts = np.empty((CONE_POINTS, DIM))
        for i in range(n_base):
            d = rng.normal(size=DIM)
            d -= d.dot(c) * c
            d /= np.linalg.norm(d)
            phi = np.deg2rad(15.0 + 15.0 * rng.random())
            pts[i] = np.cos(phi) * c + np.sin(phi) * d
        for j in range(n_twin_pairs):
            a = pts[j]  # twin the first base points
            d = rng.normal(size=DIM)
            d -= d.dot(a) * a
            d /= np.linalg.norm(d)
            delta = np.deg2rad(1.0 + 3.0 * rng.random())
            pts[n_base + j] = np.cos(delta) * a + np.sin(delta) * d
        vecs[row:row + CONE_POINTS] = pts
        row += CONE_POINTS
    vecs = vecs[:row]
    tbl = pa.table({
        "vec_id": pa.array(np.arange(row, dtype=np.int64)),
        "embedding": pa.array(list(vecs)),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # 64k-row row groups: parquet splits only at row-group boundaries,
    # and pyarrow's default (~1M rows) makes the 1.5M-row corpus scan
    # as TWO Spark tasks — the first cached pass then serializes ~100
    # executor-seconds onto 2 of 32 cores (measured 49 s wall at x30).
    # Real corpora arrive as thousands of files; this matches that.
    pq.write_table(tbl, path, row_group_size=65536)


def fit_ceiling_probe(out_path: str) -> None:
    """r7 verdict item 1 demonstration at probe scale: patch the
    driver fit-sample cap DOWN to 8192 rows so the x10 corpus (500k
    rows) sits past the ceiling the same way a 100M-row corpus sits
    past the real 1M-row cap, then run the SAME corpus through the
    clamped driver fit and the two-stage distributed fit.  Records K,
    mean live-leaf population, cold wall, and pair-set equality —
    'K tracks n/leaf_target with leaf populations pinned' is the
    done-criterion, output equality the safety gate."""
    import json as _json

    from kafka_bigdata_jobs_spark.operators import similarity as sim

    path = os.path.join(DATA_ROOT, "x10.parquet")
    if not os.path.exists(path):
        _gen_corpus(SIZES["x10"], seed=1234, path=path)
    real_cap = sim.FIT_SAMPLE_ROWS_CAP
    sim.FIT_SAMPLE_ROWS_CAP = 8192
    row: dict = {"patched_cap_rows": 8192, "corpus_rows": SIZES["x10"]}
    try:
        spark = get_spark("kbj-spark-embpairs-fitceil")
        spark.sparkContext.setLogLevel("ERROR")
        pair_sets = {}
        for mode in ("driver", "distributed"):
            spark.catalog.clearCache()
            sim._TWO_LEVEL_FIT_CACHE.clear()
            df = spark.read.parquet(path)
            stats = sim.HierStats()
            t0 = time.monotonic()
            out = sim.embedding_near_dup_pairs_hier(
                df, "vec_id", "embedding", threshold=THRESHOLD,
                dim=DIM, fit_mode=mode, stats=stats)
            pair_sets[mode] = {(r["id_a"], r["id_b"], r["cosine"])
                               for r in out.collect()}
            wall = time.monotonic() - t0
            assert stats.fit_mode == mode
            k = stats.k
            row[f"{mode}_wall"] = round(wall, 3)
            row[f"{mode}_k_leaves"] = int(k)
            row[f"{mode}_mean_leaf_rows"] = round(SIZES["x10"] / k, 1)
            row[f"{mode}_replication"] = (
                None if stats.replication is None
                else round(stats.replication, 1))
            print(f"fit-ceiling {mode}: wall={wall:.1f}s K={k} "
                  f"leaf_rows={SIZES['x10']/k:.0f} "
                  f"pairs={len(pair_sets[mode])}", flush=True)
            import gc
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        row["pairs_equal"] = pair_sets["driver"] == pair_sets["distributed"]
        row["pairs"] = len(pair_sets["distributed"])
        row["note"] = (
            "driver cap patched to 8192 rows puts the 500k-row x10 "
            "corpus ~4x past the K-tracking ceiling (the real 1M cap "
            "binds at ~16M rows): the clamped driver fit's leaf "
            "populations grow toward n^2/K pair work while the "
            "two-stage executor fit keeps K ~ n/leaf_target; outputs "
            "bit-equal either way (fit choice is quality-only)")
        spark.stop()
    finally:
        sim.FIT_SAMPLE_ROWS_CAP = real_cap
    try:
        with open(out_path, encoding="utf-8") as fh:
            out = _json.load(fh)
    except (OSError, ValueError):
        out = {}
    out.setdefault("operator_variants", {})[
        "embedding_hier_distributed_fit"] = row
    with open(out_path, "w", encoding="utf-8") as fh:
        _json.dump(out, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path} embedding_hier_distributed_fit row")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--attempts", type=int, default=2)
    ap.add_argument("--out", default="SCALING.json")
    ap.add_argument("--fit-ceiling", action="store_true",
                    help="run only the distributed-fit ceiling probe")
    args = ap.parse_args()

    if args.fit_ceiling:
        fit_ceiling_probe(args.out)
        return

    from kafka_bigdata_jobs_spark.operators import similarity as sim

    paths = {}
    for scale, n in SIZES.items():
        p = os.path.join(DATA_ROOT, f"{scale}.parquet")
        if not os.path.exists(p):
            print(f"generating {scale} ({n} rows) ...", flush=True)
            _gen_corpus(n, seed=1234, path=p)
        paths[scale] = p

    def run_cold(spark, path: str):
        spark.catalog.clearCache()
        sim._TWO_LEVEL_FIT_CACHE.clear()
        df = spark.read.parquet(path)
        stats = sim.HierStats()
        t0 = time.monotonic()
        out = sim.embedding_near_dup_pairs_hier(
            df, "vec_id", "embedding", threshold=THRESHOLD, dim=DIM,
            stats=stats)
        n_pairs = out.count()
        # Shuffle files (the tagged replicas·vectors relation) only get
        # deleted when the JVM GCs the dropped RDD references; without
        # this nudge nine probe runs ACCUMULATE ~8 GB each and the x10
        # warm-up dies on SPILL_OUT_OF_MEMORY / no-space-left (measured,
        # 2026-08-16).  Belt: GC after every run.  Suspenders: a fresh
        # session per scale below.
        import gc
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        return time.monotonic() - t0, n_pairs, stats.replication

    row: dict = {}
    for scale, path in SIZES.items():
        p = paths[scale]
        # Fresh session per scale: its blockmgr dir (accumulated shuffle
        # files) is removed on stop(), so each scale starts disk-clean.
        spark = get_spark("kbj-spark-embpairs-probe")
        spark.sparkContext.setLogLevel("ERROR")
        run_cold(spark, p)  # untimed warm-up: codegen/JIT, parquet footers
        best, rows, rep = math.inf, -1, None
        for _ in range(max(2, args.attempts)):
            dt, rows, rep = run_cold(spark, p)
            best = min(best, dt)
        row[scale] = round(best, 3)
        row[f"rows_{scale}"] = rows
        if rep is not None:
            # mean covering-radius replication factor from the runtime
            # guard — the cost-blowup early signal (flat == healthy)
            row[f"rep_{scale}"] = round(rep, 1)
        print(f"{scale:4s} hier {best:8.2f}s pairs={rows} rep={rep}",
              flush=True)
        spark.stop()

    # x1 equality gate vs the blocked exact path (the auto twin).
    # try/finally so the gate session's blockmgr dirs are removed even
    # on a comparison crash — the same disk hygiene as the per-scale
    # sessions (ADVICE r6).
    spark = get_spark("kbj-spark-embpairs-probe")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        df1 = spark.read.parquet(paths["x1"])
        hier = {(r["id_a"], r["id_b"], r["cosine"])
                for r in sim.embedding_near_dup_pairs_hier(
                    df1, "vec_id", "embedding", threshold=THRESHOLD,
                    dim=DIM).collect()}
        blocked = {(r["id_a"], r["id_b"], r["cosine"])
                   for r in sim.embedding_near_dup_pairs_blocked(
                       df1, "vec_id", "embedding", threshold=THRESHOLD,
                       dim=DIM).collect()}
        row["verified_vs_blocked_x1"] = hier == blocked
        print(f"x1 equality vs blocked: {row['verified_vs_blocked_x1']} "
              f"({len(hier)} pairs)", flush=True)
    finally:
        spark.stop()

    def _exp(lo: str, hi: str) -> float:
        return round(
            math.log(max(row[hi], 1e-3) / max(row[lo], 1e-3))
            / math.log(SIZES[hi] / SIZES[lo]), 2)

    row["exp_x3_x10"] = _exp("x3", "x10")
    row["exp_x1_x10"] = _exp("x1", "x10")
    row["exp_x10_x30"] = _exp("x10", "x30")
    row["exp_x30_x100"] = _exp("x30", "x100")
    row["note"] = (
        "cold fit+assign+replicate+pair+exact-verify on clustered "
        f"corpora (cones of {CONE_POINTS}, 10% planted twins, "
        f"threshold {THRESHOLD}); qualifying pairs grow linearly by "
        "construction — see tools/embpairs_probe.py docstring; corpora "
        "written with 64k-row parquet row groups so the scan "
        "parallelizes like a real multi-file corpus")

    try:
        with open(args.out, encoding="utf-8") as fh:
            out = json.load(fh)
    except (OSError, ValueError):
        out = {}
    out.setdefault("operator_variants", {})[
        "embedding_near_dup_pairs_hier"] = row
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"wrote {args.out} operator_variants row")


if __name__ == "__main__":
    main()
