"""Scaling probe for the hierarchical exact pair search
(``embedding_near_dup_pairs_hier`` — the ``embedding_close_pairs`` auto
path past ``MAX_SIDE_MATRIX_BYTES``).

The suite's ``embeddings`` fixture is 2 000 rows at sf0.1 — three
orders below where the hier path dispatches — so this probe generates
its own corpora at 50k/150k/500k/1.5M/5M (and, on request, 15M)
rows with the structure the operator exists for (and that real
embedding corpora have): content CLUSTERS.  Cluster count grows with
the corpus (more distinct content regions at larger crawls), cluster
width 15–30° so random same-cluster pairs stay BELOW the 0.95
threshold (cos 15°² ≈ 0.933 plus ≤0.008 cross-term jitter in 64-d), and
10% of points carry a planted twin at 1–4° (cos ≥ 0.9976) — so the
qualifying-pair count grows LINEARLY with n and the measured exponent
reflects the PLAN, not an output explosion.

Each probed scale also records the best attempt's per-PHASE driver
seconds (``HierStats.phase_seconds``) as ``phases_<scale>``, and each
pair of consecutive probed scales gets per-phase exponents
(``phase_exp_<lo>_<hi>``), so a superlinear leg is attributed to a
phase instead of one conflated wall number.  Phases:

- scan:      corpus scan + normalize + cache materialization
- fit:       quantizer fit (sample, two-level Lloyd, esc-cap scan)
- assign:    pass-1 Arrow home assignment + K-row radius aggregate
- replicate: pass-2 Arrow replication + guard count
- tail:      tagged union + leaf-grain pair matmul + distinct +
             exact-verify joins + output count (the probe times the
             ``count()`` inside ``stats.phase(spark, "tail")``)

Honesty notes recorded with the row:
- x1 output is checked pair-for-pair against the numpy-blocked exact
  path (same contract both sides of the auto cutover) whenever x1 is
  probed.
- Timings are COLD: the fit memo is cleared per attempt, so each run
  pays sample-fit + assignment + replication + pair join + exact
  verify — the full production build.
- Uniform (clusterless) high-dim data degenerates this operator toward
  all-pairs — the covering radii honestly report that every leaf can
  host a partner.  That is the cost of EXACT completeness on data with
  no structure, not a plan defect; SemDeDup-class corpora are the
  workload.  (SCALE.md carries the same caveat.)

The row REPLACES ``operator_variants.embedding_near_dup_pairs_hier`` in
``--out``; a run over a subset of scales writes only that subset's keys,
so point ``--out`` elsewhere for spot checks.  The x300 corpus (15M
rows) is probed only when named.

Usage: python tools/embpairs_probe.py [--scales x1,x3,x10,x30,x100]
       [--attempts 2] [--out SCALING.json]
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

from kafka_bigdata_jobs_spark.session import forget, get_spark  # noqa: E402

SIZES = {"x1": 50_000, "x3": 150_000, "x10": 500_000, "x30": 1_500_000,
         "x100": 5_000_000, "x300": 15_000_000}
#: Total-wall exponents the SCALING row names (each written when both
#: of its scales were probed).
NAMED_EXPONENTS = (("x3", "x10"), ("x1", "x10"), ("x10", "x30"),
                   ("x30", "x100"))
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


def _corpus(scale: str) -> str:
    """Path of the scale's corpus, generated on first use."""
    path = os.path.join(DATA_ROOT, f"{scale}.parquet")
    if not os.path.exists(path):
        print(f"generating {scale} ({SIZES[scale]} rows) ...", flush=True)
        _gen_corpus(SIZES[scale], seed=1234, path=path)
    return path


def _exp(lo: str, hi: str, t_lo: float, t_hi: float) -> float:
    """Scaling exponent of a time between two probed scales."""
    return round(math.log(max(t_hi, 1e-3) / max(t_lo, 1e-3))
                 / math.log(SIZES[hi] / SIZES[lo]), 2)


def probe_row(results: dict, verified_x1: bool | None = None) -> dict:
    """The SCALING row from per-scale probe results.

    ``results`` maps each probed scale (a ``SIZES`` key) to its best
    cold attempt: ``{"seconds", "pairs", "replication", "phases"}``
    (``replication`` None when the guard was skipped, ``phases`` the
    attempt's ``HierStats.phase_seconds``).  ``verified_x1`` is the x1
    equality gate's outcome, None when x1 was not probed.
    """
    row: dict = {}
    probed = sorted(results, key=list(SIZES).index)
    for scale in probed:
        res = results[scale]
        row[scale] = round(res["seconds"], 3)
        row[f"rows_{scale}"] = res["pairs"]
        if res["replication"] is not None:
            # mean covering-radius replication factor from the runtime
            # guard — the cost-blowup early signal (flat == healthy)
            row[f"rep_{scale}"] = round(res["replication"], 1)
        row[f"phases_{scale}"] = {
            ph: round(sec, 3) for ph, sec in res["phases"].items()}
    for lo, hi in NAMED_EXPONENTS:
        if lo in results and hi in results:
            row[f"exp_{lo}_{hi}"] = _exp(lo, hi, row[lo], row[hi])
    for lo, hi in zip(probed, probed[1:]):
        ph_hi = row[f"phases_{hi}"]
        row[f"phase_exp_{lo}_{hi}"] = {
            **{ph: _exp(lo, hi, t, ph_hi[ph])
               for ph, t in row[f"phases_{lo}"].items()},
            "total": _exp(lo, hi, row[lo], row[hi])}
    if verified_x1 is not None:
        row["verified_vs_blocked_x1"] = verified_x1
    row["note"] = (
        "cold fit+assign+replicate+pair+exact-verify on clustered "
        f"corpora (cones of {CONE_POINTS}, 10% planted twins, "
        f"threshold {THRESHOLD}); qualifying pairs grow linearly by "
        "construction — see tools/embpairs_probe.py docstring; corpora "
        "written with 64k-row parquet row groups so the scan "
        "parallelizes like a real multi-file corpus")
    return row


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="x1,x3,x10,x30,x100",
                    help=f"comma-separated subset of {','.join(SIZES)}")
    ap.add_argument("--attempts", type=int, default=2)
    ap.add_argument("--out", default="SCALING.json")
    args = ap.parse_args()
    scales = set(args.scales.split(","))
    if not scales <= set(SIZES):
        ap.error(f"--scales takes a subset of {','.join(SIZES)}")

    from kafka_bigdata_jobs_spark.operators import similarity as sim

    def run_cold(spark, path: str):
        spark.catalog.clearCache()
        forget(spark, "two_level_fit")
        df = spark.read.parquet(path)
        stats = sim.HierStats()
        t0 = time.monotonic()
        out = sim.embedding_near_dup_pairs_hier(
            df, "vec_id", "embedding", threshold=THRESHOLD, dim=DIM,
            stats=stats)
        with stats.phase(spark, "tail"):
            n_pairs = out.count()
        total = time.monotonic() - t0
        # Shuffle files of the tagged relation are deleted only when the
        # JVM GCs the dropped RDD references: without this nudge nine
        # runs accumulated ~8 GB each and the x10 warm-up died on
        # no-space-left (measured 2026-08-16).
        import gc
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        return total, n_pairs, stats

    results: dict = {}
    verified = None
    for scale in sorted(scales, key=list(SIZES).index):
        path = _corpus(scale)
        # Fresh session per scale: its blockmgr dir (accumulated shuffle
        # files) is removed on stop(), so each scale starts disk-clean —
        # try/finally keeps that true when a run crashes (ADVICE r6).
        spark = get_spark("kbj-spark-embpairs-probe")
        try:
            spark.sparkContext.setLogLevel("ERROR")
            run_cold(spark, path)  # untimed warm-up: codegen/JIT, footers
            best = None
            for _ in range(max(2, args.attempts)):
                total, pairs, st = run_cold(spark, path)
                if best is None or total < best["seconds"]:
                    best = {"seconds": total, "pairs": pairs,
                            "replication": st.replication,
                            "phases": dict(st.phase_seconds),
                            "k": st.k, "fit_mode": st.fit_mode}
            results[scale] = best
            print(f"{scale:4s} hier {best['seconds']:8.2f}s "
                  + " ".join(f"{k}={v}" for k, v in best.items()
                             if k != "seconds"), flush=True)
            if scale == "x1":
                # equality gate vs the blocked exact path (the auto twin)
                df1 = spark.read.parquet(path)
                hier, blocked = (
                    {(r["id_a"], r["id_b"], r["cosine"]) for r in search(
                        df1, "vec_id", "embedding", threshold=THRESHOLD,
                        dim=DIM).collect()}
                    for search in (sim.embedding_near_dup_pairs_hier,
                                   sim.embedding_near_dup_pairs_blocked))
                verified = hier == blocked
                print(f"x1 equality vs blocked: {verified} "
                      f"({len(hier)} pairs)", flush=True)
        finally:
            spark.stop()

    row = probe_row(results, verified)
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
