"""Guarded OpenBLAS runtime-detection fix (r9 optimization round).

Virtualized hosts frequently mask CPUID model/family bits, and
OpenBLAS's runtime dispatcher then falls back to its **Prescott**
(pre-AVX, 2004-era) kernels even when the CPU advertises AVX2+FMA —
measured on this sandbox's masked Xeon: 2.4 GFLOP/s where the forced
Haswell kernels reach 51 GFLOP/s single-process f32 and the 32-worker
aggregate goes 375 → 1122 GFLOP/s.  Every numpy matmul in the engine
(quantizer fits, Arrow assignment/replication passes, leaf pair
matmuls, PQ/ADC scans) sits on these kernels, so the misdetection is a
~5-14x engine-wide slowdown on affected hosts — the opposite of a
machine-specific tune: this module only *undoes* a wrong runtime
fallback and is a no-op everywhere OpenBLAS detects the CPU correctly.

Mechanism (all decisions are made BEFORE numpy first loads OpenBLAS —
the core type is latched at library init):

1. If ``OPENBLAS_CORETYPE`` is already set (operator override), do
   nothing.
2. Read the detected core name via ``openblas_get_corename()`` in a
   **subprocess** (loading the library in-process would latch the bad
   core type into this interpreter before the env fix could act).
3. If the detected core is a known pre-AVX fallback while
   ``/proc/cpuinfo`` advertises ``avx2`` + ``fma``, export
   ``OPENBLAS_CORETYPE=HASWELL`` (the conservative AVX2+FMA kernel set,
   correct on every avx2 CPU incl. AMD Zen; the SkylakeX kernels
   measured *slower* than Haswell on this masked CPU — AVX-512
   frequency behavior — so the forced type is deliberately not
   avx512-gated).
4. Python *workers* additionally default ``OPENBLAS_NUM_THREADS=2``:
   N concurrent workers each defaulting to N BLAS threads is N-fold
   oversubscription (measured: 32 workers x 32 threads = 375 GFLOP/s
   aggregate vs 1122 at 2 threads each).  The driver process keeps the
   full default thread pool — its fit GEMMs are the one single-process
   hot spot (191 GFLOP/s at 32 threads).  Worker-ness is detected from
   ``pyspark.daemon``/``pyspark.worker`` already being imported; the
   primary mechanism is env inheritance (``get_spark`` exports the two
   variables before the JVM launches, and sets ``spark.executorEnv.*``
   for cluster deployments).

Numerical note: kernel choice changes low-bit GEMM rounding.  Every
query-facing numpy matmul in this engine is candidates-only (exact
float64 expressions verify each emitted row), so query outputs are
unchanged — pinned by the oracle matrix re-run recorded in
OPTIMIZATION_r09.md.
"""

from __future__ import annotations

import os
import subprocess
import sys

#: OpenBLAS core names that mean "runtime dispatch fell back to a
#: pre-AVX kernel" — never correct on an avx2+fma CPU.
_PRE_AVX_FALLBACKS = {
    "prescott", "core2", "penryn", "dunnington", "nehalem",
    "northwood", "katmai", "coppermine", "banias", "atom", "generic",
}

_PROBE = (
    "import ctypes, glob, sys\n"
    "d = sys.argv[1] + '/numpy.libs/'\n"
    "for dep in ('libquadmath*.so*', 'libgfortran*.so*'):\n"
    "    for p in glob.glob(d + dep):\n"
    "        ctypes.CDLL(p, mode=ctypes.RTLD_GLOBAL)\n"
    "lib = ctypes.CDLL(glob.glob(d + 'libopenblas*.so')[0])\n"
    "for sym in ('openblas_get_corename', 'openblas_get_corename64_'):\n"
    "    f = getattr(lib, sym, None)\n"
    "    if f is not None:\n"
    "        f.restype = ctypes.c_char_p\n"
    "        print(f().decode())\n"
    "        break\n"
)


def _cpu_has_avx2_fma() -> bool:
    try:
        with open("/proc/cpuinfo", encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith("flags"):
                    flags = line.split()
                    return "avx2" in flags and "fma" in flags
    except OSError:
        pass
    return False


#: glibc malloc thresholds for numpy-heavy processes (bytes).  Large
#: numpy temporaries (the engine's GEMM/outer/mask blocks run 48-200 MB)
#: sit above glibc's default mmap threshold, so every allocation is a
#: fresh mmap and every free an munmap: the pages go back to the kernel
#: each loop iteration and the next iteration re-faults them — pure
#: overhead on any host, and catastrophic on hosts with slow first-touch
#: (this sandbox measured ~15-30 MB/s page-fault throughput under
#: hypervisor ballooning; a 20-iteration 450 MB-temp loop ran 55.9 s
#: default vs 28.8 s with these thresholds, the tuned residual being the
#: ONE-time first-touch).  Raising mmap+trim thresholds keeps freed
#: large blocks in the arena, warm and reusable.  Cost: worker RSS
#: retains its high-water mark (bounded by each pass's own chunking,
#: ~0.5-1 GB/worker in this engine).
_MALLOC_THRESHOLD = 256 << 20

#: OpenBLAS threads per Python worker: N workers x N-thread default
#: pools oversubscribe N-fold; 2 measured best (see module docstring).
_WORKER_BLAS_THREADS = 2


def _tune_malloc_in_process() -> None:
    """Apply the thresholds to THIS process via mallopt (the MALLOC_*
    env vars are only read at process startup, so exporting them helps
    future workers but not an already-running driver)."""
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        # glibc mallopt param numbers: M_TRIM_THRESHOLD=-1,
        # M_MMAP_THRESHOLD=-3 (stable public ABI)
        libc.mallopt(-3, ctypes.c_int(_MALLOC_THRESHOLD))
        libc.mallopt(-1, ctypes.c_int(_MALLOC_THRESHOLD))
    except Exception:
        pass  # non-glibc platform: defaults stand


def fix_openblas_env() -> None:
    """Apply the guarded fix; idempotent, must run before numpy loads."""
    _tune_malloc_in_process()
    if os.environ.get("OPENBLAS_CORETYPE"):
        pass  # operator override or inherited from the driver: respect it
    elif _cpu_has_avx2_fma():
        try:
            import numpy.version as _nv  # cheap: does not load openblas

            numpy_dir = os.path.dirname(os.path.dirname(
                os.path.abspath(_nv.__file__)))
            out = subprocess.run(
                [sys.executable, "-c", _PROBE, numpy_dir],
                capture_output=True, text=True, timeout=30)
            core = out.stdout.strip().lower()
            if core in _PRE_AVX_FALLBACKS:
                os.environ["OPENBLAS_CORETYPE"] = "HASWELL"
        except Exception:
            pass  # exotic layout/no subprocess: keep library defaults
    if ("pyspark.daemon" in sys.modules or "pyspark.worker" in sys.modules):
        # Python worker fallback path (driver env not inherited, e.g. an
        # externally-created JVM): bound the per-worker BLAS pool.
        os.environ.setdefault("OPENBLAS_NUM_THREADS",
                              str(_WORKER_BLAS_THREADS))
    # Latch the (possibly fixed) env into this process's numpy now, so a
    # later get_spark() can export worker-only thread limits without
    # affecting the driver's own BLAS pool.
    try:
        import numpy  # noqa: F401
    except ImportError:
        pass


def export_worker_env() -> dict[str, str]:
    """Env for Spark python workers (call BEFORE the JVM launches; in
    local mode workers inherit the driver process env, on clusters pass
    the returned map as ``spark.executorEnv.*``)."""
    env: dict[str, str] = {}
    if os.environ.get("OPENBLAS_CORETYPE"):
        env["OPENBLAS_CORETYPE"] = os.environ["OPENBLAS_CORETYPE"]
    # The driver's own numpy was already initialized by
    # fix_openblas_env(), so mutating os.environ here cannot shrink the
    # driver pool.
    env["OPENBLAS_NUM_THREADS"] = str(_WORKER_BLAS_THREADS)
    # glibc reads MALLOC_* env at process startup, so exporting here
    # reaches the pyspark daemon (and its forked workers) launched by
    # the JVM — the in-process driver twin is _tune_malloc_in_process.
    env["MALLOC_MMAP_THRESHOLD_"] = str(_MALLOC_THRESHOLD)
    env["MALLOC_TRIM_THRESHOLD_"] = str(_MALLOC_THRESHOLD)
    os.environ.update(env)
    return env
