"""SparkSession factory with scale-sane defaults.

Reference parity note: every reference job hard-codes
``spark.sql.shuffle.partitions=3`` (reference ``streaming/job1_bots.py:24``,
``batch/job1_locations.py:16``).  We instead enable AQE with partition
coalescing so the identical code runs on ``local[32]`` for tests and on a
1000-executor cluster without retuning.
"""

from __future__ import annotations

import contextlib
import os
import re
import shlex
import subprocess
import tempfile
import zipfile

from pyspark.sql import SparkSession

#: Runtime confs that are safe to (re)apply to an existing session.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE rewrite a sort-merge join to a shuffled-hash join when
    # every post-shuffle partition of the build side fits under this
    # bound (default 0 = never).  SHJ skips BOTH sort passes; the
    # rewrite is a runtime decision from ACTUAL partition sizes, so it
    # is safe at any scale — partitions above the bound keep the
    # spill-graceful sort-merge path.  128 MB matches a comfortable
    # per-task hash-table footprint against the worker heap here and
    # on a typical 4-8 GB-per-core cluster executor.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "128m",
    # The driver's events.parquet carries TIMESTAMP(NANOS) which Spark's
    # reader rejects by default; read as long and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime (post-plan) bloom-filter join reduction: when a shuffle
    # join's small side carries a selective filter, inject a bloom probe
    # into the big side's scan so non-matching rows die before the
    # shuffle.  Size thresholds keep it off for tiny local inputs; at
    # the 100 TB target this is the difference between shuffling the
    # full fact table and shuffling the ~matching slice.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Spark still defaults timestamp columns to legacy INT96, which
    # parquet writes WITHOUT min/max statistics — no footer exists for
    # the one column (event time) most predicates filter on, so
    # row-group/file skipping silently never happens on the time axis.
    # TIMESTAMP_MICROS is the modern annotated int64: full stats,
    # readable by every current engine.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


#: Driver heap default on a host with room for it; :func:`host_conf`
#: caps it below physical memory.
DRIVER_MEM_DEFAULT_MB = 48 << 10


def _mem_total_mb() -> int | None:
    """``MemTotal`` from /proc/meminfo in MiB, or None off Linux."""
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) >> 10
    except OSError:
        pass
    return None


def host_conf() -> tuple[int, str]:
    """``(cpus, driver_mem)`` for a local session.

    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` win when set.
    Otherwise the defaults come from this host: every core in the
    process's CPU affinity mask, and a 48g driver heap capped at three
    quarters of ``MemTotal`` (the rest stays for Python workers and the
    OS).  ``get_spark`` and ``bench.py`` both read this, so they agree.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            n_cpus = int(cpus)
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_CPUS={cpus!r}: expected a core count") from None
    elif hasattr(os, "sched_getaffinity"):
        n_cpus = len(os.sched_getaffinity(0))
    else:
        n_cpus = os.cpu_count() or 1
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        total = _mem_total_mb()
        cap = DRIVER_MEM_DEFAULT_MB if total is None else total * 3 // 4
        mem = f"{min(DRIVER_MEM_DEFAULT_MB, cap)}m"
    return n_cpus, mem


def _conf_int(conf, key: str, default: int) -> int:
    """Spark conf ``key`` as an int, or ``default`` when it is unset or
    not an integer (``spark.sql.shuffle.partitions`` may read ``auto``
    on some deployments).  ``conf`` is anything with Spark's
    ``get(key, default)``, e.g. ``spark.conf``."""
    try:
        return int(conf.get(key, None))
    except (TypeError, ValueError):
        return default


def get_spark(
    app_name: str = "kafka-bigdata-jobs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[cpus]`` with cpus from
    :func:`host_conf`, so tests and bench.py share one code path; on a
    real cluster set ``SPARK_GRAFT_MASTER`` or pass ``master``.
    """
    cpus, driver_mem = host_conf()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # Export the BLAS env for python WORKERS before the JVM launches
    # (local mode: workers inherit the driver process env via the JVM;
    # clusters: executorEnv below).  Must happen before getOrCreate —
    # a running JVM's env is immutable.  The driver's own numpy was
    # already initialized at package import, so the worker-only thread
    # bound cannot shrink the driver's BLAS pool (see _blas.py).
    from ._blas import export_worker_env

    worker_env = export_worker_env()
    builder = SparkSession.builder.appName(app_name).master(master)
    conf: dict[str, str] = {
        # local-mode default heap is 1g; the local runner needs real
        # memory for wide aggregate folds / cached signatures.  Only
        # effective when this call creates the JVM (ignored on attach).
        "spark.driver.memory": driver_mem,
        # The suite compiles hundreds of large whole-stage-codegen classes
        # (unrolled vector math, 64-aggregate signature folds); the JVM's
        # default 240 MB reserved code cache fills mid-run, JIT flushes /
        # stops compiling, and late queries run interpreted at 5-10x cost.
        # Only effective when this call creates the JVM.
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
        # The compiled-class cache defaults to 100 entries; the 89-query
        # suite generates several hundred distinct codegen classes, so
        # eviction forces random queries to repay Janino+JIT compile —
        # the dominant run-to-run variance in bench timings.  Static
        # conf: must be set before the first codegen (session create).
        "spark.sql.codegen.cache.maxEntries": "2000",
        **RUNTIME_CONF,
        # 32 matches local test parallelism; AQE coalesces down when small
        # and a cluster deployment overrides upward.  Never the reference's
        # hard-coded 3.
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # Graceful stop for streaming queries (reference keeps this too:
        # streaming/job1_bots.py:25).
        "spark.streaming.stopGracefullyOnShutdown": "true",
        "spark.ui.enabled": "false",
        # Cluster twin of the local-mode env inheritance above: python
        # workers on executors get the same guarded BLAS settings.
        **{f"spark.executorEnv.{k}": v for k, v in worker_env.items()},
        **(extra_conf or {}),
    }
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    install_worker_launcher(spark.sparkContext)
    return spark


def _zip_pyspark_version(zip_path: str) -> str | None:
    """``__version__`` from ``pyspark/version.py`` inside ``zip_path``,
    or None when the zip or the assignment is missing."""
    try:
        with zipfile.ZipFile(zip_path) as zf:
            src = zf.read("pyspark/version.py").decode("utf-8")
    except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
        return None
    m = re.search(r"^__version__\b[^=\n]*=\s*['\"]([^'\"]+)['\"]", src, re.M)
    return m.group(1) if m else None


_LAUNCHER = """\
#!/bin/sh
# Python worker launcher for a local Spark session, written by
# kafka_bigdata_jobs_spark.session.install_worker_launcher.  It drops the
# bytecode-less $SPARK_HOME pyspark.zip from PYTHONPATH, so the worker
# imports the compiled pyspark (same version) the driver imports.
zip={zip}
if [ -n "${{PYTHONPATH+set}}" ]; then
  rest="$PYTHONPATH:"
  kept=
  sep=
  while [ -n "$rest" ]; do
    entry="${{rest%%:*}}"
    rest="${{rest#*:}}"
    if [ "$entry" != "$zip" ]; then
      kept="$kept$sep$entry"
      sep=:
    fi
  done
  PYTHONPATH=$kept
  export PYTHONPATH
fi
exec {python} "$@"
"""

#: Run through the launcher: prints the pyspark package directory the
#: worker interpreter resolves.  ``find_spec`` locates without importing.
_PROBE = ("import importlib.util as u; "
          "print(u.find_spec('pyspark').submodule_search_locations[0])")


def install_worker_launcher(sc) -> None:
    """Point ``sc.pythonExec`` at a ``/bin/sh`` launcher that starts the
    original ``pythonExec`` without ``$SPARK_HOME/python/lib/pyspark.zip``
    on ``PYTHONPATH`` (once per SparkContext).

    Spark puts that zip first on every Python worker's ``PYTHONPATH``.
    It holds no bytecode and zipimport caches none, so each fresh worker
    recompiles pyspark on import -- ~1.1 s against ~0.35 s from an
    installed pyspark.  Streaming queries on a Python data source pay it
    at every query start (the source runner is a new worker with no
    daemon and no reuse).  Every Python function wrapped after this call
    -- UDFs, UDTFs, Python data sources -- starts its workers through
    the launcher.  ``sc.pythonExec`` is left untouched unless all hold:

    - the master is ``local*`` (workers share this host and its files);
    - the zip's ``pyspark/version.py`` matches this driver's pyspark;
    - this driver's pyspark is not loaded from under ``SPARK_HOME``;
    - run once through the launcher with the zip on ``PYTHONPATH``, the
      worker interpreter resolves the very pyspark package this driver
      imports (which also proves the temp dir allows exec).
    """
    if getattr(sc, "_kbj_launcher_checked", False):
        return
    sc._kbj_launcher_checked = True
    # The JVM's SPARK_HOME is the one it builds worker PYTHONPATHs from.
    spark_home = sc._jvm.java.lang.System.getenv("SPARK_HOME")
    if not sc.master.startswith("local") or not spark_home:
        return
    import pyspark

    # Spark builds the entry as File.separator-joined parts; match it.
    zip_path = os.sep.join([spark_home, "python", "lib", "pyspark.zip"])
    if _zip_pyspark_version(zip_path) != pyspark.__version__:
        return
    pkg_dir = os.path.dirname(os.path.realpath(pyspark.__file__))
    home = os.path.realpath(spark_home)
    if os.path.commonpath([pkg_dir, home]) == home:
        return
    path = os.path.join(
        tempfile.gettempdir(), f"kbj_spark_python_{os.getpid()}")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (zip_path, env.get("PYTHONPATH")) if p)
    try:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(_LAUNCHER.format(zip=shlex.quote(zip_path),
                                      python=shlex.quote(sc.pythonExec)))
        os.chmod(path, 0o755)
        probed = subprocess.run(
            [path, "-c", _PROBE], env=env, timeout=60, capture_output=True,
            text=True, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        probed = None
    if probed is None or os.path.realpath(probed) != pkg_dir:
        with contextlib.suppress(OSError):
            os.remove(path)
        return
    sc.pythonExec = path


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply session-safe confs to an externally-created session.

    The correctness driver owns its own SparkSession; queries() callables
    route through this so UTC timezone + AQE hold regardless of who built
    the session.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — leave as-is
    ensure_package_shipped(spark)
    return spark


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile`` (once per
    SparkContext).

    A driver that imports the engine through a ``sys.path`` insert (the
    correctness driver runs from an arbitrary cwd) leaves Spark's Python
    WORKERS without the package: any closure cloudpickle serializes by
    reference — UDTF classes, the Python DataSource, a mapInPandas
    helper — dies on the worker with ModuleNotFoundError.  Zipping the
    package and ``addPyFile``-ing it makes every queries() callable
    location-independent.  No-op when the package is a normal installed/
    cwd-visible import AND workers share that view (local mode from the
    repo root), but shipping is cheap (~100 KB) and always correct.
    """
    sc = spark.sparkContext
    if sc is None or getattr(sc, "_kbj_pkg_shipped", False):
        return
    import shutil

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    stem = os.path.join(
        tempfile.gettempdir(), f"kbj_spark_pkg_{os.getpid()}")
    try:
        zip_path = shutil.make_archive(
            stem, "zip", root_dir=parent,
            base_dir=os.path.basename(pkg_dir))
        sc.addPyFile(zip_path)
    except Exception:
        # Read-only tmp or an exotic deployment: leave import resolution
        # to the environment (the in-repo/local-mode path still works).
        pass
    sc._kbj_pkg_shipped = True
