"""Streaming workloads: the five reference jobs (``streaming/jobs.py``)
drained through ``streaming.runner.run_multi_sink`` into
``[ParquetSink, MemorySink]``.

- ``stream_files``: the seeded tweet corpus is staged as JSON files, one
  micro-batch per file, drained with ``availableNow``.
- ``stream_replay``: the same rows from the ``tweet_replay`` Python
  source (``rowsPerBatch``/``maxRows``), drained with
  ``processAllAvailable`` (the simple stream reader does not support
  ``availableNow``).

A round is the five drains, one after another (closed loop: each
trigger starts when the previous one ends).  One untimed round warms
the JVM; timed rounds repeat until ``--seconds`` have passed.  Outputs
are checked after the timed region, against the same transform run on
the batch corpus.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import time

from .common import (
    Outcome,
    RssSampler,
    RunContext,
    median,
    pct,
    tree_cpu_s,
)

#: (rows per micro-batch, micro-batches per drain) by scale.
SIZES = {"full": (1000, 2), "tiny": (200, 2)}

JOB_NAMES = ("bots", "trending", "sentiment", "locations", "alerts")

#: Stream-processing layers folded from ``q.recentProgress``.
_DURATIONS = ("latestOffset", "getBatch", "queryPlanning", "walCommit",
              "commitOffsets", "addBatch", "triggerExecution")


def _transforms():
    from kafka_bigdata_jobs_spark.streaming import jobs

    return {
        "bots": jobs.high_frequency_bots,
        "trending": jobs.trending_hashtags,
        "sentiment": jobs.sentiment_metrics,
        "locations": jobs.location_metrics,
        "alerts": lambda df: jobs.alert_metrics(jobs.engagement_alerts(df)),
    }


def _with_event_time(df):
    from pyspark.sql import functions as F

    return df.withColumn("event_time", F.to_timestamp("timestamp"))


class _TimedSink:
    """Traced run only: times a sink callable per batch and tags the
    Spark jobs it launches with the streaming query's name."""

    def __init__(self, sink, tag: str, spark, log: dict):
        self.sink, self.tag, self.spark, self.log = sink, tag, spark, log

    def __call__(self, batch, batch_id: int) -> None:
        self.spark.sparkContext.setJobDescription(self.tag)
        t0 = time.perf_counter()
        self.sink(batch, batch_id)
        self.log[batch_id] = self.log.get(batch_id, 0.0) + (
            time.perf_counter() - t0) * 1e3


class StreamBench:
    def __init__(self, ctx: RunContext, spark, source: str):
        from kafka_bigdata_jobs_spark.sources.pydatasource import (
            register_tweet_replay,
        )

        self.ctx, self.spark, self.source = ctx, spark, source
        self.per_batch, self.n_batches = SIZES[ctx.scale]
        self.n_rows = self.per_batch * self.n_batches
        self.transforms = _transforms()
        register_tweet_replay(spark)
        self.staged_rows: dict[str, int] = {}
        if source == "files":
            self._stage_files()

    # -- inputs ---------------------------------------------------------------

    def _corpus(self):
        """The batch corpus: exactly the rows every drain must consume."""
        return (
            self.spark.read.format("tweet_replay")
            .option("rows", self.n_rows)
            .option("numPartitions", self.n_batches)
            .option("seed", self.ctx.seed)
            .load()
        )

    def _stage_files(self) -> None:
        """One JSON file per micro-batch, mtimes in row order (the file
        source orders new files by modification time)."""
        tmp = self.ctx.path("staging")
        self._corpus().write.mode("overwrite").json(tmp)
        self.src_dir = self.ctx.path("tweets")
        os.makedirs(self.src_dir)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*.json")))
        if len(parts) != self.n_batches:
            raise RuntimeError(f"staged {len(parts)} files, want {self.n_batches}")
        base = time.time() - 3600
        for k, p in enumerate(parts):
            dst = os.path.join(self.src_dir, f"batch-{k:05d}.json")
            shutil.move(p, dst)
            os.utime(dst, (base + k, base + k))
            with open(dst, encoding="utf-8") as fh:
                self.staged_rows[os.path.basename(dst)] = sum(1 for _ in fh)
        shutil.rmtree(tmp)
        self.warm_dir = self.ctx.path("tweets_warm")
        os.makedirs(self.warm_dir)
        shutil.copy2(os.path.join(self.src_dir, "batch-00000.json"), self.warm_dir)

    def _stream(self, warm: bool):
        """The source stream; the warm-up drains only the first batch."""
        from kafka_bigdata_jobs_spark.schemas import TWEET_SCHEMA
        from kafka_bigdata_jobs_spark.sources.stream_files import read_json_stream

        if self.source == "files":
            src = self.warm_dir if warm else self.src_dir
            return _with_event_time(read_json_stream(self.spark, src, TWEET_SCHEMA))
        return _with_event_time(
            self.spark.readStream.format("tweet_replay")
            .option("rowsPerBatch", self.per_batch)
            .option("maxRows", self.per_batch if warm else self.n_rows)
            .option("seed", self.ctx.seed)
            .load()
        )

    # -- one drain -------------------------------------------------------------

    def _drained_rows(self, progress: list[dict], ckpt: str) -> int:
        """Input rows the query committed, counted from its input (not
        from ``numInputRows``, which misses rows a pushed-down filter
        skipped)."""
        if self.source == "replay":
            if not progress:
                return 0
            end = progress[-1]["sources"][0]["endOffset"]
            return int((json.loads(end) if isinstance(end, str) else end)["next"])
        n = 0
        for log in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
            if not os.path.basename(log).isdigit():
                continue
            with open(log, encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("{"):
                        name = os.path.basename(json.loads(line)["path"])
                        n += self.staged_rows[name]
        return n

    def drain(self, job: str, tag: str, traced: bool = False,
              warm: bool = False) -> dict:
        """Run ``job`` as streaming query ``tag`` until the backlog is
        drained; return its wall time, progress events, committed input
        rows and the memory sink's rows."""
        from kafka_bigdata_jobs_spark.streaming.runner import (
            MemorySink,
            ParquetSink,
            run_multi_sink,
        )

        where = self.ctx.path("drains", tag)
        ckpt = os.path.join(where, "ckpt")
        mem = MemorySink(limit_per_batch=10_000_000)
        sinks = [ParquetSink(os.path.join(where, "parquet")), mem]
        sink_ms = {"parquet": {}, "memory": {}}
        if traced:
            sinks = [
                _TimedSink(sinks[0], tag, self.spark, sink_ms["parquet"]),
                _TimedSink(sinks[1], tag, self.spark, sink_ms["memory"]),
            ]
            self.spark.sparkContext.setJobDescription(tag)
        trigger = ({"availableNow": True} if self.source == "files"
                   else {"processingTime": "0 seconds"})
        started = time.time()
        t0 = time.perf_counter()
        out_df = self.transforms[job](self._stream(warm))
        q = run_multi_sink(out_df, sinks, ckpt, trigger=trigger, query_name=tag)
        try:
            if self.source == "files":
                q.awaitTermination()
            else:
                q.processAllAvailable()
        finally:
            q.stop()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"{tag}: {q.exception()}")
        progress = [json.loads(p.json) for p in q.recentProgress]
        out = {
            "job": job,
            "tag": tag,
            "wall_s": wall,
            "started": started,
            "progress": progress,
            "drained": self._drained_rows(progress, ckpt),
            "rows": mem.rows,
            "columns": out_df.columns,
            "sink_ms": sink_ms,
        }
        shutil.rmtree(where, ignore_errors=True)
        return out

    def warm(self) -> dict[str, list[dict]]:
        """Untimed warm-up: the batch-side expected outputs (every job's
        transform compiled and run once over the corpus), then one drain
        of the first job over the first batch, which warms the streaming
        engine, state store, sinks and source.  Sequential: run
        concurrently, drains over the Python source intermittently failed
        task deserialization (``java.io.OptionalDataException``).  One
        drain, not five, keeps a run within the time budget."""
        expected = self.expected()
        self.drain(JOB_NAMES[0], f"warm_{JOB_NAMES[0]}", warm=True)
        return expected

    def round(self, tag: str) -> dict:
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        drains = [self.drain(j, f"{tag}_{j}", traced=self.ctx.trace)
                  for j in JOB_NAMES]
        return {"wall_s": time.perf_counter() - t0,
                "cpu_s": tree_cpu_s() - cpu0, "drains": drains}

    # -- checks ----------------------------------------------------------------

    def expected(self) -> dict[str, list[dict]]:
        """Each job's transform on the batch corpus."""
        from kafka_bigdata_jobs_spark.streaming import jobs

        if self.source == "files":
            from kafka_bigdata_jobs_spark.schemas import TWEET_SCHEMA

            corpus = self.spark.read.schema(TWEET_SCHEMA).json(self.src_dir)
        else:
            corpus = self._corpus()
        corpus = _with_event_time(corpus).cache()
        exp = {}
        for j in JOB_NAMES:
            # Streaming trending emits raw windowed counts; the batch
            # form ranks them, so ask for every rank.
            out = (jobs.trending_hashtags(corpus, top_n=10**9) if j == "trending"
                   else self.transforms[j](corpus))
            exp[j] = [r.asDict() for r in out.collect()]
        corpus.unpersist()
        return exp

    def check(self, d: dict, batch_rows: list[dict]) -> str | None:
        """Duality rule of the stream/batch tests: every emitted row is a
        batch row, no row is emitted twice, and every window closed by the
        final watermark has been emitted."""
        if d["drained"] != self.n_rows:
            return f"{d['job']}: drained {d['drained']} rows of {self.n_rows}"
        cols = d["columns"]
        expected = {_key(r, cols) for r in batch_rows}
        got = [_key(r.asDict(), cols) for r in d["rows"]]
        if len(set(got)) != len(got):
            return f"{d['job']}: duplicate output rows"
        extra = set(got) - expected
        if extra:
            return f"{d['job']}: {len(extra)} rows not in batch output"
        wm = _watermark(d["progress"])
        closed = {r for r in expected if r[1] < wm}
        missing = closed - set(got)
        if missing:
            return f"{d['job']}: {len(missing)} closed windows missing"
        return None


def _key(row: dict, cols: list[str]) -> tuple:
    """Hashable, float-rounded projection of ``row`` on the streamed
    columns; window_start/window_end lead."""
    rest = tuple(round(v, 6) if isinstance(v, float) else v
                 for v in (row[c] for c in sorted(cols)
                           if c not in ("window_start", "window_end")))
    return (row["window_start"], row["window_end"]) + rest


def _watermark(progress: list[dict]) -> dt.datetime:
    wms = [p.get("eventTime", {}).get("watermark") for p in progress]
    wms = [w for w in wms if w]
    if not wms:
        return dt.datetime.min
    w = max(wms)  # ISO-8601 UTC strings sort chronologically
    return dt.datetime.strptime(w, "%Y-%m-%dT%H:%M:%S.%fZ")


def _is_data(p: dict) -> bool:
    s = p["sources"][0]
    return s.get("startOffset") != s.get("endOffset")


def _metrics(bench: StreamBench, rounds: list[dict]) -> tuple[dict, dict]:
    drains = [d for r in rounds for d in r["drains"]]
    progs = [(d, p) for d in drains for p in d["progress"]]
    data = [(d, p) for d, p in progs if _is_data(p)]
    dur = {k: [p["durationMs"].get(k, 0) for _, p in data] for k in _DURATIONS}
    wall = median(r["wall_s"] for r in rounds)
    n = len(rounds)
    e2e = {
        "wall_s": wall,
        "rows_per_s": bench.n_rows * len(JOB_NAMES) / wall,
        "latency_ms_p50": pct(dur["triggerExecution"], 50),
        "latency_ms_p80": pct(dur["triggerExecution"], 80),
        "cpu_s": median(r["cpu_s"] for r in rounds),
    }

    def ops(p):
        return p.get("stateOperators") or []

    parquet_ms, memory_ms, fanout_ms = [], [], []
    for d, p in data:
        bid = p["batchId"]
        pq_ms = d["sink_ms"]["parquet"].get(bid)
        mem_ms = d["sink_ms"]["memory"].get(bid)
        if pq_ms is not None and mem_ms is not None:
            parquet_ms.append(pq_ms)
            memory_ms.append(mem_ms)
            fanout_ms.append(p["durationMs"].get("addBatch", 0) - pq_ms - mem_ms)
    first_trigger_ms = []
    for d in drains:
        if d["progress"]:
            ts = dt.datetime.strptime(d["progress"][0]["timestamp"],
                                      "%Y-%m-%dT%H:%M:%S.%fZ")
            start = dt.datetime.fromtimestamp(d["started"], dt.timezone.utc)
            first_trigger_ms.append(
                (ts - start.replace(tzinfo=None)).total_seconds() * 1e3)
    per_job_instances: dict[str, int] = {}
    for d, p in progs:
        inst = sum(o.get("numStateStoreInstances", 0) for o in ops(p))
        per_job_instances[d["job"]] = max(per_job_instances.get(d["job"], 0), inst)
    layers = {
        "sources.latest_offset_ms_p50": pct(dur["latestOffset"], 50),
        "sources.get_batch_ms_p50": pct(dur["getBatch"], 50),
        "sources.reported_rows": sum(p["numInputRows"] for _, p in progs) / n,
        "streaming.query_planning_ms_p50": pct(dur["queryPlanning"], 50),
        "streaming.wal_commit_ms_p50": pct(dur["walCommit"], 50),
        "streaming.commit_offsets_ms_p50": pct(dur["commitOffsets"], 50),
        "streaming.query_start_ms": median(first_trigger_ms),
        "streaming.triggers": len(progs) / n,
        "streaming.empty_triggers": (len(progs) - len(data)) / n,
        "streaming.data_trigger_ratio": len(data) / max(1, len(progs)),
        "state.instances": float(sum(per_job_instances.values())),
        "state.commit_ms_p50": pct(
            [sum(o.get("commitTimeMs", 0) for o in ops(p)) for _, p in data], 50),
        "state.updates_ms_p50": pct(
            [sum(o.get("allUpdatesTimeMs", 0) for o in ops(p)) for _, p in data], 50),
        "state.rows_total_max": float(max(
            (sum(o.get("numRowsTotal", 0) for o in ops(p)) for _, p in progs),
            default=0)),
        "state.memory_bytes_max": float(max(
            (sum(o.get("memoryUsedBytes", 0) for o in ops(p)) for _, p in progs),
            default=0)),
        "state.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0)
            for _, p in progs for o in ops(p)) / n,
        "runner.add_batch_ms_p50": pct(dur["addBatch"], 50),
        "runner.sink_parquet_ms_p50": pct(parquet_ms, 50),
        "runner.sink_memory_ms_p50": pct(memory_ms, 50),
        "runner.fanout_ms_p50": pct(fanout_ms, 50),
    }
    for j in JOB_NAMES:
        layers[f"jobs.{j}_s"] = median(d["wall_s"] for d in drains if d["job"] == j)
    bench.ctx.details.update({
        "rounds": n,
        "data_triggers": len(data),
        "latency_samples": len(dur["triggerExecution"]),
        "rows_per_drain": bench.n_rows,
        "rows_per_batch": bench.per_batch,
    })
    return e2e, layers


def run(ctx: RunContext, spark, source: str, setup_t0: float) -> Outcome:
    bench = StreamBench(ctx, spark, source)
    ctx.details["phases"]["session_s"] = time.perf_counter() - setup_t0
    expected = bench.warm()
    setup_s = time.perf_counter() - setup_t0
    ctx.details["phases"]["setup_s"] = setup_s

    rounds, errors = [], []
    attempted = failed = 0
    with RssSampler() as rss:
        t0 = time.perf_counter()
        k = 0
        while True:
            try:
                rounds.append(bench.round(f"timed{k}"))
                attempted += len(JOB_NAMES)
            except Exception as exc:  # noqa: BLE001 - counted, reported
                attempted += len(JOB_NAMES)
                failed += len(JOB_NAMES)
                errors.append(f"round {k}: {exc!r}")
                break
            k += 1
            if time.perf_counter() - t0 >= ctx.seconds:
                break

    if not rounds:
        return Outcome(attempted, failed, {}, {}, errors)
    for r in rounds:
        for d in r["drains"]:
            problem = bench.check(d, expected[d["job"]])
            if problem:
                failed += 1
                errors.append(problem)
    e2e, layers = _metrics(bench, rounds)
    e2e.update(setup_s=setup_s, peak_rss_mb=rss.peak_mb)
    ctx.details["timed_tags"] = {d["tag"]: d["job"]
                                 for r in rounds for d in r["drains"]}
    ctx.details["timed_units"] = len(rounds)
    return Outcome(attempted, failed, e2e, layers, errors)
