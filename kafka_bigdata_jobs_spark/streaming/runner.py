"""Streaming query runner: single-query multi-sink fan-out.

The reference starts up to 7 concurrent streaming queries per job, each
with its own Kafka consumer group and checkpoint
(``streaming/job1_bots.py:363-412``) — 7× broker read amplification.
Here ONE query consumes the source and ``foreachBatch`` multiplexes each
micro-batch to every sink; the batch is persisted so sinks don't
recompute the lineage (SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from ..operators.cdc import latest_change_per_key
from ..sinks import _atomic_swap_dir, _next_version_dir, write_parquet

#: A sink receives (micro-batch DataFrame, batch_id).
Sink = Callable[[DataFrame, int], None]


#: The last-applied batch_id, persisted INSIDE each state dir so it
#: rides the same swap as the data ("_"-prefixed files are invisible to
#: parquet readers, like _SUCCESS).
_MARKER = "_last_batch"


def _last_applied(state_dir: str) -> int | None:
    """batch_id of the fold that produced ``state_dir``, or None."""
    import pathlib

    try:
        return int((pathlib.Path(state_dir) / _MARKER).read_text().strip())
    except (OSError, ValueError):
        return None


def _state_exists(state_dir: str) -> bool:
    """Whether ``state_dir`` holds state.  A ``<state_dir>__old_*`` left
    without ``state_dir`` by a crash inside the older two-move swap
    raises instead of silently restarting from empty."""
    import glob
    import os

    if os.path.exists(state_dir):
        return True
    olds = sorted(glob.glob(glob.escape(state_dir.rstrip("/")) + "__old_*"))
    if olds:
        raise RuntimeError(f"{state_dir} is missing but {olds} survive a crashed swap; "
                           f"move the one with the highest {_MARKER} back by hand")
    return False


def _commit_state(state_dir: str, merged: DataFrame, batch_id: int) -> None:
    """Write ``merged`` to the idle A/B version dir, mark it with
    ``batch_id`` and flip ``state_dir``'s symlink to it.  A crash before
    the flip leaves the live version untouched; the next commit
    overwrites whatever the crash left in the idle dir."""
    import pathlib

    new_dir = _next_version_dir(state_dir)
    merged.write.mode("overwrite").parquet(new_dir)
    # Marker rides inside the new version => applied atomically with
    # the data.
    (pathlib.Path(new_dir) / _MARKER).write_text(str(batch_id))
    _atomic_swap_dir(state_dir, new_dir)


@dataclass
class ParquetSink:
    """``foreachBatch`` parquet writer for fan-out jobs.  AT-LEAST-ONCE:
    it ignores ``batch_id``, so a batch replayed after a crash (written,
    then the commit log not yet updated) appends its files again.
    Single-sink jobs should use :func:`run_to_parquet`, whose native
    sink commits files exactly once."""

    path: str
    mode: str = "append"
    partition_by: tuple[str, ...] = ()

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        write_parquet(batch, self.path, self.mode, self.partition_by)


@dataclass
class ConsoleReportSink:
    """Bounded console reporter — the reference collect()s the whole
    micro-batch into the driver (``streaming/job2.py:206-246``); this
    caps it with limit() first (SURVEY §2.12)."""

    title: str
    limit: int = 20

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        rows = batch.limit(self.limit).collect()
        print(f"=== {self.title} [batch {batch_id}] ({len(rows)} rows) ===")
        for r in rows:
            print("  ", r.asDict())


@dataclass
class BufferedExternalSink:
    """External-index sink pattern (reference K3: OpenSearch via per-row
    HTTP posts inside foreachBatch, ``streaming/elk_sender.py:107-128``).

    The reference collect()s then POSTs row-at-a-time from the driver —
    N network round-trips per micro-batch.  Here rows are shipped in
    bulk chunks through an injectable ``send`` callable (the HTTP/bulk
    client boundary), so tests inject a recorder and production injects
    an OpenSearch/ES bulk call; at real scale prefer
    ``foreachPartition`` executor-side senders or a Kafka hop.
    """

    send: "Callable[[list[dict]], None]"
    chunk_size: int = 500
    limit_per_batch: int = 100_000

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        rows = [r.asDict() for r in batch.limit(self.limit_per_batch).collect()]
        for i in range(0, len(rows), self.chunk_size):
            self.send(rows[i : i + self.chunk_size])


@dataclass
class MemorySink:
    """Test sink: accumulates micro-batch rows in the driver (bounded)."""

    limit_per_batch: int = 10_000

    def __post_init__(self):
        self.batches: list[list] = []

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        self.batches.append(batch.limit(self.limit_per_batch).collect())

    @property
    def rows(self) -> list:
        return [r for b in self.batches for r in b]


def run_multi_sink(
    df: DataFrame,
    sinks: Sequence[Sink],
    checkpoint: str,
    trigger: dict | None = None,
    query_name: str = "multi_sink",
):
    """Start ONE streaming query that fans each micro-batch out to all
    sinks.  ``trigger`` defaults to availableNow (drain-and-stop, used
    by tests); pass ``{"processingTime": "30 seconds"}`` for the
    reference's cadence."""

    def fan_out(batch: DataFrame, batch_id: int) -> None:
        many = len(sinks) > 1
        if many:
            batch.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for sink in sinks:
                sink(batch, batch_id)
        finally:
            if many:
                batch.unpersist()

    writer = (
        df.writeStream.queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(fan_out)
    )
    return writer.trigger(**(trigger or {"availableNow": True})).start()


def run_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """Plain append parquet sink (reference K1 shape,
    ``streaming/job1_bots.py:363-369``) — kept for single-sink jobs
    where the native sink's exactly-once file tracking beats
    foreachBatch."""
    return (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


@dataclass
class IncrementalViewSink:
    """Continuous-aggregate sink: folds each micro-batch's partial
    aggregates into a parquet state directory (operators/incremental.py)
    and atomically swaps it — the streaming face of incremental
    materialized-view maintenance.

    Each micro-batch costs O(delta + touched state), never a rescan of
    history.  Two mechanisms combine for effectively-once:

    - **Atomic swap**: ``state_dir`` is a symlink to ``<state_dir>__v_a``
      or ``__v_b``; each fold is written to the idle version and the
      link is flipped with one ``os.replace`` (sinks._atomic_swap_dir),
      so a crash mid-write leaves the previous state intact and readers
      never see a missing dir.
    - **batch_id idempotence**: foreachBatch is at-least-once — if the
      driver crashes AFTER the swap but BEFORE Spark commits the
      checkpoint offset, the same micro-batch is replayed against the
      POST-swap state and an additive merge would double-count.  The
      last-applied batch_id is persisted INSIDE the version dir (a
      ``_last_batch`` file, carried by the same swap), and a replayed
      batch with ``batch_id <= last`` is a no-op.

    At scale, partition state by day and rewrite touched days only.
    """

    state_dir: str
    partials_fn: Callable[[DataFrame], DataFrame]
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame]

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        last = _last_applied(self.state_dir)
        if last is not None and batch_id <= last:
            return  # checkpoint replay of an already-folded batch
        spark = batch.sparkSession
        delta = self.partials_fn(batch)
        if _state_exists(self.state_dir):
            state = spark.read.parquet(self.state_dir)
            merged = self.merge_fn(state, delta)
        else:
            merged = delta
        _commit_state(self.state_dir, merged, batch_id)


@dataclass
class CdcApplySink:
    """Streaming MERGE: each micro-batch is a changelog slice applied
    onto a keyed parquet snapshot (the row-level counterpart of
    :class:`IncrementalViewSink`'s additive fold) — a Debezium-style
    change stream becomes a continuously-current table with no table
    format.  State commits through the same A/B symlink swap.

    The state carries a per-key ``__seq`` high-water mark, so the apply
    is ordered by the LOG SEQUENCE, not by arrival: a batch's per-key
    winner (``operators/cdc.latest_change_per_key``) only lands if
    its seq exceeds the state's — cross-batch replays, out-of-order
    redeliveries, and checkpoint re-runs all degrade to no-ops rather
    than regressing rows (the ``_last_batch`` marker still short-
    circuits whole replayed batches).  Both probes against the state
    (stale-filter join + left-anti) are delta-keyed; a snapshot
    partitioned on the key bucket rewrites touched buckets only at
    scale.

    Deletes are retained as TOMBSTONES (key + ``__seq`` +
    ``__deleted=true``, payload nulled) rather than physically removed:
    dropping the row would also drop its high-water mark, and a later
    batch redelivering an older ``U`` (seq below the delete's) would
    find no state row and resurrect the key.  Read the snapshot through
    :meth:`read_snapshot`, which filters tombstones out.  At scale,
    tombstones are compacted away once older than the source's maximum
    redelivery window (e.g. the Kafka topic's retention) — below that
    horizon no stale ``U`` can still arrive.
    """

    state_dir: str
    keys: Sequence[str]
    seq_col: str = "seq"
    op_col: str = "op"

    _DELETED = "__deleted"

    @staticmethod
    def read_snapshot(spark, state_dir: str) -> DataFrame:
        """The current table: the keyed state minus tombstones."""
        from pyspark.sql import functions as F

        snap = spark.read.parquet(state_dir)
        if CdcApplySink._DELETED in snap.columns:
            snap = snap.where(~F.col(CdcApplySink._DELETED)).drop(
                CdcApplySink._DELETED)
        return snap

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        last = _last_applied(self.state_dir)
        if last is not None and batch_id <= last:
            return
        spark = batch.sparkSession
        keys = list(self.keys)
        # __seq rides in the winner struct, so it is the per-key max seq
        # (columns: keys, payload, __seq)
        win = latest_change_per_key(
            batch.withColumn("__seq", F.col(self.seq_col)), keys, self.seq_col)
        if _state_exists(self.state_dir):
            state = spark.read.parquet(self.state_dir)
            if self._DELETED not in state.columns:  # pre-tombstone state
                state = state.withColumn(self._DELETED, F.lit(False))
        else:
            state = (
                win.where(F.lit(False))
                .drop(self.op_col)
                .withColumn(self._DELETED, F.lit(False))
            )
        fresh = (
            win.join(
                state.select(*keys, F.col("__seq").alias("__seq_old")),
                keys,
                "left",
            )
            .where(F.col("__seq_old").isNull() | (F.col("__seq") > F.col("__seq_old")))
            .drop("__seq_old")
        )
        kept = state.join(fresh.select(*keys), keys, "left_anti")
        # Winners land whether U or D; a D becomes a tombstone (payload
        # nulled, __seq retained) so its high-water mark keeps guarding
        # against stale-U redeliveries (see class docstring).
        value_cols = [c for c in batch.columns
                      if c not in (*keys, self.seq_col, self.op_col)]
        winners = fresh.withColumn(
            self._DELETED, F.col(self.op_col) == "D"
        ).select(
            *keys,
            *[
                F.when(~F.col(self._DELETED), F.col(c)).alias(c)
                for c in value_cols
            ],
            "__seq",
            self._DELETED,
        )
        merged = kept.unionByName(winners.select(*state.columns))
        _commit_state(self.state_dir, merged, batch_id)
