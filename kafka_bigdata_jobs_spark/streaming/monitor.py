"""Streaming observability: a progress listener capturing per-batch
throughput/latency — the monitoring counterpart to ``observe()`` on the
batch side.

The reference has no monitoring beyond console prints; operating a
streaming job at scale needs input-rate vs processing-rate per trigger
(falling behind = rate > processed), batch durations, and state-store
size trends, all of which Spark already emits through
``StreamingQueryListener`` — this captures them without touching the
query plan or adding any scan cost.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchProgress:
    """One trigger's progress event.  The rates are rows/s as Spark
    reports them (NaN when a rate has no interval yet); a query falls
    behind while ``input_rows_per_s`` exceeds ``processed_rows_per_s``.
    State figures sum every stateful operator; ``watermark`` is Spark's
    ISO-8601 string, or None before the first one."""

    query_id: str
    batch_id: int
    num_input_rows: int
    duration_ms: int | None
    input_rows_per_s: float
    processed_rows_per_s: float
    state_rows_total: int
    state_memory_bytes: int
    watermark: str | None


@dataclass
class ProgressRecorder(StreamingQueryListener):
    """Collects one :class:`BatchProgress` per completed micro-batch.

    Attach with ``spark.streams.addListener(rec)``; detach with
    ``removeListener``.  Listener callbacks run on the driver's
    listener bus — keep them O(1) per event (append only), never
    trigger Spark actions from inside one.
    """

    records: list[BatchProgress] = field(default_factory=list)

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = p.stateOperators or []
        self.records.append(
            BatchProgress(
                query_id=str(p.id),
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                duration_ms=(p.durationMs or {}).get("triggerExecution"),
                input_rows_per_s=p.inputRowsPerSecond,
                processed_rows_per_s=p.processedRowsPerSecond,
                state_rows_total=sum(op.numRowsTotal for op in ops),
                state_memory_bytes=sum(op.memoryUsedBytes for op in ops),
                watermark=(p.eventTime or {}).get("watermark"),
            )
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def total_rows(self) -> int:
        return sum(r.num_input_rows for r in self.records)
