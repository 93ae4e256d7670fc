"""Stream-stream and stream-static joins (beyond-reference; the
reference has zero joins of any kind — SURVEY.md §2.4).

Stream-stream inner joins require both sides watermarked plus a time
interval bound on the join condition so Spark can evict state: each
side buffers only rows inside the watermark+interval horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import dedup_within_watermark  # noqa: F401  (re-export)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    on,
    interval: str = "10 minutes",
    watermark: str = "0 seconds",
    how: str = "inner",
) -> DataFrame:
    """Join rows whose event times lie within ``[left_ts, left_ts +
    interval]`` — the stream-stream pattern (funnel analysis: click →
    purchase within N minutes).

    On streams both sides get watermarks and the interval bound makes
    state eviction possible; on batch frames the identical condition
    runs as a plain range join, which is the duality oracle.
    """
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        on
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {interval}"))
    )
    return l.join(r, cond, how)


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    on,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (bounded) dimension table.

    The static side is broadcast — no state, no watermark needed; Spark
    re-plans the dim per micro-batch, so a refreshed underlying table is
    picked up on the next trigger.  This is the streaming face of the
    same broadcast-dim pattern as ``operators/joins.py::broadcast_join``
    (batch twin = the duality oracle in tests).
    """
    return stream.join(F.broadcast(dim), on, how)

