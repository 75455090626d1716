"""Event-time window aggregations (SURVEY §2.13 extension).

The reference pipeline is pure batch; the engine adds the streaming
surface Spark-first: the SAME ``F.window``/``F.session_window``
expressions run in batch (DuckDB-oracle-checkable) and under
``readStream`` with a watermark (true incremental state). Batch is the
correctness gate; ``streaming.demo.run_windowed_stream`` proves the
identical plan runs incrementally.

Window semantics notes (for oracle parity):
- tumbling/sliding windows align to the unix epoch; start is emitted as
  floor-second epoch (``unix_timestamp``), matching DuckDB's
  ``floor(epoch(ts)/w)*w``.
- session windows are half-open [start, last_event + gap): an event at
  exactly ``prev + gap`` begins a NEW session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "10 minutes",
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Fixed tumbling windows: count + sum(value) per window (per key)."""
    grouped = events.groupBy(F.window(F.col(ts_col), window), *keys)
    return grouped.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    ).select(
        F.unix_timestamp("window.start").alias("win_start"),
        *keys,
        "n_events",
        "sum_value",
    )


def sliding_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "10 minutes",
    slide: str = "5 minutes",
) -> DataFrame:
    """Overlapping sliding windows: each event lands in window/slide
    windows (the Expand node emits one copy per window — no shuffle
    amplification beyond the final aggregate)."""
    grouped = events.groupBy(F.window(F.col(ts_col), window, slide))
    return grouped.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    ).select(
        F.unix_timestamp("window.start").alias("win_start"), "n_events", "sum_value"
    )


def session_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "5 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Per-key session windows with inactivity gap: session spans first
    event → last event + gap."""
    grouped = events.groupBy(F.session_window(F.col(ts_col), gap), key)
    return grouped.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    ).select(
        F.col(key),
        F.unix_timestamp("session_window.start").alias("sess_start"),
        F.unix_timestamp("session_window.end").alias("sess_end"),
        "n_events",
        "sum_value",
    )
