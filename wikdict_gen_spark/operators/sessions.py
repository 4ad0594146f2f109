"""Gap-based sessionization of event streams — the canonical clickstream
operator: consecutive events of one user belong to the same session until
an inactivity gap exceeds the threshold.

Scale shape: exactly one shuffle, on the user key, then everything is
window arithmetic inside the partition (lag -> boundary flag -> running
sum).  The per-user window is order-dependent so it cannot be salted; the
bound is per-user event count, which product analytics keeps small by
construction (a user's events per day, not the firehose).  For genuinely
unbounded keys (bots), pre-split by calendar day first — gap sessions
never span an inactivity-length boundary, so day-splitting is lossless
when the gap is below a day.

Determinism: events are ordered by (ts, event_id) — the id tiebreak makes
the running session index reproducible across engines and runs even when
timestamps collide; gap decisions only read the predecessor's ts, which is
tie-order-invariant.

Batch only: the streaming path (`streaming/windows.py`) has tumbling
event windows, not sessions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Assign each event a per-user session index.

    Adds `session_idx` (0-based, in (ts, id) order): a new session starts
    when the gap to the user's previous event exceeds `gap_seconds`.
    Second-granularity comparison (unix_timestamp) so the SQL oracle's
    date_diff('second') reproduces it exactly.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag(F.col("ts")).over(w)
    new_session = F.when(
        prev_ts.isNull()
        | (
            (F.unix_timestamp(F.col("ts")) - F.unix_timestamp(prev_ts))
            > F.lit(int(gap_seconds))
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    return events.withColumn(
        "session_idx",
        (F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ) - F.lit(1)).cast("bigint"),
    )


def session_stats(
    events: DataFrame,
    gap_seconds: int = 1800,
) -> DataFrame:
    """One row per (user, session): event count, start/end, duration.

    Composition of sessionize + one groupBy on (user, session_idx) — the
    aggregation reuses the sessionize shuffle's partitioning (same leading
    key), so AQE plans it without a second exchange.
    """
    s = sessionize(events, gap_seconds)
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("duration_s"),
    )
