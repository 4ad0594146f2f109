"""Streaming windowed aggregation: tumbling event-time windows under a
watermark.

`windowed_event_stats` is the operator q_stream_event_windows runs over a
real file-source stream.  The watermark bounds state: an event later than
`watermark` behind the stream's max event time is dropped, everything
newer updates its window in place — the standard late-data contract for
a feed that arrives hours out of order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_stats(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per (window, key): event count plus min/max of user and value.

    Every output value is reproducible by an independent SQL engine:
    count plus min/max (order-independent even on doubles), no HLL
    sketch.  Run under Trigger.AvailableNow with COMPLETE output mode the
    result is batching-invariant and equals the batch groupBy — that is
    what puts the streaming execution path itself under the row-hash
    oracle (q_stream_event_windows); the late-data drop stays under
    pytest (test_streaming_windows), where the trigger-dependent
    watermark can be asserted batch by batch.
    """
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "min_user",
            "max_user",
            "min_value",
            "max_value",
        )
    )
