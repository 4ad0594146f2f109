"""Streaming windowed aggregation: watermark/late-data drop and
batching-invariant complete output of windowed_event_stats."""

import datetime
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from wikdict_gen_spark.streaming.windows import windowed_event_stats

T0 = datetime.datetime(2026, 1, 1, 10, 0, 0)
EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double")


def _events_table(rows):
    """rows: (event_id, ts_offset_minutes, user_id, event_type, value)."""
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [T0 + datetime.timedelta(minutes=r[1]) for r in rows],
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
        }
    )


def test_windowed_stats_and_late_drop(spark, tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    # batch 1: events at 10:05 and 11:10 -> stream max event time 11:10,
    # watermark (1h delay) = 10:10
    pq.write_table(
        _events_table(
            [
                (1, 5, 100, "click", 1.0),
                (2, 5, 101, "click", 2.0),
                (3, 70, 102, "view", 3.0),
            ]
        ),
        src / "b1.parquet",
    )
    # batch 2: an on-time event (11:20) -> max event time 11:20
    pq.write_table(_events_table([(4, 80, 103, "view", 4.0)]), src / "b2.parquet")
    # batch 3: a LATE event (8:30), far behind the operative watermark
    # (the watermark lags one micro-batch: stats from batch N set the
    # watermark enforced from batch N+1 on, so the drop is only
    # guaranteed once a batch boundary has passed since 11:10 was seen)
    pq.write_table(_events_table([(5, -90, 104, "click", 5.0)]), src / "b3.parquet")
    # the file source orders batches by modification time: pin them
    now = time.time()
    for i, f in enumerate(["b1", "b2", "b3"]):
        os.utime(src / f"{f}.parquet", (now - 100 + i * 10, now - 100 + i * 10))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        windowed_event_stats(stream, window="1 hour", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("win_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode emits one row per (window, type) per batch; keep the last
    rows = {}
    for r in spark.sql("SELECT * FROM win_stats").collect():
        rows[(r["window_start"].hour, r["event_type"])] = (
            r["n_events"], r["min_user"], r["max_user"])
    assert rows[(10, "click")] == (2, 100, 101)
    # 3 and 4 (cross-batch window update)
    assert rows[(11, "view")] == (2, 102, 103)
    # the 8:30 late event never produced an (8, 'click') window
    assert (8, "click") not in rows


def test_windowed_event_stats_complete_mode_out_of_order(spark, tmp_path):
    """q_stream_event_windows' operator: a multi-batch OUT-OF-ORDER replay in complete output mode must equal
    the batch groupBy regardless of micro-batch boundaries."""
    src = tmp_path / "events_landing"
    src.mkdir()

    # batch 1 reaches 11:10; batch 2 goes BACK to 10:20 (out of order);
    # batch 3 is >2h late relative to the stream's max event time
    batches = [
        [(1, 5, 100, "click", 1.5), (2, 70, 101, "click", 2.5)],
        [(3, 20, 102, "view", 0.5), (4, 75, 100, "click", 4.0)],
        [(5, -90, 103, "view", 9.0)],
    ]
    all_rows = [r for b in batches for r in b]
    now = time.time()
    for i, b in enumerate(batches):
        pq.write_table(_events_table(b), src / f"b{i}.parquet")
        os.utime(src / f"b{i}.parquet", (now - 100 + i * 10,) * 2)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        windowed_event_stats(stream, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("ev_stats_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"].hour, r["event_type"]):
            (r["n_events"], r["min_user"], r["max_user"],
             r["min_value"], r["max_value"])
        for r in spark.sql("SELECT * FROM ev_stats_complete").collect()
    }
    # independent expectation from the raw rows (batch semantics)
    expect = {}
    for _eid, off, uid, et, val in all_rows:
        hour = (T0 + datetime.timedelta(minutes=off)).hour
        n, lo, hi, vlo, vhi = expect.get((hour, et), (0, uid, uid, val, val))
        expect[(hour, et)] = (
            n + 1, min(lo, uid), max(hi, uid), min(vlo, val), max(vhi, val)
        )
    assert got == expect
