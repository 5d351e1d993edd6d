"""W6 streaming windows: watermarked tumbling windows, session windows,
and the applyInPandasWithState custom stateful operator — run through a
real file-source stream (Kafka emulation, no broker) with availableNow
drain, plus batch/stream equivalence."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ingestion_pipeline_spark.streaming import (
    session_window_rollup,
    stateful_user_totals,
    windowed_event_counts,
)

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"

ROWS = [
    # user 1: two sessions (gap > 30 min between 10:10 and 11:00)
    (1, "2024-03-01T10:00:00", 1, "click", 1.0),
    (2, "2024-03-01T10:10:00", 1, "click", 2.0),
    (3, "2024-03-01T11:00:00", 1, "purchase", 3.0),
    # user 2: one session spanning two hourly windows
    (4, "2024-03-01T10:55:00", 2, "view", 4.0),
    (5, "2024-03-01T11:05:00", 2, "view", 5.0),
]


@pytest.fixture()
def event_stream(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    for r in ROWS:
        rec = dict(zip(["event_id", "ts", "user_id", "event_type", "value"], r))
        (src / f"e{r[0]}.json").write_text(json.dumps(rec))
    return spark.readStream.schema(EVENT_SCHEMA).json(str(src))


def _drain(df, name, output_mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_counts_streaming(spark, event_stream):
    _drain(
        windowed_event_counts(event_stream, window_len="1 hour"),
        "win_counts", "complete",
    )
    got = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got[(10, "click")] == (2, 3.0)
    assert got[(10, "view")] == (1, 4.0)
    assert got[(11, "view")] == (1, 5.0)
    assert got[(11, "purchase")] == (1, 3.0)


def test_session_windows_streaming_matches_batch(spark, event_stream):
    _drain(session_window_rollup(event_stream), "sess_rollup", "complete")
    streamed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM sess_rollup").collect()
    }
    batch_df = spark.createDataFrame(
        [(i, ts, u, et, v) for (i, ts, u, et, v) in
         [(r[0], __import__("datetime").datetime.fromisoformat(r[1]), r[2], r[3], r[4]) for r in ROWS]],
        EVENT_SCHEMA,
    )
    batched = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["total_value"])
        for r in session_window_rollup(batch_df).collect()
    }
    assert streamed == batched
    assert len({s for s in streamed if s[0] == 1}) == 2  # user 1 split into 2 sessions


def test_stateful_user_totals_accumulates_across_batches(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    for r in ROWS:
        rec = dict(zip(["event_id", "ts", "user_id", "event_type", "value"], r))
        (src / f"e{r[0]}.json").write_text(json.dumps(rec))
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)  # force multiple micro-batches
        .json(str(src))
    )
    _drain(stateful_user_totals(stream), "user_totals", "update")
    # last update per user reflects state carried across micro-batches
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER "
            "(PARTITION BY user_id ORDER BY n_events DESC) rn FROM user_totals) WHERE rn = 1"
        ).collect()
    }
    assert final[1] == (3, 6.0)
    assert final[2] == (2, 9.0)


def test_late_rows_beyond_watermark_are_dropped(spark, tmp_path):
    """W6 late-data semantics: once the watermark passes a window's end,
    rows for that window are dropped, and append mode emits the
    finalized window WITHOUT them."""
    src = tmp_path / "late_ev"
    src.mkdir()

    def write(name, event_id, ts, value):
        rec = {"event_id": event_id, "ts": ts, "user_id": 1,
               "event_type": "click", "value": value}
        (src / name).write_text(json.dumps(rec))

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 10)
        .json(str(src))
    )
    counts = windowed_event_counts(stream, window_len="1 hour", watermark="10 minutes")
    q = (
        counts.writeStream.format("memory")
        .queryName("late_counts")
        .outputMode("append")
        .start()
    )
    try:
        # batch 1: one row in the 10:00 window + a 12:00 row that drags
        # the watermark to 11:50
        write("b1a.json", 1, "2024-03-01T10:05:00", 1.0)
        write("b1b.json", 2, "2024-03-01T12:00:00", 1.0)
        q.processAllAvailable()
        # batch 2: a LATE row for the already-closed 10:00 window
        # (end 11:00 < watermark 11:50) + a fresh row to trigger work
        write("b2a.json", 3, "2024-03-01T10:10:00", 100.0)
        write("b2b.json", 4, "2024-03-01T12:05:00", 1.0)
        q.processAllAvailable()
    finally:
        q.stop()

    emitted = {
        r["window_start"].hour: (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM late_counts").collect()
    }
    # the 10:00 window finalized with ONLY the on-time row
    assert emitted[10] == (1, 1.0)


def test_watermark_sized_from_lateness_profile(spark, sf_dir, tmp_path):
    """Close the watermark loop (the w_watermark_lateness_profile
    query's whole point): the lateness profile measured in BATCH sizes
    the ``withWatermark`` delay of a REAL streaming aggregation, and
    the drops the stream reports must equal the batch prediction.

    The driver fixture's events arrive perfectly ordered (the profile
    measures zero lateness — verified here), so the loop is exercised
    twice: (a) fixture arrival order, profile-p95 delay → predicted
    and observed drops are both ZERO; (b) a deterministic out-of-order
    arrival permutation — bounded ingest disorder (scrambled within
    1-day buckets) plus a ~3% straggler cohort arriving 3 days late,
    the two-regime shape real ingest lateness has — where the SAME
    lateness metric the profile defines (running max over prior
    arrivals minus own event time) yields a nonzero p95, the stream is
    watermarked at exactly that p95, and ``numRowsDroppedByWatermark``
    summed over the micro-batches equals the batch-side watermark
    simulation row for row (the stragglers are the drops).  Sizing at
    max lateness instead drops nothing."""
    import hashlib
    import math

    from ingestion_pipeline_spark.plans import query_map
    from ingestion_pipeline_spark.sources.parquet_tables import table

    # --- the registered profile on fixture arrival order -------------
    prof = query_map()["w_watermark_lateness_profile"](spark, sf_dir).collect()
    assert prof, "profile must produce per-type rows"
    fixture_p95_us = max(r["p95_late_us"] for r in prof)

    rows = (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("us"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_str"),
        )
        .orderBy("event_id")
        .collect()
    )

    def lateness(seq):
        """The profile's metric, global key: arrival position vs the
        running max event time of everything that arrived before."""
        run_max, out = None, []
        for r in seq:
            out.append(max(0, run_max - r["us"]) if run_max is not None else 0)
            run_max = r["us"] if run_max is None else max(run_max, r["us"])
        return out

    assert max(lateness(rows)) == 0, "fixture is in-order by event_id"
    assert fixture_p95_us == 0

    # --- deterministic bounded-disorder arrival permutation ----------
    day_us = 24 * 3_600 * 1_000_000

    def arr_key(r):
        h = hashlib.md5(f"arr1:{r['event_id']}".encode()).hexdigest()
        bucket = r["us"] // day_us  # scramble within 1-day buckets
        if int(h[:2], 16) < 8:  # ~3% stragglers arrive 3 days late
            bucket += 3
        return (bucket, h)

    shuffled = sorted(rows, key=arr_key)
    lates = sorted(lateness(shuffled))
    p95_us = lates[int(math.ceil(0.95 * len(lates))) - 1]
    max_us = lates[-1]
    assert 0 < p95_us <= day_us < max_us

    n_batches = 15
    size = math.ceil(len(shuffled) / n_batches)
    chunks = [shuffled[i : i + size] for i in range(0, len(shuffled), size)]

    def predict_drops(delay_s):
        """Spark's rule: the watermark (global max event time seen in
        COMPLETED batches minus the delay, in ms) closes every window
        whose end <= watermark; rows for closed windows are dropped."""
        wm_ms, dropped = None, 0
        for chunk in chunks:
            for r in chunk:
                end_ms = (r["us"] // 1000 // 3_600_000 + 1) * 3_600_000
                if wm_ms is not None and end_ms <= wm_ms:
                    dropped += 1
            batch_max_ms = max(r["us"] // 1000 for r in chunk)
            wm_ms = max(wm_ms or 0, batch_max_ms - delay_s * 1000)
        return dropped

    def run_stream(delay_s, tag):
        src = tmp_path / f"wm_{tag}"
        src.mkdir()
        stream = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
        win = windowed_event_counts(
            stream, window_len="1 hour", watermark=f"{delay_s} seconds"
        )
        q = (
            win.writeStream.format("memory")
            .queryName(f"wmloop_{tag}")
            .outputMode("update")
            .start()
        )
        try:
            for b, chunk in enumerate(chunks):
                (src / f"batch{b:03d}.json").write_text(
                    "\n".join(
                        json.dumps(
                            {
                                "event_id": r["event_id"],
                                "ts": r["ts_str"],
                                "user_id": r["user_id"],
                                "event_type": r["event_type"],
                                "value": r["value"],
                            }
                        )
                        for r in chunk
                    )
                )
                q.processAllAvailable()
            return sum(
                op["numRowsDroppedByWatermark"]
                for p in q.recentProgress
                for op in p["stateOperators"]
            )
        finally:
            q.stop()

    delay_p95_s = max(1, math.ceil(p95_us / 1_000_000))
    delay_max_s = math.ceil(max_us / 1_000_000) + 1

    predicted = predict_drops(delay_p95_s)
    assert predicted > 0, "p95-sized watermark must drop part of the tail"
    assert run_stream(delay_p95_s, "p95") == predicted
    assert predict_drops(delay_max_s) == 0
    assert run_stream(delay_max_s, "max") == 0
    # fixture order with the profile-sized (zero-lateness) watermark:
    # nothing can drop — the in-order case of the same loop
    chunks = [rows[i : i + size] for i in range(0, len(rows), size)]
    assert predict_drops(max(1, math.ceil(fixture_p95_us / 1e6))) == 0
