"""Stateful streaming operator tests: keep-latest-per-key state across
micro-batches and native session windows vs the batch oracle."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pim_etl_spark.streaming.queries import run_available_now, run_stream_to_memory, stream_events
from pim_etl_spark.streaming.stateful import latest_per_key_stream, sessionized_events_stream

STOCK_SCHEMA = StructType(
    [
        StructField("sku", StringType(), True),
        StructField("qty", LongType(), True),
        StructField("modified_at", TimestampType(), True),
    ]
)


def _t(day, hour=0):
    return dt.datetime(2025, 3, day, hour)


def test_latest_per_key_state_across_batches(spark, tmp_path):
    feed = tmp_path / "stock"
    feed.mkdir()
    b1 = spark.createDataFrame(
        [("A", 100, _t(1)), ("A", 120, _t(2)), ("B", 50, _t(1))], STOCK_SCHEMA
    )
    b1.coalesce(1).write.mode("append").parquet(str(feed))
    b2 = spark.createDataFrame(
        [("A", 90, _t(1, 12)), ("B", 70, _t(3)), ("C", 5, _t(1))], STOCK_SCHEMA
    )
    b2.coalesce(1).write.mode("append").parquet(str(feed))

    # one file per trigger, so the second file's fold starts from the
    # state the first batch left behind
    stream = spark.readStream.schema(STOCK_SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(feed))
    q = run_available_now(
        latest_per_key_stream(stream), "memory", mode="update",
        state_partitions=16, query_name="latest_per_key_across_batches",
    )
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2
    # update-mode memory sink keeps every emission; last row per key wins
    out = spark.table("latest_per_key_across_batches")
    rows = sorted(out.collect(), key=lambda r: (r.sku, r.modified_at))
    latest = {}
    for r in rows:
        latest[r.sku] = (r.qty, r.modified_at)
    # A: the 090@day1-12h row is OLDER than 120@day2 → must NOT override
    assert latest["A"] == (120, _t(2))
    assert latest["B"] == (70, _t(3))
    assert latest["C"] == (5, _t(1))


def test_session_window_stream_matches_batch_sessions(spark, sf_dir):
    """Every (complete) streamed session must agree with the batch
    gaps-and-islands computation."""
    from pim_etl_spark.catalog import get_queries

    streamed = run_stream_to_memory(
        spark,
        sessionized_events_stream(stream_events(spark, sf_dir), watermark="0 seconds"),
        mode="append",
    ).collect()
    assert streamed, "no sessions emitted"
    batch = get_queries()["sessionize_events"](spark, sf_dir).collect()
    batch_by_user = {}
    for r in batch:
        batch_by_user.setdefault(r.user_id, []).append((r.n_events, r.session_value))
    # streamed sessions (except any cut by the final watermark) appear
    # in the batch result with identical counts and value sums
    matched = 0
    for r in streamed:
        if (r.n_events, r.session_value) in batch_by_user.get(r.user_id, []):
            matched += 1
    assert matched >= len(streamed) * 0.95


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late data beyond the watermark is dropped (SURVEY §2.8): with a
    checkpoint carrying the watermark across runs, a row far older
    than the persisted watermark never reaches its window, so when the
    windows finally close only on-time rows are counted."""
    feed = tmp_path / "ev"
    feed.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts timestamp, value double"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(feed))
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        run_available_now(agg, "parquet", checkpoint=ckpt, path=sink)

    # run 1: two on-time rows on June 10 → watermark persists ~12:00
    spark.createDataFrame(
        [(1, dt.datetime(2025, 6, 10, 12, 0), 1.0), (2, dt.datetime(2025, 6, 10, 13, 0), 2.0)],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(feed))
    run_once()

    # run 2: one row from June 1 — 9 days behind the watermark → dropped
    spark.createDataFrame([(3, dt.datetime(2025, 6, 1, 0, 0), 9.9)], schema).coalesce(
        1
    ).write.mode("append").parquet(str(feed))
    run_once()

    # run 3: a June 11 row advances the watermark past the June 10
    # windows, forcing them to close and emit
    spark.createDataFrame([(4, dt.datetime(2025, 6, 11, 0, 0), 1.0)], schema).coalesce(
        1
    ).write.mode("append").parquet(str(feed))
    run_once()

    out = spark.read.parquet(sink).collect()
    windows = {str(r.ws): r.n for r in out}
    assert any("2025-06-10 12:00" in w for w in windows), windows
    assert any("2025-06-10 13:00" in w for w in windows), windows
    # the late June 1 row must NOT have produced a window
    assert not any("2025-06-01" in w for w in windows), windows


def test_latest_per_key_ttl_retires_stale_skus(spark, tmp_path):
    """A SKU that stops updating for longer than the TTL (event time)
    emits a tombstone and its state is removed; live SKUs keep
    updating. Checkpointed so watermark + state survive across runs."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

    from pim_etl_spark.streaming.stateful import latest_per_key_with_ttl_stream

    schema = StructType(
        [
            StructField("sku", StringType(), True),
            StructField("qty", LongType(), True),
            StructField("modified_at", TimestampType(), True),
        ]
    )
    feed = tmp_path / "stock"
    feed.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(feed))
        out = latest_per_key_with_ttl_stream(stream, ttl="2 days")
        run_available_now(out, "parquet", checkpoint=ckpt, path=sink)

    # run 1: A and B both update on day 1 → watermark ~day 1
    spark.createDataFrame(
        [("A", 10, dt.datetime(2025, 7, 1)), ("B", 20, dt.datetime(2025, 7, 1))], schema
    ).coalesce(1).write.mode("append").parquet(str(feed))
    run_once()

    # run 2: only A updates on day 10 → watermark jumps past B's TTL
    spark.createDataFrame([("A", 11, dt.datetime(2025, 7, 10))], schema).coalesce(
        1
    ).write.mode("append").parquet(str(feed))
    run_once()
    # run 3: another A update lets the timed-out B state fire
    spark.createDataFrame([("A", 12, dt.datetime(2025, 7, 11))], schema).coalesce(
        1
    ).write.mode("append").parquet(str(feed))
    run_once()

    rows = spark.read.parquet(sink).collect()
    by_sku = {}
    for r in rows:
        by_sku.setdefault(r.sku, set()).add((r.qty, r.retired))
    # B stopped updating → it must have emitted a retirement tombstone
    assert (20, "retired") in by_sku["B"]
    # A kept updating → never retired, latest live qty is 12
    assert not any(flag == "retired" for _, flag in by_sku["A"])
    assert (12, "live") in by_sku["A"]
