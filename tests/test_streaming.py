"""Structured Streaming surface tests (SURVEY §2.8)."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pim_etl_spark.streaming.queries import (
    hourly_windowed_counts,
    incremental_upsert_stream,
    run_available_now,
    run_stream_to_memory,
    stream_events,
)

ROW_SCHEMA = StructType(
    [
        StructField("product_id", StringType(), True),
        StructField("status", StringType(), True),
        StructField("version", LongType(), True),
    ]
)


def test_stream_matches_batch(spark, sf_dir):
    """Stream/batch consistency: the windowed streaming agg equals the
    equivalent batch aggregation."""
    from pim_etl_spark.sources import load_table

    streamed = run_stream_to_memory(spark, hourly_windowed_counts(stream_events(spark, sf_dir)))
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    s = {(str(r.window_start), r.event_type): (r.n_events, r.total_value) for r in streamed.collect()}
    b = {(str(r.window_start), r.event_type): (r.n_events, r.total_value) for r in batch.collect()}
    assert s == b


def test_stream_batch_source_parity(spark, sf_dir):
    """stream_events and load_table must agree on the events time range.

    Guards the round-2 bug class at its root: the testdata generator
    changed the physical ts encoding (INT64 nanos → parquet
    timestamp[us]) and the stream source's hardcoded nanos assumption
    silently compressed event-time 1000× (windows landed in 1970).
    Any future encoding drift now fails here, not in the driver.
    """
    from pim_etl_spark.sources import load_table

    b = (
        load_table(spark, sf_dir, "events")
        .selectExpr("min(ts) AS lo", "max(ts) AS hi")
        .collect()[0]
    )
    streamed = run_stream_to_memory(
        spark,
        stream_events(spark, sf_dir)
        .select(F.col("ts").cast("timestamp_ntz").alias("ts"))
        .selectExpr("min(ts) AS lo", "max(ts) AS hi"),
        mode="complete",
    )
    s = streamed.collect()[0]
    assert (s.lo, s.hi) == (b.lo, b.hi)
    assert 2000 <= s.lo.year <= 2100, f"stream event-times implausible: {s.lo}"


def test_nanos_encoding_normalizes_identically(spark, tmp_path):
    """Both physical ts encodings must normalize to the same instant:
    a TIMESTAMP(NANOS) parquet file (the older testdata generation,
    read back as bigint under nanosAsLong) and a timestamp[us] file
    must produce identical batch AND stream values through
    normalize_event_ts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pim_etl_spark.sources import load_table
    from pim_etl_spark.streaming.queries import stream_events

    base_us = 1_700_000_000 * 1_000_000  # 2023-11-14 22:13:20 UTC
    rows_us = [base_us, base_us + 61_000_000, base_us + 3_700_000_123]
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 10, 11], pa.int64()),
        "event_type": pa.array(["click", "view", "click"]),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array([None, None, None], pa.string()),
    }
    for name, ts_arr in (
        ("nanos", pa.array([u * 1000 for u in rows_us], pa.timestamp("ns"))),
        ("micros", pa.array(rows_us, pa.timestamp("us"))),
    ):
        d = tmp_path / name
        d.mkdir()
        tbl = pa.table({"event_id": cols["event_id"], "ts": ts_arr, **{k: v for k, v in cols.items() if k != "event_id"}})
        pq.write_table(tbl, str(d / "events.parquet"))

    got = {}
    for name in ("nanos", "micros"):
        sf_dir = str(tmp_path / name)
        batch = load_table(spark, sf_dir, "events")
        assert dict(batch.dtypes)["ts"] == "timestamp_ntz"
        got[name, "batch"] = sorted(str(r.ts) for r in batch.select("ts").collect())
        streamed = run_stream_to_memory(
            spark,
            stream_events(spark, sf_dir).select(F.col("ts").cast("timestamp_ntz").alias("ts")),
            mode="append",
        )
        got[name, "stream"] = sorted(str(r.ts) for r in streamed.collect())
    assert got["nanos", "batch"] == got["micros", "batch"]
    assert got["nanos", "stream"] == got["micros", "stream"]
    assert got["micros", "batch"] == got["micros", "stream"]
    assert got["micros", "batch"][0].startswith("2023-11-14")


def test_incremental_upsert_stream(spark, tmp_path):
    """Micro-batch incremental sync: second feed drop overrides rows on
    the key (ReplaceOne semantics through foreachBatch)."""
    feed = tmp_path / "feed"
    gold = str(tmp_path / "gold.parquet")
    feed.mkdir()

    batch1 = spark.createDataFrame(
        [("p1", "active", 1), ("p2", "active", 1)], ROW_SCHEMA
    )
    batch1.coalesce(1).write.mode("append").parquet(str(feed))
    incremental_upsert_stream(spark, str(feed), gold, keys=["product_id"], order_col="version", schema=ROW_SCHEMA)
    got = {r.product_id: r.status for r in spark.read.parquet(gold).collect()}
    assert got == {"p1": "active", "p2": "active"}

    batch2 = spark.createDataFrame(
        [("p2", "discontinued", 2), ("p3", "active", 1)], ROW_SCHEMA
    )
    batch2.coalesce(1).write.mode("append").parquet(str(feed))
    incremental_upsert_stream(spark, str(feed), gold, keys=["product_id"], order_col="version", schema=ROW_SCHEMA)
    got = {r.product_id: (r.status, r.version) for r in spark.read.parquet(gold).collect()}
    assert got == {
        "p1": ("active", 1),
        "p2": ("discontinued", 2),
        "p3": ("active", 1),
    }


def test_stream_dedup_drops_planted_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark must collapse re-delivered events:
    a feed dir holding the same event rows twice (at-least-once
    delivery) streams through dedup to one row per event_id."""
    from pyspark.sql.types import DoubleType

    from pim_etl_spark.streaming.queries import dedup_events_stream

    schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("ts", LongType(), True),  # nanos, like events.parquet
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("props", StringType(), True),
        ]
    )
    base_ns = 1_700_000_000 * 1_000_000_000
    rows = [
        (1, base_ns, 10, "click", 1.0, None),
        (2, base_ns + 60 * 1_000_000_000, 10, "view", 2.0, None),
        (3, base_ns + 120 * 1_000_000_000, 11, "click", 3.0, None),
    ]
    feed = tmp_path / "events_feed"
    feed.mkdir()
    df = spark.createDataFrame(rows, schema)
    # the same batch lands twice → 6 rows on disk, 3 unique event_ids
    df.coalesce(1).write.mode("append").parquet(str(feed / "events.parquet"))
    df.coalesce(1).write.mode("append").parquet(str(feed / "events.parquet"))

    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(feed / "events.parquet"))
    )
    events = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    deduped = dedup_events_stream(events, watermark="1 hour")
    out = run_stream_to_memory(spark, deduped, mode="append")
    got = sorted((r.event_id, r.value) for r in out.collect())
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)]


def test_rocksdb_state_store_matches_batch(spark, sf_dir):
    """The RocksDB state store (the 100 TB streaming-state backend,
    SCALE.md knobs table) must produce byte-identical windowed results
    to the default HDFS-backed store."""
    from pim_etl_spark.sources import load_table

    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        events = stream_events(spark, sf_dir)
        streamed = run_stream_to_memory(spark, hourly_windowed_counts(events))
        s = {
            (str(r.window_start), r.event_type): (r.n_events, r.total_value)
            for r in streamed.collect()
        }
    finally:
        if prior:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prior)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("window_start"), "event_type", "n_events", "total_value")
    )
    b = {(str(r.window_start), r.event_type): (r.n_events, r.total_value) for r in batch.collect()}
    assert s == b


def test_neardup_gated_ingest_rejects_batch2_dup(spark, tmp_path):
    """Streaming near-dup admission gate (round-4 VERDICT #6): a near
    copy of a batch-1 document arriving in batch 2 must be rejected
    against the batch-1 corpus via the persisted signature index; a
    genuinely novel batch-2 document must be admitted."""
    from pim_etl_spark.streaming.queries import neardup_gated_ingest

    doc_schema = StructType(
        [StructField("doc_id", LongType(), True), StructField("text", StringType(), True)]
    )
    feed = tmp_path / "docs_feed"
    feed.mkdir()
    store = str(tmp_path / "store")
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "engineers review streaming dedup gates in the data lake"
    )

    batch1 = spark.createDataFrame(
        [(i, base + f" corpus tail {i} {i}") for i in range(10)], doc_schema
    )
    batch1.coalesce(1).write.mode("append").parquet(str(feed))
    neardup_gated_ingest(spark, str(feed), store, doc_schema)
    assert spark.read.parquet(f"{store}/corpus.parquet").count() == 10

    dup = (100, base + " corpus tail 3 3 mutated")
    novel = (
        101,
        "completely different content about pottery glazes and kiln "
        "temperature curves nothing shared with the corpus at all",
    )
    spark.createDataFrame([dup, novel], doc_schema).coalesce(1).write.mode("append").parquet(
        str(feed)
    )
    neardup_gated_ingest(spark, str(feed), store, doc_schema)

    admitted = {r.doc_id for r in spark.read.parquet(f"{store}/corpus.parquet").collect()}
    assert admitted == set(range(10)) | {101}, admitted
    rej = spark.read.parquet(f"{store}/rejected.parquet").collect()
    assert len(rej) == 1
    assert rej[0].doc_id == 100 and rej[0].best_match_id == 3 and rej[0].is_neardup
    # the checkpoint carries micro-batch ids ACROSS trigger runs:
    # batch 0 was the first run's admit-all, so the dup lands in 1
    assert rej[0].rejected_in_batch == 1
    # the signature index holds exactly the admitted docs — the
    # rejected doc's signatures must never pollute the store
    idx_ids = {
        r.corpus_id
        for r in spark.read.parquet(f"{store}/band_index.parquet")
        .select("corpus_id")
        .distinct()
        .collect()
    }
    assert idx_ids == admitted


def test_versioned_upsert_stream_exactly_once(spark, tmp_path):
    """Streaming MERGE into the commit-log store: each micro-batch is
    one snapshot; a restart with a FRESH checkpoint re-delivers every
    file as batch 0, and the txn watermark in the manifest makes that
    replay a no-op — the table state is exactly-once."""
    from pim_etl_spark.pipeline import versioned as V
    from pim_etl_spark.streaming.queries import versioned_upsert_stream

    feed = tmp_path / "feed"
    feed.mkdir()
    tbl = str(tmp_path / "vtable")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [("p1", "active", 1), ("p2", "active", 1)], ROW_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(feed))
    versioned_upsert_stream(
        spark, str(feed), tbl, keys=["product_id"], order_col="version",
        schema=ROW_SCHEMA, checkpoint_dir=ckpt,
    )
    assert V.current_version(tbl) == 1
    assert V.last_txn_version(tbl, "versioned-upsert-stream") == 0

    # second drop: same checkpoint → only the new file, batch_id 1
    spark.createDataFrame(
        [("p2", "discontinued", 2), ("p3", "active", 1)], ROW_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(feed))
    versioned_upsert_stream(
        spark, str(feed), tbl, keys=["product_id"], order_col="version",
        schema=ROW_SCHEMA, checkpoint_dir=ckpt,
    )
    assert V.current_version(tbl) == 2
    got = {r.product_id: (r.status, r.version) for r in V.read_version(spark, tbl).collect()}
    assert got == {"p1": ("active", 1), "p2": ("discontinued", 2), "p3": ("active", 1)}

    # checkpoint loss: everything re-delivered as batch 0 → replay
    # detected against the manifest txn watermark → NOTHING commits
    versioned_upsert_stream(
        spark, str(feed), tbl, keys=["product_id"], order_col="version",
        schema=ROW_SCHEMA, checkpoint_dir=str(tmp_path / "ckpt-fresh"),
    )
    assert V.current_version(tbl) == 2  # no new snapshot
    got2 = {r.product_id: (r.status, r.version) for r in V.read_version(spark, tbl).collect()}
    assert got2 == got


def test_versioned_stream_sink_audits_batches(spark, tmp_path):
    """Streaming WAP: a dirty row in a micro-batch is quarantined
    before the transactional commit; clean rows still land
    exactly-once."""
    from pim_etl_spark.pipeline import versioned as V
    from pim_etl_spark.pipeline.expectations import Expect
    from pim_etl_spark.streaming.queries import versioned_upsert_stream

    feed = tmp_path / "feed"
    feed.mkdir()
    tbl = str(tmp_path / "vtable")
    spark.createDataFrame(
        [("p1", "active", 1), ("p2", None, 1)], ROW_SCHEMA  # p2 violates
    ).coalesce(1).write.mode("append").parquet(str(feed))
    versioned_upsert_stream(
        spark, str(feed), tbl, keys=["product_id"], order_col="version",
        schema=ROW_SCHEMA, checkpoint_dir=str(tmp_path / "ckpt"),
        expectations=[Expect("status_present", "row", condition="status IS NOT NULL")],
    )
    got = {r.product_id for r in V.read_version(spark, tbl).collect()}
    assert got == {"p1"}  # dirty row quarantined, clean row published


def test_stream_static_dimension_refresh_between_batches(spark, tmp_path):
    """The stream-static join's documented refresh property: the
    static side is re-resolved per micro-batch, so swapping the
    dimension files between trigger runs changes subsequent
    enrichment without restarting anything."""
    from pim_etl_spark.pipeline.gold import atomic_overwrite

    feed = tmp_path / "feed"
    feed.mkdir()
    dim_path = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    dim_schema = "user_id long, tier string"
    atomic_overwrite(spark.createDataFrame([(1, "bronze"), (2, "bronze")], dim_schema), dim_path)

    def run_once():
        events = spark.readStream.schema("event_id long, user_id long").parquet(str(feed))
        dim = spark.read.parquet(dim_path)
        enriched = events.join(F.broadcast(dim), "user_id")
        run_available_now(enriched, "parquet", checkpoint=ckpt, path=sink)

    spark.createDataFrame([(10, 1)], "event_id long, user_id long").coalesce(1).write.mode(
        "append"
    ).parquet(str(feed))
    run_once()

    # dimension refresh: user 1 promoted, then a new event arrives
    atomic_overwrite(spark.createDataFrame([(1, "gold"), (2, "bronze")], dim_schema), dim_path)
    spark.createDataFrame([(11, 1)], "event_id long, user_id long").coalesce(1).write.mode(
        "append"
    ).parquet(str(feed))
    run_once()

    got = {(r.event_id, r.tier) for r in spark.read.parquet(sink).collect()}
    assert got == {(10, "bronze"), (11, "gold")}


def test_scd2_upsert_stream_builds_history_across_runs(spark, tmp_path):
    """Streaming SCD2: two feed files drain one-per-micro-batch (plus
    a second availableNow run picking up a late file), and the
    resulting history equals the from-scratch interval build — the
    streaming form of scd2_incremental_maintenance."""
    import datetime as dt

    from pim_etl_spark.pipeline import versioned as V
    from pim_etl_spark.streaming.queries import scd2_upsert_stream

    SCHEMA_DDL = "k long, attr string, ts timestamp, seq long"
    feed = tmp_path / "feed"
    feed.mkdir()
    hist = str(tmp_path / "hist")
    d = lambda day: dt.datetime(2024, 2, day)
    spark.createDataFrame(
        [(1, "A", d(1), 1), (2, "X", d(1), 2)], SCHEMA_DDL
    ).coalesce(1).write.mode("append").parquet(str(feed))
    spark.createDataFrame(
        [(1, "A", d(3), 3), (2, "Y", d(4), 4)], SCHEMA_DDL
    ).coalesce(1).write.mode("append").parquet(str(feed))
    schema = spark.createDataFrame([], SCHEMA_DDL).schema

    scd2_upsert_stream(
        spark, str(feed), hist,
        key="k", attr="attr", ts_col="ts", seq_col="seq", schema=schema,
    )
    # late third file, second run resumes from the checkpoint
    spark.createDataFrame([(1, "B", d(9), 5)], SCHEMA_DDL).coalesce(
        1
    ).write.mode("append").parquet(str(feed))
    scd2_upsert_stream(
        spark, str(feed), hist,
        key="k", attr="attr", ts_col="ts", seq_col="seq", schema=schema,
    )
    rows = sorted(
        (r.k, r.attr, r.valid_from, r.valid_to, r.is_current)
        for r in V.read_version(spark, hist).collect()
    )
    assert rows == [
        (1, "A", d(1), d(9), False),
        (1, "B", d(9), None, True),
        (2, "X", d(1), d(4), False),
        (2, "Y", d(4), None, True),
    ]


def test_cep_stream_state_spans_micro_batches(spark, tmp_path):
    """The streaming CEP state machine must carry pattern state ACROSS
    micro-batches: a view→click prefix in batch 1 converts a purchase
    arriving in batch 2, an error in batch 2 resets before a later
    purchase, and totals stay exactly-once when the replay is forced
    into one-file-per-trigger micro-batches."""
    from datetime import datetime, timedelta

    from pyspark.sql.types import TimestampType

    from pim_etl_spark.streaming.queries import run_stream_to_memory
    from pim_etl_spark.streaming.stateful import cep_pattern_stream

    schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("ts", TimestampType(), True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
        ]
    )
    t0 = datetime(2026, 1, 1)
    feed = tmp_path / "cep_feed"
    feed.mkdir()
    # batch 1: user 1 completes view->click; user 2 buys unconverted
    b1 = [
        (1, t0, 1, "view"),
        (2, t0 + timedelta(minutes=1), 1, "click"),
        (3, t0 + timedelta(minutes=2), 2, "purchase"),
    ]
    # batch 2 (later event times): user 1's purchase converts via the
    # batch-1 chain; then an error resets before a second purchase
    b2 = [
        (4, t0 + timedelta(minutes=10), 1, "purchase"),
        (5, t0 + timedelta(minutes=11), 1, "error"),
        (6, t0 + timedelta(minutes=12), 1, "purchase"),
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(str(feed))
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(str(feed))

    events = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(feed))
    )
    result = run_stream_to_memory(
        spark, cep_pattern_stream(events), mode="update", state_partitions=4
    )
    folded = {
        r.user_id: (r.n_purchases, r.n_converted)
        for r in result.groupBy("user_id")
        .agg(
            F.max("n_purchases").alias("n_purchases"),
            F.max("n_converted").alias("n_converted"),
        )
        .collect()
    }
    assert folded == {1: (2, 1), 2: (1, 0)}, folded


def test_runner_raises_from_foreach_batch(spark, tmp_path):
    """A foreachBatch function that raises fails the run_available_now
    call itself, and nothing is committed."""
    from pim_etl_spark.pipeline import versioned as V
    from pim_etl_spark.pipeline.expectations import Expect
    from pim_etl_spark.streaming.queries import versioned_upsert_stream

    feed = tmp_path / "feed"
    feed.mkdir()
    tbl = str(tmp_path / "vtable")
    spark.createDataFrame(
        [("p1", "active", 1), ("p2", None, 1)], ROW_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(feed))
    with pytest.raises(StreamingQueryException, match="stream audit failed"):
        versioned_upsert_stream(
            spark, str(feed), tbl, keys=["product_id"], order_col="version",
            schema=ROW_SCHEMA, checkpoint_dir=str(tmp_path / "ckpt"),
            expectations=[Expect("status_present", "row", condition="status IS NOT NULL")],
            on_violation="fail",
        )
    assert V.current_version(tbl) == 0


def test_runner_restores_shuffle_partitions_on_failure(spark, tmp_path):
    """The state_partitions pin is undone even when the run fails at
    execution."""
    feed = str(tmp_path / "feed")
    spark.createDataFrame([(1,)], "x long").coalesce(1).write.parquet(feed)
    boom = (
        spark.readStream.schema("x long").parquet(feed)
        .select(F.when(F.col("x") == 1, F.raise_error(F.lit("boom"))).otherwise(F.col("x")).alias("x"))
        .groupBy("x").count()
    )
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(StreamingQueryException, match="boom"):
        run_stream_to_memory(spark, boom, state_partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior


def test_left_outer_attribution_removes_its_sentinel_dir(spark, sf_dir, tmp_path, monkeypatch):
    """stream_left_outer_attribution's flush-sentinel feed is temporary:
    it is gone once the entry returns, and the result still reads."""
    import tempfile

    from pim_etl_spark.streaming.queries import stream_left_outer_attribution

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    result = stream_left_outer_attribution(spark, sf_dir)
    assert not list(tmp_path.glob("flush_sentinel_*"))
    assert result.count() > 0


def test_available_now_lives_only_in_the_runner():
    """Every bounded stream run goes through run_available_now: the
    trigger and the wait appear nowhere else in the package."""
    import inspect
    import pathlib

    from pim_etl_spark.streaming import queries

    pkg = pathlib.Path(queries.__file__).parents[1]
    lines, first = inspect.getsourcelines(queries.run_available_now)
    runner = range(first, first + len(lines))
    hits = [
        (path.relative_to(pkg).as_posix(), n)
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "availableNow" in line or "awaitTermination" in line
    ]
    outside = [h for h in hits if not (h[0] == "streaming/queries.py" and h[1] in runner)]
    assert not outside, outside
    assert len(hits) == 2, hits
