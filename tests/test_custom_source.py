"""Custom pim_feed DataSource tests: JSONC parsing, multi-file
partitioning, schema enforcement through the Spark read path."""

from __future__ import annotations

import pytest

from pim_etl_spark.pipeline.schemas import MO_PRICELIST
from pim_etl_spark.sources_custom import FeedDataSource, parse_jsonc_document
from pim_etl_spark.streaming.queries import run_available_now

FEED_A = """\
// pricelist feed for supplier A
[
  {"sku": "A-1", "variant_id": "1", "price": "3,63", "valid_until": "2026-01-31", "currency": "GBP",},
  {"sku": "A-2", "variant_id": "2", "price": "9,10", "valid_until": "2026-01-31", "currency": "GBP"},
]
"""

FEED_B = """\
[{"sku": "B-9", "variant_id": "9", "price": "1,00", "valid_until": "2026-06-30", "currency": "GBP"}]
"""


def test_parse_jsonc_document_tolerates_comments_and_commas():
    rows = parse_jsonc_document(FEED_A)
    assert [r["sku"] for r in rows] == ["A-1", "A-2"]


def test_pim_feed_format_reads_multiple_files_as_partitions(spark, tmp_path):
    a = tmp_path / "a.jsonc"
    b = tmp_path / "b.jsonc"
    a.write_text(FEED_A)
    b.write_text(FEED_B)
    spark.dataSource.register(FeedDataSource)
    df = (
        spark.read.format("pim_feed")
        .schema(MO_PRICELIST)
        .option("paths", f"{a},{b}")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # one partition per feed doc
    rows = {r.sku: r.price for r in df.collect()}
    assert rows == {"A-1": "3,63", "A-2": "9,10", "B-9": "1,00"}


def test_pim_feed_requires_path(spark, tmp_path):
    spark.dataSource.register(FeedDataSource)
    with pytest.raises(Exception, match="path"):
        spark.read.format("pim_feed").schema(MO_PRICELIST).load().collect()


def test_pim_feed_http_transport_with_bearer_auth(spark):
    """The http transport must fetch and parse a feed from a real
    (loopback) HTTP server executor-side, sending the bearer token —
    the reference's REST pull (midocean_extractor.py:140-173)."""
    import http.server
    import threading

    seen_auth = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — http.server API
            seen_auth.append(self.headers.get("Authorization"))
            body = FEED_A.encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # silence per-request noise
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        spark.dataSource.register(FeedDataSource)
        df = (
            spark.read.format("pim_feed")
            .schema(MO_PRICELIST)
            .option("path", f"http://127.0.0.1:{port}/mo_pricelist.jsonc")
            .option("token", "test-token-123")
            .load()
        )
        rows = {r.sku: r.price for r in df.collect()}
    finally:
        srv.shutdown()
        srv.server_close()
    assert rows == {"A-1": "3,63", "A-2": "9,10"}
    assert seen_auth == ["Bearer test-token-123"]


def test_pim_feed_rejects_unknown_transport(spark):
    spark.dataSource.register(FeedDataSource)
    with pytest.raises(Exception, match="transport"):
        (
            spark.read.format("pim_feed")
            .schema(MO_PRICELIST)
            .option("path", "x.jsonc")
            .option("transport", "ftp")
            .load()
            .collect()
        )


def test_changefeed_stream_source(spark, tmp_path):
    """Streaming change feed over the commit log: each micro-batch
    emits only the rows of files ADDED since the last offset, tagged
    with commit version/op; carried files are never re-emitted; a
    restart with the same checkpoint resumes from the stored offset."""
    from pim_etl_spark.pipeline import versioned as V
    from pim_etl_spark.sources_custom import register

    register(spark)
    tbl = str(tmp_path / "vtable")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    boot = spark.createDataFrame(
        [(k, float(k), 1) for k in range(8)],
        "product_id long, base_price double, version long",
    ).repartitionByRange(2, "product_id")
    V.commit_snapshot(boot, tbl, op="bootstrap", stats_cols=("product_id",))

    def drain():
        feed = spark.readStream.format("pim_changefeed").option("path", tbl).load()
        run_available_now(feed, "parquet", checkpoint=ckpt, path=sink)
        return {
            (r.product_id, r._commit_version, r._commit_op, r.base_price)
            for r in spark.read.parquet(sink).collect()
        }

    got1 = drain()
    assert {(pid, v) for pid, v, _op, _p in got1} == {(k, 1) for k in range(8)}
    assert all(op == "bootstrap" for _pid, _v, op, _p in got1)

    # v2 merge: update key 0 (rewrites its range-file), insert 100
    V.merge_files(
        spark,
        tbl,
        spark.createDataFrame(
            [(0, 99.0, 2), (100, 1.0, 2)],
            "product_id long, base_price double, version long",
        ),
        keys=["product_id"],
        order_col="version",
    )
    got2 = drain() - got1
    v2 = {(pid, p) for pid, v, _op, p in got2 if v == 2}
    assert (0, 99.0) in v2 and (100, 1.0) in v2
    # the carried file (keys 4..7) was NOT re-emitted
    assert not {pid for pid, _v, _op, _p in got2 if pid >= 4 and pid < 100}


def test_changefeed_rate_limit_drains_over_multiple_triggers(spark, tmp_path):
    """maxCommitsPerTrigger (round 5, VERDICT r4 #6): a stream facing
    a commit backlog must admit at most N commits per micro-batch —
    pending commits drain over multiple triggers/runs with
    exactly-once counts intact, instead of one unbounded batch."""
    from pim_etl_spark import sources_custom
    from pim_etl_spark.pipeline import versioned as V

    sources_custom.register(spark)
    tbl = str(tmp_path / "vstore")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    boot = spark.range(8).selectExpr(
        "id AS product_id", "CAST(id AS DOUBLE) AS base_price", "CAST(1 AS LONG) AS version"
    ).repartitionByRange(2, "product_id")
    V.commit_snapshot(boot, tbl, op="bootstrap", stats_cols=("product_id",))
    for step in (2, 3, 4):
        V.merge_files(
            spark, tbl,
            spark.createDataFrame(
                [(100 + step, float(step), step)],
                "product_id long, base_price double, version long",
            ),
            keys=["product_id"], order_col="version",
        )

    def drain():
        feed = (
            spark.readStream.format("pim_changefeed")
            .option("path", tbl)
            .option("maxCommitsPerTrigger", "2")
            .load()
        )
        run_available_now(feed, "parquet", checkpoint=ckpt, path=sink)
        import glob

        if not glob.glob(f"{sink}/*.parquet"):
            return set()
        return {
            (r.product_id, r._commit_version)
            for r in spark.read.parquet(sink).collect()
        }

    # run 1: the cap stops the drain at 2 admitted commits — v3/v4
    # stay pending even though they are already committed to the store
    got1 = drain()
    assert {v for _pid, v in got1} == {1, 2}
    assert (102, 2) in got1 and len(got1) == 9

    # run 2: the remaining backlog drains, exactly-once (no re-emit of
    # v1/v2 rows, every pending commit arrives exactly once)
    got2 = drain()
    assert {v for _pid, v in got2} == {1, 2, 3, 4}
    assert (103, 3) in got2 and (104, 4) in got2 and len(got2) == 11

    # run 3: caught up — nothing new
    assert drain() == got2


def test_changefeed_emits_mor_delete_rows(spark, tmp_path):
    """A merge-on-read delete commit adds NO data files — its change is
    the deletion-vector sidecar. The stream must emit the covered rows
    (values resolved from the untouched data files by position) tagged
    `_commit_op='delete-mor'`, so downstream consumers can anti-apply
    them; stacked vectors emit only their NEW positions."""
    from pyspark.sql import functions as F

    from pim_etl_spark.pipeline import versioned as V
    from pim_etl_spark.sources_custom import register

    register(spark)
    tbl = str(tmp_path / "vtable")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    boot = spark.createDataFrame(
        [(k, float(k), 1) for k in range(10)],
        "product_id long, base_price double, version long",
    ).repartitionByRange(2, "product_id")
    V.commit_snapshot(boot, tbl, op="bootstrap", stats_cols=("product_id",))
    V.delete_where_mor(spark, tbl, F.col("product_id").isin(2, 7))   # v2
    V.delete_where_mor(spark, tbl, F.col("product_id") < 4)          # v3: 0,1,3 new

    feed = spark.readStream.format("pim_changefeed").option("path", tbl).load()
    run_available_now(feed, "parquet", checkpoint=ckpt, path=sink)
    rows = spark.read.parquet(sink).collect()
    dels = {
        (r.product_id, r._commit_version, r.base_price)
        for r in rows
        if r._commit_op == "delete-mor"
    }
    assert dels == {(2, 2, 2.0), (7, 2, 7.0), (0, 3, 0.0), (1, 3, 1.0), (3, 3, 3.0)}
    # bootstrap rows emitted once, with the right op
    assert sum(1 for r in rows if r._commit_op == "bootstrap") == 10


def test_export_sink_two_phase_commit_and_abort(spark, tmp_path):
    """pim_export: tasks stage, commit publishes atomically — the
    manifest lists exactly the published part files, the staging dir
    is gone after commit, stray files are invisible to read_export,
    and abort() removes both staged and any renamed parts."""
    import json
    import os

    from pim_etl_spark.sources_custom import (
        ExportCommit,
        ExportWriter,
        read_export,
        register,
    )

    register(spark)
    out = str(tmp_path / "export")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)], "k long, s string, v double"
    )
    df.repartition(3).write.format("pim_export").mode("append").option("path", out).save()

    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["n_rows"] == 3
    on_disk = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    assert set(manifest["files"]) == on_disk
    assert not os.path.exists(os.path.join(out, "_staged"))

    # a stray unpublished file must be invisible through the manifest
    stray = os.path.join(out, "part-stray.jsonl")
    open(stray, "w").write('{"k": 99, "s": "x", "v": 0.0}\n')
    files, n_rows = read_export(spark, out)
    assert stray not in files and n_rows == 3
    back = spark.read.schema("k long, s string, v double").json(files)
    assert sorted(r.k for r in back.collect()) == [1, 2, 3]

    # abort removes staged and already-renamed parts
    aborted = str(tmp_path / "aborted")
    os.makedirs(os.path.join(aborted, "_staged"))
    open(os.path.join(aborted, "_staged", "part-x.jsonl"), "w").write("{}\n")
    open(os.path.join(aborted, "part-y.jsonl"), "w").write("{}\n")
    w = ExportWriter({"path": aborted}, df.schema, overwrite=False)
    w.abort([None, ExportCommit("part-y.jsonl", 1), ExportCommit("part-gone.jsonl", 1)])
    assert not os.path.exists(os.path.join(aborted, "_staged"))
    assert not os.path.exists(os.path.join(aborted, "part-y.jsonl"))


def test_stream_export_replay_replaces_batch_manifest(spark, tmp_path):
    """Crash-replay contract: re-committing the SAME batchId replaces
    that batch's manifest and removes the superseded parts — reader
    totals stay exactly-once; a distinct batchId appends."""
    import os

    from pyspark.sql.types import StructType

    from pim_etl_spark.sources_custom import StreamExportWriter, read_stream_export

    out = str(tmp_path / "sink")
    os.makedirs(out)
    schema = StructType.fromDDL("k bigint, v string")
    w = StreamExportWriter({"path": out}, schema)

    m = w.write(iter([(1, "a"), (2, "b")]))
    w.commit([m], batchId=0)
    files0, total0 = read_stream_export(None, out)
    assert total0 == 2 and len(files0) == 1

    # replay of batch 0 (crash between sink-commit and checkpoint):
    # same rows arrive again in new part files
    m_replay = w.write(iter([(1, "a"), (2, "b")]))
    w.commit([m_replay], batchId=0)
    files1, total1 = read_stream_export(None, out)
    assert total1 == 2 and len(files1) == 1
    assert files1 != files0
    assert not os.path.exists(files0[0]), "superseded part must be removed"

    # a NEW batch appends
    m2 = w.write(iter([(3, "c")]))
    w.commit([m2], batchId=1)
    _, total2 = read_stream_export(None, out)
    assert total2 == 3

    # abort drops only staged files
    m3 = w.write(iter([(9, "x")]))
    w.abort([m3, None], batchId=2)
    assert os.listdir(os.path.join(out, "_staged")) == []
    _, total3 = read_stream_export(None, out)
    assert total3 == 3
