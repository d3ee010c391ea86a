"""Orchestrator CLI flow tests: land feeds → sync → status → validate."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pim_etl_spark.orchestrator import load_supplier_feeds, run_status, run_sync, run_validate
from pim_etl_spark.pipeline import fixtures


@pytest.fixture(scope="module")
def landed(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("feeds")
    modir = root / "midocean"
    modir.mkdir()
    for name, df in fixtures.feed_frames(spark, n_masters=12).items():
        df.write.mode("overwrite").parquet(str(modir / f"{name}.parquet"))
    return str(root)


def test_sync_and_status(spark, landed, tmp_path):
    gold = str(tmp_path / "gold.parquet")
    result = run_sync(spark, landed, gold, supplier_id="midocean")
    assert result["status"] == "success"
    assert result["products_in_gold"] == 12
    assert result["per_supplier"] == {"midocean": 12}

    status = run_status(spark, gold)
    assert status["total_products"] == 12
    assert status["by_supplier"] == {"midocean": 12}
    assert set(status["by_status"]) <= {"active", "discontinued"}

    # re-sync is idempotent under upsert (ReplaceOne semantics)
    result2 = run_sync(spark, landed, gold, supplier_id="midocean")
    assert result2["products_in_gold"] == 12


def test_incremental_since_watermark(spark, landed, tmp_path):
    """--since end-to-end through registry.incremental_filter: a
    future cutoff syncs nothing new (gold unchanged), a past cutoff
    re-syncs everything; incremental always requires an existing gold."""
    gold = str(tmp_path / "gold.parquet")
    with pytest.raises(FileNotFoundError, match="requires an existing gold"):
        run_sync(spark, landed, gold, supplier_id="midocean", since="2000-01-01")

    run_sync(spark, landed, gold, supplier_id="midocean")
    future = run_sync(spark, landed, gold, supplier_id="midocean", since="2099-01-01")
    assert future["status"] == "success"
    assert future["products_in_gold"] == 12  # nothing matched, gold intact

    past = run_sync(spark, landed, gold, supplier_id="midocean", since="2000-01-01")
    assert past["products_in_gold"] == 12  # full re-sync under upsert


def test_validate(spark, landed):
    out = run_validate(spark, landed)["validation"]
    assert out["midocean"] == "ok"
    assert out["laltex"] == "not-landed"


def test_validate_reports_unreadable_feeds_and_raises_faults(spark, landed, tmp_path, monkeypatch):
    """A landed feed that cannot be read is a per-supplier ``error: …``
    line; any other exception is a fault in validation itself and
    propagates."""
    import shutil

    from pim_etl_spark import orchestrator

    feeds = tmp_path / "feeds"
    shutil.copytree(landed, feeds)
    # the landing left a dangling link where the products feed belongs
    products = feeds / "midocean" / "mo_products.parquet"
    shutil.rmtree(products)
    products.symlink_to(tmp_path / "gone.parquet")
    out = run_validate(spark, str(feeds))["validation"]
    assert out["midocean"].startswith("error: ") and "mo_products" in out["midocean"]

    def broken(*_args):
        raise TypeError("a bug, not an unreadable feed")

    monkeypatch.setattr(orchestrator, "load_supplier_feeds", broken)
    with pytest.raises(TypeError, match="a bug"):
        run_validate(spark, landed)


def test_missing_feed_errors(spark, tmp_path):
    bad = tmp_path / "feeds" / "midocean"
    bad.mkdir(parents=True)
    with pytest.raises(FileNotFoundError, match="mo_products"):
        load_supplier_feeds(spark, str(tmp_path / "feeds"), "midocean")


def test_quarantine_splits_invalid_rows(spark, tmp_path):
    from pim_etl_spark.pipeline import schemas

    root = tmp_path / "feeds"
    modir = root / "midocean"
    modir.mkdir(parents=True)
    feeds = fixtures.feed_frames(spark, n_masters=6)
    corrupt = spark.createDataFrame(
        [{"master_code": None, "product_name": "broken", "timestamp": "t"},
         {"master_code": "PRX", "product_name": None, "timestamp": "t"}],
        schemas.MO_PRODUCTS,
    )
    for name, df in feeds.items():
        if name == "mo_products":
            df = df.unionByName(corrupt)
        df.write.mode("overwrite").parquet(str(modir / f"{name}.parquet"))

    gold = str(tmp_path / "gold.parquet")
    qdir = str(tmp_path / "quarantine")
    result = run_sync(spark, str(root), gold, supplier_id="midocean", quarantine=qdir)
    assert result["quarantined"] == {"midocean": 2}
    assert result["products_in_gold"] == 6  # corrupt rows excluded
    bad = spark.read.parquet(f"{qdir}/midocean").collect()
    assert len(bad) == 2


def test_config_file_surface(tmp_path):
    """create-config writes defaults; load_config merges + rejects typos."""
    import json

    from pim_etl_spark import orchestrator as o

    path = str(tmp_path / "etl_config.json")
    assert o.main(["--action", "create-config", "--config", path]) == 0
    cfg = o.load_config(path)
    assert cfg == o.DEFAULT_CONFIG

    with open(path, "w") as f:
        json.dump({"gold": "elsewhere/products.parquet"}, f)
    cfg = o.load_config(path)
    assert cfg["gold"] == "elsewhere/products.parquet"
    assert cfg["feeds_dir"] == "feeds"  # default preserved

    with open(path, "w") as f:
        json.dump({"glod": "typo"}, f)
    with pytest.raises(ValueError, match="unknown config keys"):
        o.load_config(path)


def test_cli_compact_action(spark, tmp_path):
    from pim_etl_spark import orchestrator

    path = str(tmp_path / "gold_frag")
    spark.range(5_000).withColumn("k", F.col("id") % 5).repartition(32).write.parquet(path)
    rc = orchestrator.main(
        ["--action", "compact", "--gold", path, "--target-file-mb", "256", "--cluster-by", "k"]
    )
    assert rc == 0
    assert spark.read.parquet(path).count() == 5_000


def test_versioned_sync_history_rollback(spark, landed, tmp_path):
    """--versioned routes syncs through the manifest store: each sync
    is one transactional snapshot; history/status/rollback work through
    the CLI surface."""
    from pim_etl_spark.orchestrator import main
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "vgold")
    r1 = run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    assert r1["status"] == "success" and r1["version"] == 1
    assert r1["products_in_gold"] == 12

    # incremental with a future cutoff: empty delta, but still a
    # consistent new snapshot with all files carried
    r2 = run_sync(
        spark, landed, gold, supplier_id="midocean", since="2099-01-01", versioned=True
    )
    assert r2["version"] == 2 and r2["products_in_gold"] == 12
    assert r2["files_rewritten"] == 0
    # the counters of an empty batch still arrive (no blocking obs.get)
    assert r2["error_count"] == 0

    status = run_status(spark, gold)
    assert status["total_products"] == 12 and status["version"] == 2

    # CLI: history then rollback to v1 (a NEW commit), then history again
    assert main(["--action", "rollback", "--gold", gold, "--to-version", "1"]) == 0
    assert V.current_version(gold) == 3
    assert [m["op"] for m in V.history(gold)][-1] == "rollback(v1)"
    assert V.read_version(spark, gold).count() == 12

    # incremental before any snapshot exists must fail loudly
    with pytest.raises(FileNotFoundError, match="versioned"):
        run_sync(
            spark, landed, str(tmp_path / "nope"), supplier_id="midocean",
            since="2000-01-01", versioned=True,
        )


def _land_with_null_ids(spark, root):
    """MidOcean feeds whose products feed carries two rows with no
    master code, which silver turns into rows with a null
    ``product_id`` (the sync's ``error_count``)."""
    from pim_etl_spark.pipeline import schemas

    modir = root / "midocean"
    modir.mkdir(parents=True)
    no_id = spark.createDataFrame(
        [{"master_code": None, "product_name": f"no id {i}", "timestamp": "t"}
         for i in range(2)],
        schemas.MO_PRODUCTS,
    )
    for name, df in fixtures.feed_frames(spark, n_masters=6).items():
        if name == "mo_products":
            df = df.unionByName(no_id)
        df.write.mode("overwrite").parquet(str(modir / f"{name}.parquet"))
    return str(root)


def test_versioned_sync_observes_etl_counters(spark, tmp_path):
    """A versioned sync takes its ETLResult counters from an
    Observation on the merge's one execution of the batch. They must
    equal a separate aggregate over the same silver frame, both into an
    empty store (the bootstrap write) and into an existing one (the
    materialized merge batch)."""
    from pim_etl_spark.pipeline import registry

    feeds = _land_with_null_ids(spark, tmp_path / "feeds")
    unified = registry.run_sync(spark, {"midocean": load_supplier_feeds(spark, feeds, "midocean")})
    expected = unified.agg(
        F.sum(F.when(F.col("product_id").isNull(), 1).otherwise(0))
    ).first()[0]
    assert expected > 0

    gold = str(tmp_path / "vgold")
    first = run_sync(spark, feeds, gold, supplier_id="midocean", versioned=True)
    assert first["version"] == 1 and first["error_count"] == expected
    later = run_sync(spark, feeds, gold, supplier_id="midocean", versioned=True)
    assert later["version"] == 2 and later["error_count"] == expected


def test_versioned_sync_counts_the_snapshot_it_committed(spark, landed, tmp_path, monkeypatch):
    """The per-supplier counts a versioned sync reports come from the
    version it committed, even when another commit lands right after."""
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "vgold")
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    merge = V.merge_files

    def merge_then_concurrent_delete(spark_, path, *args, **kwargs):
        out = merge(spark_, path, *args, **kwargs)
        V.delete_where(spark_, path, F.lit(True))
        return out

    monkeypatch.setattr(V, "merge_files", merge_then_concurrent_delete)
    r = run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    assert V.current_version(gold) == 3
    assert r["version"] == 2 and r["per_supplier"] == {"midocean": 12}


def _status_by_three_scans(gold):
    """``run_status``'s answer as one scan per question."""
    return {
        "total_products": gold.count(),
        "by_supplier": {
            r["supplier_id"]: r["n"]
            for r in gold.groupBy("supplier_id").agg(F.count(F.lit(1)).alias("n")).collect()
        },
        "by_status": {
            r["status"]: r["n"]
            for r in gold.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
        },
    }


def test_status_single_scan_matches_per_question_scans(spark, tmp_path, monkeypatch):
    """``run_status`` rolls every answer up from one (supplier, status)
    count; it must equal one scan per question on plain and versioned
    gold, a null status included, and report the version it counted."""
    from pim_etl_spark.pipeline import versioned as V

    df = spark.createDataFrame(
        [("a1", "sup_a", "active"), ("a2", "sup_a", "discontinued"),
         ("b1", "sup_b", "active"), ("b2", "sup_b", None), ("b3", "sup_b", "active")],
        "product_id string, supplier_id string, status string",
    )
    plain = str(tmp_path / "plain")
    df.write.partitionBy("supplier_id").parquet(plain)
    status = run_status(spark, plain)
    assert status == _status_by_three_scans(spark.read.parquet(plain))
    assert status["by_status"][None] == 1

    versioned = str(tmp_path / "versioned")
    V.commit_snapshot(df, versioned, op="bootstrap")
    expected = {**_status_by_three_scans(V.read_version(spark, versioned)), "version": 1}

    # a commit landing while status runs must not split version and counts
    read = V.read_version

    def read_then_concurrent_delete(spark_, path, *args, **kwargs):
        out = read(spark_, path, *args, **kwargs)
        V.delete_where(spark_, path, F.lit(True))
        return out

    monkeypatch.setattr(V, "read_version", read_then_concurrent_delete)
    assert run_status(spark, versioned) == expected
    assert V.current_version(versioned) == 2


def test_cli_refresh_rollup_action(spark, landed, tmp_path):
    """refresh-rollup CLI: bootstrap a per-supplier rollup from the
    versioned gold, then a repeat sync + refresh keeps it consistent."""
    import json as _json

    from pim_etl_spark.orchestrator import main
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "vgold")
    rollup = str(tmp_path / "rollup")
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    assert main(["--action", "refresh-rollup", "--gold", gold, "--rollup", rollup]) == 0
    got = {r.supplier_id: r.n_rows for r in V.read_version(spark, rollup).collect()}
    assert got == {"midocean": 12}

    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    assert main(["--action", "refresh-rollup", "--gold", gold, "--rollup", rollup]) == 0
    got2 = {r.supplier_id: r.n_rows for r in V.read_version(spark, rollup).collect()}
    assert got2 == {"midocean": 12}  # idempotent re-sync → unchanged rollup


def test_cli_vacuum_retention_flag(spark, landed, tmp_path):
    """CLI vacuum: default retention protects fresh unreferenced files
    (in-flight-writer safety, round-5 ADVICE fix); an explicit
    --vacuum-min-age-hours 0 reclaims them under exclusive access."""
    from pim_etl_spark.orchestrator import main
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "vgold")
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    n_before = len(os.listdir(os.path.join(gold, "data")))

    # default (6 h) retention: nothing this young is reclaimed
    assert main(["--action", "vacuum", "--gold", gold, "--keep-last", "1"]) == 0
    assert len(os.listdir(os.path.join(gold, "data"))) == n_before

    # exclusive-access reclaim
    assert main([
        "--action", "vacuum", "--gold", gold,
        "--keep-last", "1", "--vacuum-min-age-hours", "0",
    ]) == 0
    assert len(os.listdir(os.path.join(gold, "data"))) < n_before
    assert V.read_version(spark, gold).count() == 12


def test_cli_clone_and_replicate_actions(spark, landed, tmp_path):
    """CLI surface for the round-5 lakehouse ops: shallow clone (zero
    data copied, metadata-only — no SparkSession needed) and CDC
    replica refresh."""
    from pim_etl_spark.orchestrator import main
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "vgold")
    clone = str(tmp_path / "vclone")
    replica = str(tmp_path / "vreplica")
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)

    assert main(["--action", "clone", "--gold", gold, "--to", clone]) == 0
    assert V.read_version(spark, clone).count() == 12
    assert not os.listdir(os.path.join(clone, "data")) if os.path.isdir(
        os.path.join(clone, "data")
    ) else True

    assert main(["--action", "replicate", "--gold", gold, "--to", replica]) == 0
    assert V.read_version(spark, replica).count() == 12
    # second source sync + refresh keeps the replica at head
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    assert main(["--action", "replicate", "--gold", gold, "--to", replica]) == 0
    assert V.read_version(spark, replica).count() == 12


def test_cli_merge_branch_action(spark, landed, tmp_path):
    """CLI branch workflow: clone a branch, diverge it with a delete,
    merge it back; the source head reflects the branch's net delta.
    A conflicting concurrent source change reports status=conflict
    instead of silently losing an update."""
    from pim_etl_spark.orchestrator import main
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "vgold")
    branch = str(tmp_path / "vbranch")
    run_sync(spark, landed, gold, supplier_id="midocean", versioned=True)
    n0 = V.read_version(spark, gold).count()

    assert main(["--action", "clone", "--gold", gold, "--to", branch]) == 0
    # branch-side change: delete one product
    victim = V.read_version(spark, branch).select("product_id").limit(1)
    V.delete_matching(spark, branch, victim, ["product_id"])

    assert main(["--action", "merge-branch", "--gold", gold, "--to", branch]) == 0
    assert V.read_version(spark, gold).count() == n0 - 1


def test_cli_rename_and_drop_column_actions(spark, tmp_path):
    from pim_etl_spark.orchestrator import main
    from pim_etl_spark.pipeline import versioned as V

    gold = str(tmp_path / "gold")
    df = spark.createDataFrame(
        [(1, 10.0, "x", 1), (2, 20.0, "y", 1)],
        "k long, val double, note string, version long",
    )
    V.commit_snapshot(df, gold, op="bootstrap")

    assert main([
        "--action", "rename-column", "--gold", gold,
        "--column", "val", "--to-column", "price",
    ]) == 0
    assert "price" in V.read_version(spark, gold).columns

    assert main(["--action", "drop-column", "--gold", gold, "--column", "note"]) == 0
    head = V.read_version(spark, gold)
    assert "note" not in head.columns and "price" in head.columns
