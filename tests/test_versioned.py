"""Manifest-versioned gold store (pipeline/versioned.py): snapshot
isolation, time travel, file-granular copy-on-write MERGE, rollback,
vacuum. This is the transactional-MERGE surface VERDICT r3 listed as
env-blocked on delta-spark, implemented directly on parquet + a JSON
commit log."""

from __future__ import annotations

import datetime
import os
import shutil

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pim_etl_spark.pipeline import versioned as V

SCHEMA = "product_id long, base_price double, version long"


def _rows(df):
    return {r.product_id: (r.base_price, r.version) for r in df.collect()}


def _bootstrap(spark, path, n=40, files=4):
    # cluster keys into files by range so a narrow batch touches few files
    df = (
        spark.range(n)
        .selectExpr(
            "id AS product_id", "CAST(id AS DOUBLE) AS base_price", "CAST(1 AS LONG) AS version"
        )
        .repartitionByRange(files, "product_id")
    )
    return V.commit_snapshot(df, path, op="bootstrap", stats_cols=("product_id",))


def test_snapshot_commit_and_read(spark, tmp_path):
    path = str(tmp_path / "t")
    v = _bootstrap(spark, path)
    assert v == 1
    assert V.current_version(path) == 1
    assert V.read_version(spark, path).count() == 40
    assert V.history(path)[0]["op"] == "bootstrap"


def test_merge_is_file_granular_and_time_travel_isolated(spark, tmp_path):
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    files_v1 = {os.path.basename(f) for f in V.snapshot_files(path, 1)}

    # batch updates keys 0..4 (one range-file) and inserts 100..101
    batch = spark.createDataFrame(
        [(k, 1000.0 + k, 2) for k in range(5)] + [(100, 100.0, 2), (101, 101.0, 2)],
        SCHEMA,
    )
    stats = V.merge_files(spark, path, batch, keys=["product_id"], order_col="version")
    assert stats["version"] == 2
    # only the file(s) holding keys 0..4 were rewritten; the rest carried
    assert 1 <= stats["files_rewritten"] < 4
    assert stats["files_kept"] >= 2
    files_v2 = {os.path.basename(f) for f in V.snapshot_files(path, 2)}
    assert files_v1 & files_v2, "untouched files must be carried by NAME (no copy)"

    # v2 content: replaced + inserted + untouched
    got = _rows(V.read_version(spark, path, 2))
    assert got[0] == (1000.0, 2) and got[4] == (1004.0, 2)
    assert got[100] == (100.0, 2) and got[101] == (101.0, 2)
    assert got[39] == (39.0, 1)
    assert len(got) == 42

    # time travel: v1 is byte-stable and still the pre-merge content
    v1 = _rows(V.read_version(spark, path, 1))
    assert len(v1) == 40 and v1[0] == (0.0, 1)


def test_merge_pure_insert_rewrites_nothing(spark, tmp_path):
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=20, files=2)
    batch = spark.createDataFrame([(500, 5.0, 2)], SCHEMA)
    stats = V.merge_files(spark, path, batch, keys=["product_id"], order_col="version")
    assert stats["files_rewritten"] == 0
    assert V.read_version(spark, path).count() == 21


def test_append_carries_parent_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=10, files=1)
    v = V.commit_append(spark.createDataFrame([(200, 2.0, 1)], SCHEMA), path)
    m = V.read_manifest(path, v)
    assert m["stats"]["files_carried"] >= 1
    assert V.read_version(spark, path).count() == 11


def test_rollback_is_a_new_commit_with_old_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=10, files=1)
    V.merge_files(
        spark,
        path,
        spark.createDataFrame([(0, 999.0, 2)], SCHEMA),
        keys=["product_id"],
        order_col="version",
    )
    v3 = V.rollback(path, to_version=1)
    assert v3 == 3 and V.current_version(path) == 3
    assert _rows(V.read_version(spark, path)) == _rows(V.read_version(spark, path, 1))
    assert V.read_manifest(path, 3)["files"] == V.read_manifest(path, 1)["files"]


def test_orphan_report_classifies_and_vacuum_clears(spark, tmp_path):
    """orphan_report: a file referenced by NO manifest (crashed writer
    — staged into data/ but never committed) must classify as
    'orphan'; head files as 'head'; files referenced only by
    to-be-expired manifests as 'expired'. The report never deletes;
    vacuum then reclaims orphans + expired, and the post-report is
    clean. A shallow-clone-style absolute entry pointing OUTSIDE this
    table's data dir must not count toward this table's audit."""
    import shutil

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    for step in (2, 3):
        V.merge_files(
            spark,
            path,
            spark.createDataFrame([(0, float(step), step)], SCHEMA),
            keys=["product_id"],
            order_col="version",
        )
    data_dir = os.path.join(path, "data")
    donor = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))[0]
    shutil.copy(
        os.path.join(data_dir, donor), os.path.join(data_dir, "crashed-0.parquet")
    )
    # under the DEFAULT age window a brand-new unreferenced file is
    # possibly a live writer mid-commit: in_flight, never orphan
    young = V.orphan_report(path, keep_last=2)
    assert young["counts"]["in_flight"] == 1 and young["counts"]["orphan"] == 0
    rep = V.orphan_report(path, keep_last=2, min_age_seconds=0)
    assert rep["orphans"] == ["crashed-0.parquet"]
    assert rep["counts"]["orphan"] == 1
    assert rep["counts"]["head"] == len(V.read_manifest(path, 3)["files"])
    assert rep["counts"]["expired"] > 0  # v1-only files
    assert rep["n_on_disk"] == sum(rep["counts"].values())
    # detection is side-effect free
    assert os.path.exists(os.path.join(data_dir, "crashed-0.parquet"))
    V.vacuum(path, keep_last=2, min_age_seconds=0)
    post = V.orphan_report(path, keep_last=2, min_age_seconds=0)
    assert post["counts"]["orphan"] == 0 and post["counts"]["expired"] == 0
    assert post["n_on_disk"] == post["counts"]["head"] + post["counts"]["retained"]
    assert V.read_version(spark, path, 3).count() == 40
    # auditing with a LARGER keep_last than a past vacuum retained must
    # skip the missing manifests, not crash
    V.vacuum(path, keep_last=1, min_age_seconds=0)
    wide = V.orphan_report(path, keep_last=5, min_age_seconds=0)
    assert wide["counts"]["orphan"] == 0


def test_vacuum_reclaims_only_unreferenced_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    for step in (2, 3):
        V.merge_files(
            spark,
            path,
            spark.createDataFrame([(0, float(step), step)], SCHEMA),
            keys=["product_id"],
            order_col="version",
        )
    data_dir = os.path.join(path, "data")
    before = set(os.listdir(data_dir))
    res = V.vacuum(path, keep_last=2, min_age_seconds=0)
    after = set(os.listdir(data_dir))
    assert res["data_files_removed"] == len(before - after) > 0
    # retained snapshots still fully readable
    assert V.read_version(spark, path, 3).count() == 40
    assert V.read_version(spark, path, 2).count() == 40
    # expired manifest gone from history, head unchanged
    assert [m["version"] for m in V.history(path)] == [2, 3]
    assert V.current_version(path) == 3


def test_merge_data_skipping_from_manifest_stats(spark, tmp_path):
    """Per-file min/max stats ride in the manifest; a merge batch whose
    keys fall inside one file's range must SKIP the others without
    opening them (files_skipped), and stats must carry across commits
    so the next merge skips too."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    m1 = V.read_manifest(path, 1)
    assert len(m1["file_stats"]) == 4
    for st in m1["file_stats"].values():
        assert "product_id" in st

    batch = spark.createDataFrame([(2, 200.0, 2), (3, 300.0, 2)], SCHEMA)
    stats = V.merge_files(spark, path, batch, keys=["product_id"], order_col="version")
    assert stats["files_rewritten"] == 1
    assert stats["files_skipped"] == 3  # provably untouchable, never scanned

    # kept files carried their stats → the next merge still skips
    m2 = V.read_manifest(path, 2)
    assert len(m2["file_stats"]) == len(m2["files"])
    batch2 = spark.createDataFrame([(35, 3500.0, 3)], SCHEMA)
    stats2 = V.merge_files(spark, path, batch2, keys=["product_id"], order_col="version")
    assert stats2["files_skipped"] >= 3
    got = _rows(V.read_version(spark, path))
    assert got[2] == (200.0, 2) and got[35] == (3500.0, 3) and got[10] == (10.0, 1)


def test_delete_where_copy_on_write(spark, tmp_path):
    """DELETE rewrites only files containing matching rows; prior
    versions still show the rows (auditable time travel)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    res = V.delete_where(spark, path, F.col("product_id") < 5)
    assert res["files_rewritten"] == 1 and res["files_kept"] == 3
    assert V.read_version(spark, path).count() == 35
    assert V.read_version(spark, path, 1).count() == 40
    # stats carried + recomputed → a later merge still skips
    m2 = V.read_manifest(path, 2)
    assert len(m2["file_stats"]) == len(m2["files"])


def test_changes_between_reads_only_differing_files(spark, tmp_path):
    """CDC: insert/update/delete classified; identical carried files
    contribute nothing and are never read (manifest-aware diff)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    # v2: update key 3, insert 100; v3: delete key 38
    V.merge_files(
        spark,
        path,
        spark.createDataFrame([(3, 333.0, 2), (100, 100.0, 2)], SCHEMA),
        keys=["product_id"],
        order_col="version",
    )
    V.delete_where(spark, path, F.col("product_id") == 38)

    d12 = {
        (r.product_id, r.change_type)
        for r in V.changes_between(spark, path, ["product_id"], 1, 2).collect()
    }
    assert d12 == {(3, "update"), (100, "insert")}
    d23 = {
        (r.product_id, r.change_type)
        for r in V.changes_between(spark, path, ["product_id"], 2, 3).collect()
    }
    assert d23 == {(38, "delete")}
    # full-range diff composes
    d13 = {
        (r.product_id, r.change_type)
        for r in V.changes_between(spark, path, ["product_id"], 1, 3).collect()
    }
    assert d13 == {(3, "update"), (100, "insert"), (38, "delete")}


def test_txn_replay_is_noop(spark, tmp_path):
    """Exactly-once sink guard: a replayed (app_id, txn_version) MERGE
    commits nothing; the txn watermark survives unrelated commits."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=10, files=1)
    b1 = spark.createDataFrame([(0, 100.0, 2)], SCHEMA)
    r1 = V.merge_files_txn(
        spark, path, b1, keys=["product_id"], order_col="version",
        app_id="sync-stream", txn_version=0,
    )
    assert not r1["skipped_replay"] and V.current_version(path) == 2
    # unrelated commit in between must not lose the watermark
    V.commit_append(spark.createDataFrame([(300, 3.0, 1)], SCHEMA), path)
    replay = V.merge_files_txn(
        spark, path, spark.createDataFrame([(0, 999.0, 9)], SCHEMA),
        keys=["product_id"], order_col="version",
        app_id="sync-stream", txn_version=0,
    )
    assert replay["skipped_replay"] and V.current_version(path) == 3
    assert _rows(V.read_version(spark, path))[0] == (100.0, 2)  # replay data ignored
    # next batch goes through
    r2 = V.merge_files_txn(
        spark, path, spark.createDataFrame([(1, 111.0, 3)], SCHEMA),
        keys=["product_id"], order_col="version",
        app_id="sync-stream", txn_version=1,
    )
    assert not r2["skipped_replay"] and V.last_txn_version(path, "sync-stream") == 1


def test_schema_evolution_merge_and_read(spark, tmp_path):
    """A batch adding a column merges cleanly; old rows read NULL for
    it; pre-evolution snapshots are untouched; CDC across the
    evolution commit classifies correctly."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=10, files=1)
    evolved = spark.createDataFrame(
        [(0, 42.0, 2, "EUR"), (100, 1.0, 2, "USD")],
        "product_id long, base_price double, version long, currency string",
    )
    V.merge_files(spark, path, evolved, keys=["product_id"], order_col="version")
    latest = V.read_version(spark, path)
    assert "currency" in latest.columns
    got = {r.product_id: r.currency for r in latest.collect()}
    assert got[0] == "EUR" and got[100] == "USD" and got[5] is None
    assert "currency" not in V.read_version(spark, path, 1).columns
    d = {
        (r.product_id, r.change_type)
        for r in V.changes_between(spark, path, ["product_id"], 1, 2).collect()
    }
    assert d == {(0, "update"), (100, "insert")}


def test_write_audit_publish(spark, tmp_path):
    """WAP: a failed audit aborts BEFORE any commit (live table
    byte-identical); drop-mode publishes only clean rows and records
    the audit verdict atomically in the manifest."""
    import pytest

    from pim_etl_spark.pipeline.expectations import Expect, merge_files_audited

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=10, files=1)
    exps = [
        Expect("price_positive", "row", condition="base_price > 0"),
        Expect("key_unique", "unique", columns=("product_id",)),
    ]
    dirty = spark.createDataFrame(
        [(3, -1.0, 2), (100, 5.0, 2)], SCHEMA  # one violating row
    )

    with pytest.raises(ValueError, match="audit failed"):
        merge_files_audited(
            spark, path, dirty, keys=["product_id"], order_col="version",
            expectations=exps, on_violation="fail",
        )
    assert V.current_version(path) == 1  # nothing published

    res = merge_files_audited(
        spark, path, dirty, keys=["product_id"], order_col="version",
        expectations=exps, on_violation="drop",
    )
    assert res["version"] == 2 and res["audit"]["rows_dropped"] == 1
    got = _rows(V.read_version(spark, path))
    assert got[100] == (5.0, 2) and got[3] == (3.0, 1)  # dirty update dropped
    m = V.read_manifest(path, 2)
    assert m["audit"]["violations"]["price_positive"] == 1
    assert m["audit"]["violations"]["key_unique"] == 0

    # clean batch in fail mode publishes and records a passing audit
    clean = spark.createDataFrame([(101, 7.0, 3)], SCHEMA)
    res2 = merge_files_audited(
        spark, path, clean, keys=["product_id"], order_col="version",
        expectations=exps, on_violation="fail",
    )
    assert res2["audit"]["passed"] and V.read_manifest(path, 3)["audit"]["passed"]


def test_incremental_rollup_handles_group_migration(spark, tmp_path):
    """An update that MOVES a row between groups must subtract from
    the old group and add to the new one — the case naive view
    maintenance misses."""
    from pyspark.sql import functions as F

    from pim_etl_spark.pipeline.versioned import incremental_rollup_update

    rollup = spark.createDataFrame(
        [(0, 2, 30.0), (1, 1, 5.0)], "grp long, n_rows long, val double"
    )
    changes = spark.createDataFrame(
        # key 7 migrates grp 0 → 1 and changes value 10 → 12
        [("update", 0, 1, 10.0, 12.0),
         ("insert", None, 0, None, 100.0),
         ("delete", 1, None, 5.0, None)],
        "change_type string, old_grp long, new_grp long, old_val double, new_val double",
    )
    got = {
        r.grp: (r.n_rows, r.val)
        for r in incremental_rollup_update(
            rollup, changes, group_cols=("grp",), sum_cols=("val",), count_col="n_rows"
        ).collect()
    }
    # grp0: 2 rows (30) - migrated (10) + insert (100) = 2 rows, 120
    # grp1: 1 row (5) - deleted (5) + migrated-in (12) = 1 row, 12
    assert got == {0: (2, 120.0), 1: (1, 12.0)}


def test_optimize_compacts_and_resets_stats(spark, tmp_path):
    """OPTIMIZE: many-merge churn → one compact snapshot; content
    value-identical, prior versions readable, fresh per-file stats
    restore data skipping."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    for step in range(2, 6):  # four merges → small-file churn
        V.merge_files(
            spark,
            path,
            spark.createDataFrame([(step * 7, float(step), step)], SCHEMA),
            keys=["product_id"],
            order_col="version",
        )
    before = _rows(V.read_version(spark, path))
    n_before = len(V.read_manifest(path, 5)["files"])
    res = V.optimize(spark, path, target_file_mb=256, stats_cols=("product_id",))
    assert res["files_after"] < n_before
    assert _rows(V.read_version(spark, path)) == before  # value-identical
    assert V.read_version(spark, path, 1).count() == 40  # time travel intact
    m = V.read_manifest(path, res["version"])
    assert m["op"] == "optimize" and len(m["file_stats"]) == len(m["files"])
    # skipping still works after optimize (fresh tight stats)
    stats = V.merge_files(
        spark, path,
        spark.createDataFrame([(0, 0.5, 99)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    assert stats["files_rewritten"] >= 1


def test_commit_conflict_detected_not_clobbered(spark, tmp_path):
    """Optimistic concurrency: if another writer commits the same
    snapshot number first, the second commit raises CommitConflict and
    the winner's manifest is untouched."""
    import json

    import pytest

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=10, files=1)
    # simulate a concurrent winner landing v2 first
    winner = dict(V.read_manifest(path, 1))
    winner["version"] = 2
    with open(V._manifest_path(path, 2), "w") as fh:
        json.dump(winner, fh)

    # loser read parent=1, winner landed v2 meanwhile → CAS collision
    with pytest.raises(V.CommitConflict, match="v2"):
        V._commit(path, winner["files"], "merge", {}, expect_parent=1)
    assert json.load(open(V._manifest_path(path, 2)))["version"] == 2  # untouched
    # no stray tmp files left behind
    import os

    assert not [f for f in os.listdir(V._manifest_dir(path)) if ".tmp-" in f]


def test_crash_between_stage_and_commit_is_invisible(spark, tmp_path):
    """Crash simulation: data files staged but the manifest never
    linked → readers see the old state byte-identically, and vacuum
    reclaims the orphans. The commit is the ONLY visibility point."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=10, files=1)
    before = _rows(V.read_version(spark, path))

    # "crash": files written, no commit
    orphans, _stats = V._write_data_files(
        spark.createDataFrame([(99, 9.0, 9)], SCHEMA), path, version=2
    )
    assert orphans  # staged bytes exist on disk...
    assert _rows(V.read_version(spark, path)) == before  # ...invisible
    assert V.current_version(path) == 1

    res = V.vacuum(path, keep_last=5, min_age_seconds=0)
    assert res["data_files_removed"] == len(orphans)
    assert _rows(V.read_version(spark, path)) == before


def test_random_op_sequences_match_dict_model(spark, tmp_path):
    """Model-based check: a fixed battery of randomized
    merge/delete/rollback sequences must leave the store equal to a
    plain dict replaying the same ops — the store's semantics are
    exactly 'a versioned dict of rows'."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20260814)
    for case in range(3):
        path = str(tmp_path / f"t{case}")
        model: dict[int, float] = {k: float(k) for k in range(12)}
        snapshots = {}
        _bootstrap(spark, path, n=12, files=2)
        snapshots[1] = dict(model)
        for step in range(2, 8):
            op = rng.choice(["merge", "delete", "rollback"])
            if op == "merge":
                batch = {rng.randrange(20): rng.uniform(1, 9) for _ in range(rng.randint(1, 4))}
                batch = {k: float(round(v, 2)) for k, v in batch.items()}
                V.merge_files(
                    spark, path,
                    spark.createDataFrame(
                        [(k, v, step) for k, v in batch.items()], SCHEMA
                    ),
                    keys=["product_id"], order_col="version",
                )
                model.update(batch)
            elif op == "delete":
                doom = rng.randrange(4)
                V.delete_where(spark, path, F.col("product_id") % 4 == doom)
                model = {k: v for k, v in model.items() if k % 4 != doom}
            else:
                target = rng.choice(sorted(snapshots))
                V.rollback(path, to_version=target)
                model = dict(snapshots[target])
            snapshots[step] = dict(model)
            assert V.current_version(path) == step
        got = {r.product_id: r.base_price for r in V.read_version(spark, path).collect()}
        assert got == model, f"case {case} diverged from the model"


def test_tags_name_snapshots(spark, tmp_path):
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=5, files=1)
    V.merge_files(
        spark, path, spark.createDataFrame([(0, 9.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    assert V.tag(path, "release-1", version=1) == 1
    assert V.tag(path, "latest") == 2
    assert V.list_tags(path) == {"release-1": 1, "latest": 2}
    assert V.read_version(spark, path, V.resolve_tag(path, "release-1")).count() == 5


def test_timestamp_as_of_and_vacuum_dry_run(spark, tmp_path):
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=5, files=1)
    t_between = __import__("time").time()
    V.merge_files(
        spark, path, spark.createDataFrame([(0, 9.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    assert V.version_as_of_timestamp(path, t_between) == 1
    assert V.version_as_of_timestamp(path, __import__("time").time()) == 2

    import os

    data_dir = os.path.join(path, "data")
    before = set(os.listdir(data_dir))
    res = V.vacuum(path, keep_last=1, dry_run=True, min_age_seconds=0)
    assert res["dry_run"] and res["data_files_removed"] > 0
    assert set(os.listdir(data_dir)) == before  # nothing actually removed


def test_merge_retry_recovers_from_commit_conflict(spark, tmp_path, monkeypatch):
    """A concurrent winner between read and publish: the retry loop
    re-reads and lands on the next version with BOTH writers' rows."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=5, files=1)

    real_commit = V._commit
    fired = {"done": False}

    def racing_commit(p, files, op, stats, **kw):
        if not fired["done"] and op == "merge":
            fired["done"] = True
            # winner lands v2 first (its own CAS from the same parent)
            winner = spark.createDataFrame([(100, 1.0, 2)], SCHEMA)
            V.merge_files(spark, p, winner, keys=["product_id"], order_col="version")
        return real_commit(p, files, op, stats, **kw)

    monkeypatch.setattr(V, "_commit", racing_commit)
    res = V.merge_files_with_retry(
        spark, path, spark.createDataFrame([(0, 9.0, 3)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    assert res["version"] == 3
    got = _rows(V.read_version(spark, path))
    assert got[100] == (1.0, 2)  # winner's row survived
    assert got[0] == (9.0, 3)  # loser's merge re-derived and landed


def test_delete_key_range_hint_skips_files(spark, tmp_path):
    """Keyed delete with a range hint: files provably outside the
    range are carried without being opened; the predicate still
    decides correctness inside candidates."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    res = V.delete_where(
        spark, path,
        (F.col("product_id") >= 2) & (F.col("product_id") <= 4),
        key_range=("product_id", 2, 4),
    )
    assert res["files_rewritten"] == 1
    m = V.read_manifest(path, 2)
    assert m["stats"]["files_skipped"] == 3
    assert V.read_version(spark, path).count() == 37
    # hint matching nothing → pure manifest carry, no scan, no rewrite
    res2 = V.delete_where(
        spark, path, F.col("product_id") == 10_000,
        key_range=("product_id", 10_000, 10_000),
    )
    assert res2["files_rewritten"] == 0 and V.current_version(path) == 3


def test_refresh_rollup_catches_up_exactly_once(spark, tmp_path):
    """Derived-table maintenance: bootstrap aggregate, then fold only
    UNPROCESSED base snapshots per refresh; re-running is a no-op; the
    maintained rollup always equals a direct aggregate of the base."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "base")
    rollup = str(tmp_path / "rollup")

    def direct():
        return {
            (r.grp,): (r.n_rows, r.base_price)
            for r in V.read_version(spark, base)
            .withColumn("grp", F.col("product_id") % 3)
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("base_price").alias("base_price"))
            .collect()
        }

    def maintained():
        return {
            (r.grp,): (r.n_rows, r.base_price)
            for r in V.read_version(spark, rollup).collect()
        }

    # base table carries grp as a stored column so CDC exposes it
    boot = spark.range(12).selectExpr(
        "id AS product_id", "id % 3 AS grp", "CAST(id AS DOUBLE) AS base_price",
        "CAST(1 AS LONG) AS version",
    ).repartitionByRange(2, "product_id")
    V.commit_snapshot(boot, base, stats_cols=("product_id",))

    r1 = V.refresh_rollup(
        spark, base, rollup, keys=["product_id"],
        group_cols=("grp",), sum_cols=("base_price",),
    )
    assert r1["bootstrapped"]
    assert maintained() == direct()

    # two base commits, one refresh
    V.merge_files(
        spark, base,
        spark.createDataFrame([(0, 0, 100.0, 2), (50, 2, 5.0, 2)],
                              "product_id long, grp long, base_price double, version long"),
        keys=["product_id"], order_col="version",
    )
    V.delete_where(spark, base, F.col("product_id") == 7)
    r2 = V.refresh_rollup(
        spark, base, rollup, keys=["product_id"],
        group_cols=("grp",), sum_cols=("base_price",),
    )
    assert r2["base_versions_applied"] == [2, 3]
    assert maintained() == direct()

    # idempotent: nothing new → no commit
    r3 = V.refresh_rollup(
        spark, base, rollup, keys=["product_id"],
        group_cols=("grp",), sum_cols=("base_price",),
    )
    assert r3["base_versions_applied"] == [] and r3["rollup_version"] == r2["rollup_version"]


def test_sql_over_versioned_views(spark, tmp_path):
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=10, files=1)
    V.merge_files(
        spark, path, spark.createDataFrame([(0, 100.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    V.register_view(spark, path, "vstore_head")
    V.register_view(spark, path, "vstore_v1", version=1)
    row = spark.sql("""
        SELECT h.base_price AS now, o.base_price AS before
        FROM vstore_head h JOIN vstore_v1 o USING (product_id)
        WHERE product_id = 0
    """).collect()[0]
    assert (row.now, row.before) == (100.0, 0.0)


def test_vacuum_retention_protects_inflight_files(spark, tmp_path):
    """Round-4 ADVICE: merge_files moves staged files into data/
    BEFORE the manifest commit publishes them; a concurrent vacuum
    must not delete those young files (torn table). Default retention
    keeps fresh unreferenced files; min_age_seconds=0 (exclusive
    access) reclaims them."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=10, files=1)
    # simulate a writer mid-commit: data staged, manifest not yet linked
    orphans, _ = V._write_data_files(
        spark.createDataFrame([(99, 9.0, 9)], SCHEMA), path, version=2
    )
    data_dir = os.path.join(path, "data")
    res = V.vacuum(path, keep_last=5)  # default retention window
    assert res["data_files_removed"] == 0
    assert res["files_skipped_young"] == len(orphans)
    assert all(os.path.exists(os.path.join(data_dir, f)) for f in orphans)
    # the in-flight writer can still publish safely
    V._commit(path, V.read_manifest(path, 1)["files"] + orphans, "merge", {})
    assert V.read_version(spark, path).count() == 11


def test_delete_where_empty_table_raises_descriptive(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    path = str(tmp_path / "never-committed")
    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        V.delete_where(spark, path, F.col("product_id") == 1)


def test_delete_where_preserves_evolved_columns(spark, tmp_path):
    """Round-4 ADVICE: delete_where must read touched files with
    mergeSchema — when they span a schema-evolution commit, columns
    absent from a sampled footer must NOT be dropped from the
    rewritten survivors (permanent data loss)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=10, files=1)
    # v2: schema evolution — the merge batch adds a 'supplier' column
    evolved = spark.createDataFrame(
        [(3, 333.0, 2, "acme"), (100, 100.0, 2, "acme")],
        "product_id long, base_price double, version long, supplier string",
    )
    V.merge_files(spark, path, evolved, keys=["product_id"], order_col="version")
    # v3: delete one key — touched files span the evolution commit
    V.delete_where(spark, path, F.col("product_id") == 0)
    got = V.read_version(spark, path)
    assert "supplier" in got.columns
    rows = {r.product_id: r.supplier for r in got.collect()}
    assert rows[3] == "acme" and rows[100] == "acme"
    assert 0 not in rows and len(rows) == 10

    # CDC across the same evolution boundary must not fabricate
    # spurious updates (changes_between._side mergeSchema)
    d23 = {
        (r.product_id, r.change_type)
        for r in V.changes_between(spark, path, ["product_id"], 2, 3).collect()
    }
    assert d23 == {(0, "delete")}


def test_refresh_rollup_vacuumed_base_actionable_error(spark, tmp_path):
    """Round-4 ADVICE: when the base table's history was vacuumed past
    the rollup's txn watermark, refresh_rollup must raise an
    actionable error (re-bootstrap guidance), not a bare
    missing-manifest traceback."""
    import pytest
    from pyspark.sql import functions as F

    base = str(tmp_path / "base")
    rollup = str(tmp_path / "rollup")
    boot = spark.range(10).selectExpr(
        "id AS product_id", "id % 2 AS grp", "CAST(id AS DOUBLE) AS base_price",
        "CAST(1 AS LONG) AS version",
    )
    V.commit_snapshot(boot, base)
    V.refresh_rollup(
        spark, base, rollup, keys=["product_id"],
        group_cols=("grp",), sum_cols=("base_price",),
    )
    for step in (2, 3, 4):
        V.merge_files(
            spark, base,
            spark.createDataFrame([(0, 0, float(step), step)],
                                  "product_id long, grp long, base_price double, version long"),
            keys=["product_id"], order_col="version",
        )
    V.vacuum(base, keep_last=1, min_age_seconds=0)  # history gone past watermark
    with pytest.raises(FileNotFoundError, match="re-bootstrap"):
        V.refresh_rollup(
            spark, base, rollup, keys=["product_id"],
            group_cols=("grp",), sum_cols=("base_price",),
        )


def test_sharded_manifest_bounded_commit_and_reuse(spark, tmp_path):
    """VERDICT r4 #4: beyond MANIFEST_SHARD_SIZE files the snapshot
    pointer must stay tiny (shard files hold the entries, Iceberg
    shape), an append must REUSE the parent's shards by name (commit
    cost O(churn), not O(table files)), and vacuum must reclaim shard
    files once no retained manifest references them."""
    import json

    path = str(tmp_path / "t")
    n = 3 * V.MANIFEST_SHARD_SIZE + 17  # 12,305 synthetic entries
    files_v1 = [f"v000001-x-{i:07d}.parquet" for i in range(n)]
    stats_v1 = {f: {"k": [i, i]} for i, f in enumerate(files_v1)}
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    V._commit(path, files_v1, "bootstrap", {}, file_stats=stats_v1, expect_parent=0)

    raw1 = json.load(open(V._manifest_path(path, 1)))
    assert "files" not in raw1 and raw1["n_files"] == n
    assert len(raw1["shards"]) == 4
    assert os.path.getsize(V._manifest_path(path, 1)) < 4096  # pointer tiny at ANY file count

    # materialized read returns the full list + stats
    m1 = V.read_manifest(path, 1)
    assert len(m1["files"]) == n and m1["file_stats"][files_v1[7]] == {"k": [7, 7]}

    # append carries all + 100 new: parent shards reused by NAME
    new_files = [f"v000002-y-{i:04d}.parquet" for i in range(100)]
    V._commit(path, files_v1 + new_files, "append", {},
              file_stats={f: {"k": [0, 0]} for f in new_files}, expect_parent=1)
    raw2 = json.load(open(V._manifest_path(path, 2)))
    reused = set(raw1["shards"]) & set(raw2["shards"])
    assert reused == set(raw1["shards"]), "append must reuse every parent shard"
    assert len(raw2["shards"]) == len(raw1["shards"]) + 1  # one new shard for 100 files

    # narrow delete: drop 3 entries → at most the touched shards rewrite
    survivors = files_v1[3:] + new_files
    V._commit(path, survivors, "delete", {}, expect_parent=2)
    raw3 = json.load(open(V._manifest_path(path, 3)))
    assert len(set(raw2["shards"]) & set(raw3["shards"])) >= len(raw2["shards"]) - 1
    assert V.read_manifest(path, 3)["files"] == sorted(survivors)

    # distributed consumption: the DataFrame path sees every entry
    assert V.manifest_files_df(spark, path, 3).count() == len(survivors)

    # vacuum: with only the head retained, shards referenced by no
    # retained manifest are reclaimed; the head stays readable
    res = V.vacuum(path, keep_last=1, min_age_seconds=0)
    assert res["manifest_shards_removed"] >= 1
    assert V.read_manifest(path, 3)["files"] == sorted(survivors)
    on_disk = [f for f in os.listdir(V._manifest_dir(path)) if f.startswith("m-")]
    assert sorted(on_disk) == sorted(json.load(open(V._manifest_path(path, 3)))["shards"])


def test_sharded_merge_prunes_shards_and_carries_by_name(spark, tmp_path, monkeypatch):
    """Round-5 shard-range planning: a MERGE against a sharded
    manifest must (1) never open shards whose key range excludes the
    batch, (2) carry pruned/untouched shards BY NAME, (3) produce the
    same table contents as a dict model — with driver cost bounded by
    loaded shards, not total files."""
    import json

    monkeypatch.setattr(V, "MANIFEST_SHARD_SIZE", 4)
    path = str(tmp_path / "t")
    # 40 keys range-clustered into 20 files -> 5 shards of 4 entries
    df = (
        spark.range(40)
        .selectExpr("id AS product_id", "CAST(id AS DOUBLE) AS base_price",
                    "CAST(1 AS LONG) AS version")
        .repartitionByRange(20, "product_id")
    )
    V.commit_snapshot(df, path, op="bootstrap", stats_cols=("product_id",))
    p1 = json.load(open(V._manifest_path(path, 1)))
    assert len(p1["shards"]) == 5 and p1["n_files"] == 20
    assert all("cols" in st and "product_id" in st["cols"] for st in p1["shard_stats"].values())

    # narrow batch touching keys 0-1 (one file, one shard) + insert 100
    batch = spark.createDataFrame(
        [(0, 999.0, 2), (1, 111.0, 2), (100, 1.0, 2)], SCHEMA
    )
    res = V.merge_files(spark, path, batch, keys=["product_id"], order_col="version")
    assert res["shards_pruned"] >= 3, res
    assert res["files_rewritten"] == 1, res
    p2 = json.load(open(V._manifest_path(path, 2)))
    reused = set(p1["shards"]) & set(p2["shards"])
    assert len(reused) >= 4, "pruned/untouched shards must carry by name"
    # pointer count == materialized entry count == 16 carried + 3 kept
    # from the dissolved shard + the merge-output file(s)
    m2 = V.read_manifest(path, 2)
    assert p2["n_files"] == len(m2["files"]) >= 20
    assert res["files_kept"] == 3

    got = {r.product_id: r.base_price for r in V.read_version(spark, path).collect()}
    assert got[0] == 999.0 and got[1] == 111.0 and got[100] == 1.0
    assert got[7] == 7.0 and len(got) == 41

    # time travel across sharded commits intact
    assert V.read_version(spark, path, 1).count() == 40

    # CDC across the sharded merge still derives only real changes
    d12 = {
        (r.product_id, r.change_type)
        for r in V.changes_between(spark, path, ["product_id"], 1, 2).collect()
    }
    assert d12 == {(0, "update"), (1, "update"), (100, "insert")}


def _counted_batch(spark, rows):
    """A merge batch whose key column runs through a Python UDF that
    counts the rows it sees: the accumulator reads rows x executions."""
    from pyspark.sql import functions as F

    seen = spark.sparkContext.accumulator(0)

    def tick(k):
        seen.add(1)
        return k

    batch = spark.createDataFrame(rows, SCHEMA).withColumn(
        "product_id", F.udf(tick, "long")("product_id")
    )
    return batch, seen


@pytest.mark.parametrize("layout", ["bootstrap", "inline", "sharded"])
def test_merge_executes_the_batch_once(spark, tmp_path, monkeypatch, layout):
    """A computed batch (a whole silver plan, on a sync) executes once
    per merge however many reads the merge makes of it: the key
    collect and the rewrite share one materialized copy. Counters
    observed on the batch rely on this."""
    import json

    path = str(tmp_path / layout)
    if layout == "inline":
        _bootstrap(spark, path, n=40, files=4)
    elif layout == "sharded":
        monkeypatch.setattr(V, "MANIFEST_SHARD_SIZE", 4)
        _bootstrap(spark, path, n=40, files=20)
        assert "shards" in json.load(open(V._manifest_path(path, 1)))
    rows = [(k, 1000.0 + k, 2) for k in range(5)] + [(100, 100.0, 2), (101, 101.0, 2)]
    batch, seen = _counted_batch(spark, rows)
    res = V.merge_files(spark, path, batch, keys=["product_id"], order_col="version")
    assert seen.value == len(rows), res
    if layout == "inline":
        assert res["files_skipped"] == 3  # the prune saw the batch's keys
    elif layout == "sharded":
        assert res["shards_pruned"] >= 3
    got = _rows(V.read_version(spark, path))
    assert got[0] == (1000.0, 2) and got[101] == (101.0, 2)


def _merge_against_model(spark, path, batches, schema, keys):
    """Merge each of ``batches`` (rows led by their ``keys`` fields)
    into the store at ``path``; after every merge the planner must have
    rewritten exactly the files holding a batch key tuple, skipped
    exactly the shards and files whose recorded [min, max] of
    ``keys[0]`` holds no batch key, and left rows equal to a dict model
    of the upserts (a row with a null key only ever inserts)."""
    import pyarrow.parquet as pq

    n = len(keys)
    model = {tuple(r)[:n]: tuple(r) for r in V.read_version(spark, path).collect()}
    for rows in batches:
        v = V.current_version(path)
        m, pointer = V.read_manifest(path, v), V.read_manifest(path, v, materialize=False)
        want = {r[:n] for r in rows if None not in r[:n]}

        def skips(rng):  # a recorded range that holds no batch key
            return rng is not None and not (
                None not in rng and any(rng[0] <= k[0] <= rng[1] for k in want)
            )

        shards = pointer.get("shards", [])
        pruned = [s for s in shards if skips(pointer["shard_stats"][s]["cols"].get(keys[0]))]
        loaded = set(m["files"]) - {e["name"] for s in pruned for e in V._load_shard(path, s)}
        skipped = [f for f in loaded if skips(m["file_stats"].get(f, {}).get(keys[0]))]
        held = {
            f for f in m["files"]
            if want & {tuple(d.values()) for d in pq.read_table(
                V._entry_path(path, f), columns=list(keys)).to_pylist()}
        }
        res = V.merge_files(
            spark, path, spark.createDataFrame(rows, schema), keys=keys, order_col="version"
        )
        assert set(m["files"]) - set(V.read_manifest(path, res["version"])["files"]) == held
        assert res["files_skipped"] == len(skipped), (rows, res)
        assert res.get("shards_pruned") == (len(pruned) if shards else None), (rows, res)
        model.update((r[:n], tuple(r)) for r in rows if None not in r[:n])
        got = [tuple(r) for r in V.read_version(spark, path).collect()]
        assert {r[:n]: r for r in got if None not in r[:n]} == model, rows
        assert len(got) == len(model) + sum(None in r[:n] for r in got)  # no key twice
    return res


def test_merge_planners_agree_inline(spark, tmp_path):
    """The merge planner agrees with the file, manifest and dict models
    on an inline manifest: keys in two files, a key outside every range,
    null keys, a batch of null keys only, and a file without stats
    (always a candidate). Kept files carry their stats and rewritten
    ones get them, so each next merge skips too."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    V.commit_append(spark.createDataFrame([(500, 5.0, 1)], SCHEMA), path)
    batches = [
        [(3, 30.5, 2), (17, 170.5, 2), (None, 1.0, 2), (1000, 5.0, 2)],
        [(None, 2.0, 3)],
        [(500, 50.0, 4), (21, 2.0, 4)],
    ]
    assert _merge_against_model(spark, path, batches, SCHEMA, ["product_id"])["files_skipped"]
    appended = set(V.read_manifest(path, 2)["files"]) - set(V.read_manifest(path, 1)["files"])
    m = V.read_manifest(path, V.current_version(path))
    assert {f for f in m["files"] if "product_id" not in m["file_stats"].get(f, {})} <= appended


def test_merge_planner_matches_model_sharded_string_and_composite_keys(
    spark, tmp_path, monkeypatch
):
    """The same checks on a sharded manifest (shard prune, then file
    prune), on a string key, and on a composite key, which prunes on
    its first key and resolves on both."""
    monkeypatch.setattr(V, "MANIFEST_SHARD_SIZE", 4)
    _bootstrap(spark, str(tmp_path / "sharded"), n=40, files=20)
    sharded = [[(0, 9.0, 2), (1, 9.0, 2), (100, 1.0, 2), (None, 0.0, 2)], [(39, 3.0, 3)]]
    res = _merge_against_model(spark, str(tmp_path / "sharded"), sharded, SCHEMA, ["product_id"])
    assert res["shards_pruned"] >= 3, res

    cases = [
        ("sku string, base_price double, version long", ["sku"],
         [(f"k{i:02d}", float(i), 1) for i in range(20)],
         [("k03", 3.5, 2), ("k17", 17.5, 2), ("zzz", 1.0, 2), (None, 0.0, 2)]),
        ("product_id long, site string, version long", ["product_id", "site"],
         [(i, s, 1) for i in range(12) for s in "ab"],
         [(1, "a", 2), (7, "b", 2), (50, "a", 2), (3, None, 2)]),
    ]
    for i, (ddl, keys, rows, batch) in enumerate(cases):
        path = str(tmp_path / str(i))
        V.commit_snapshot(
            spark.createDataFrame(rows, ddl).repartitionByRange(4, keys[0]),
            path, stats_cols=(keys[0],),
        )
        assert _merge_against_model(spark, path, [batch], ddl, keys)["files_skipped"] == 2


def test_string_keys_merge_into_a_bigint_table_in_place(spark, tmp_path):
    """A string batch key against a bigint table key: the range prune
    stands down (as text, "5" sorts outside ["0", "11"]), so key "5"
    updates row 5 in place instead of skipping its file and inserting a
    second row 5."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=60, files=5)
    batch = spark.createDataFrame(
        [("5", 500.0, 2), ("20", 2000.0, 2)], "product_id string, base_price double, version long"
    )
    res = V.merge_files(spark, path, batch, keys=["product_id"], order_col="version")
    got = sorted((int(k), p, v) for k, p, v in V.read_version(spark, path).collect())
    assert [r for r in got if r[0] == 5] == [(5, 500.0, 2)] and len(got) == 60, got
    assert res["files_skipped"] == 0 and res["files_rewritten"] == 2, res


def test_merge_prunes_only_when_batch_and_table_keys_share_a_python_type(spark):
    """``_batch_keys`` collects the distinct non-null key tuples as a
    local frame with the batch's key schema, and hands the range prune
    the sorted first keys only when the batch key and the table's
    recorded key (under its renames) are collected as the same Python
    type, so every manifest bound compares with every key."""
    from pyspark.sql.types import StructType

    def meta(ddl, renames=None):
        return {"schema": V._schema_json(StructType.fromDDL(ddl)), "column_renames": renames}

    def prune_keys(ddl, rows, m):
        return V._batch_keys(spark, spark.createDataFrame(rows, ddl), ["product_id"], m)[1]

    table, batch = meta("product_id long, p double"), "product_id long, p double"
    assert prune_keys("product_id int, p double", [(2, 1.0)], table) == [2]
    assert prune_keys("product_id string, p double", [("2", 1.0)], table) is None
    assert prune_keys(batch, [(2, 1.0)], meta("product_id date, p double")) is None
    renamed = meta("pid long, p double", [{"from": "pid", "to": "product_id"}])
    assert prune_keys(batch, [(2, 1.0)], renamed) == [2]
    assert prune_keys(batch, [(2, 1.0)], {}) is None  # no recorded schema
    assert prune_keys(batch, [(None, 1.0)], table) == []
    rows = spark.createDataFrame([(2, 1.0), (1, 1.0), (2, 1.0), (None, 1.0)], batch)
    frame, keys = V._batch_keys(spark, rows, ["product_id", "p"], table)
    assert keys == [1, 2] and frame.schema == rows.schema
    assert sorted(frame.collect()) == [(1, 1.0), (2, 1.0)]


def test_renamed_column_keeps_its_position(spark, tmp_path):
    """A renamed column stays where the old name stood, also once a
    merge writes files under the new name: the coalesce of the two
    physical columns takes the first of their positions, so the order
    does not depend on which file a read lists first. (Before manifest
    schemas it moved to the end of the row after such a merge.)"""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    V.rename_column(spark, path, "base_price", "price")
    assert V.read_version(spark, path).columns == ["product_id", "price", "version"]
    V.merge_files(
        spark, path, spark.createDataFrame([(3, 3.5, 2)], "product_id long, price double, version long"),
        keys=["product_id"], order_col="version",
    )
    m = V.read_manifest(path, V.current_version(path))
    assert [f["name"] for f in m["schema"]["fields"]] == ["product_id", "base_price", "version", "price"]
    assert V.read_version(spark, path).columns == ["product_id", "price", "version"]
    inferred = {**m, "schema": None}
    for files in (m["files"], m["files"][::-1]):
        assert V._scan(spark, path, files, inferred).columns == ["product_id", "price", "version"]


def _assert_reads_like_merge_schema(spark, path):
    """The snapshot read through its manifest schema equals the read
    that infers the schema from the files' footers (mergeSchema)."""
    v = V.current_version(path)
    m = V.read_manifest(path, v)
    assert "schema" in m, f"v{v} ({m['op']}) records no schema"
    fast = V.read_version(spark, path)
    slow = V._scan(spark, path, m["files"], {**m, "schema": None}, m.get("delete_files"))
    assert fast.dtypes == slow.dtypes, m["op"]
    assert sorted(fast.collect(), key=repr) == sorted(slow.collect(), key=repr), m["op"]


def test_manifest_schema_reads_match_merge_schema_reads(spark, tmp_path):
    """Every op that commits keeps a manifest schema under which the
    snapshot reads exactly as a mergeSchema read of its files does:
    columns, their order and types, and rows."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    _assert_reads_like_merge_schema(spark, path)
    evolved = "product_id long, base_price double, version long, currency string"
    steps = [
        lambda: V.merge_files(
            spark, path, spark.createDataFrame([(3, 3.5, 2, "EUR"), (90, 9.0, 2, "USD")], evolved),
            keys=["product_id"], order_col="version",
        ),
        lambda: V.rename_column(spark, path, "base_price", "price"),
        lambda: V.merge_files(
            spark, path,
            spark.createDataFrame([(25, 2.5, 3, None)], evolved.replace("base_price", "price")),
            keys=["product_id"], order_col="version",
        ),
        lambda: V.drop_column(spark, path, "currency"),
        lambda: V.delete_where(spark, path, F.col("product_id") == 12),
        lambda: V.delete_where_mor(spark, path, F.col("product_id").isin(5, 33)),
        lambda: V.apply_deletes(spark, path),
        lambda: V.rollback(path, to_version=3),
        lambda: V.optimize_small_files(spark, path, small_file_mb=1),
        lambda: V.optimize(spark, path),
    ]
    for step in steps:
        step()
        _assert_reads_like_merge_schema(spark, path)
    clone = str(tmp_path / "clone")
    V.shallow_clone(path, clone)
    _assert_reads_like_merge_schema(spark, clone)


def test_manifests_without_schema_still_read(spark, tmp_path):
    """A manifest written before snapshots recorded their schema reads
    by inferring it; so does every partial commit on top of one, until
    a full overwrite records a schema again."""
    import json

    path = str(tmp_path / "t")
    V.commit_snapshot(
        spark.range(40).selectExpr(
            "id AS product_id", "CAST(id AS DOUBLE) AS base_price", "CAST(1 AS LONG) AS version"
        ).repartitionByRange(4, "product_id"),
        path, stats_cols=("product_id",), bloom_col="product_id",
    )
    mpath = V._manifest_path(path, 1)
    with open(mpath) as fh:
        m = json.load(fh)
    del m["schema"]
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    assert _rows(V.read_version(spark, path)) == {k: (float(k), 1) for k in range(40)}
    assert [r.base_price for r in V.point_lookup(spark, path, "product_id", 7).collect()] == [7.0]
    evolved = "product_id long, base_price double, version long, currency string"
    V.merge_files(
        spark, path, spark.createDataFrame([(7, 70.0, 2, "EUR")], evolved),
        keys=["product_id"], order_col="version",
    )
    assert "schema" not in V.read_manifest(path, 2)
    got = {r.product_id: (r.base_price, r.currency) for r in V.read_version(spark, path).collect()}
    assert got[7] == (70.0, "EUR") and got[8] == (8.0, None) and len(got) == 40
    V.optimize(spark, path)
    assert "schema" in V.read_manifest(path, 3)
    _assert_reads_like_merge_schema(spark, path)


def test_sync_replica_applies_net_delta_exactly_once(spark, tmp_path):
    """Round-5 replica maintenance: bootstrap, then one refresh applies
    the NET of several source commits (merge + keyed delete); a re-run
    is a watermark no-op; the replica always equals the source head."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _bootstrap(spark, src, n=20, files=2)
    r1 = V.sync_replica(spark, src, dst, keys=["product_id"], order_col="version")
    assert r1["bootstrapped"]
    assert _rows(V.read_version(spark, dst)) == _rows(V.read_version(spark, src))

    # three source commits before the next refresh: update, insert, delete
    V.merge_files(
        spark, src, spark.createDataFrame([(0, 99.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    V.merge_files(
        spark, src, spark.createDataFrame([(100, 1.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    V.delete_where(spark, src, F.col("product_id") == 5)

    r2 = V.sync_replica(spark, src, dst, keys=["product_id"], order_col="version")
    assert not r2["bootstrapped"] and r2["applied_through"] == 4
    got = _rows(V.read_version(spark, dst))
    assert got == _rows(V.read_version(spark, src))
    assert got[0] == (99.0, 2) and got[100] == (1.0, 2) and 5 not in got

    # idempotent: nothing new → watermark no-op, version unchanged
    v_before = V.current_version(dst)
    r3 = V.sync_replica(spark, src, dst, keys=["product_id"], order_col="version")
    assert r3["applied_through"] == 4 and V.current_version(dst) == v_before

    # vacuumed-past-watermark → actionable error
    import pytest

    for step in (5, 6, 7):
        V.merge_files(
            spark, src, spark.createDataFrame([(1, float(step), step)], SCHEMA),
            keys=["product_id"], order_col="version",
        )
    V.vacuum(src, keep_last=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError, match="re-bootstrap"):
        V.sync_replica(spark, src, dst, keys=["product_id"], order_col="version")


def test_shallow_clone_zero_copy_then_cow_diverge(spark, tmp_path):
    """Round-5 CLONE: the clone's first snapshot references the
    source's files by absolute path (zero data copied); a merge into
    the clone rewrites only the touched shared file LOCALLY; the
    source is untouched; each table's vacuum stays in its own lane."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _bootstrap(spark, src, n=40, files=4)
    v = V.shallow_clone(src, dst)
    assert v == 1
    assert not os.path.isdir(os.path.join(dst, "data")) or not os.listdir(
        os.path.join(dst, "data")
    )  # zero data files copied
    assert _rows(V.read_version(spark, dst)) == _rows(V.read_version(spark, src))

    # write into the clone: COW rewrites one shared file locally
    res = V.merge_files(
        spark, dst, spark.createDataFrame([(0, 999.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    assert res["files_rewritten"] == 1 and res["files_skipped"] == 3
    got = _rows(V.read_version(spark, dst))
    assert got[0] == (999.0, 2) and got[39] == (39.0, 1) and len(got) == 40
    # source is untouched
    assert _rows(V.read_version(spark, src))[0] == (0.0, 1)
    # clone's v2 mixes local rewrites with still-shared absolute entries
    m2 = V.read_manifest(dst, 2)
    assert sum(1 for f in m2["files"] if os.path.isabs(f)) == 3
    assert sum(1 for f in m2["files"] if not os.path.isabs(f)) >= 1

    # a keyed delete through the shared entries also works
    V.delete_where(spark, dst, F.col("product_id") == 35)
    assert V.read_version(spark, dst).count() == 39

    # the clone's vacuum never reaches into the source's data dir
    src_files_before = set(os.listdir(os.path.join(src, "data")))
    res = V.vacuum(dst, keep_last=1, min_age_seconds=0)
    assert set(os.listdir(os.path.join(src, "data"))) == src_files_before
    assert V.read_version(spark, dst).count() == 39
    assert _rows(V.read_version(spark, src)) == {
        k: (float(k), 1) for k in range(40)
    }


def test_delete_matching_keyset_stays_distributed(spark, tmp_path):
    """Round-5 set-oriented DELETE: doomed keys arrive as a DataFrame
    (CDC deletes, GDPR lists) and are never inlined into a predicate —
    touched files via LEFT SEMI, survivors via LEFT ANTI, prior
    versions intact."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    doomed = spark.range(10).selectExpr("id * 4 AS product_id")  # 0,4,...,36
    res = V.delete_matching(spark, path, doomed, keys=["product_id"])
    assert res["files_rewritten"] == 4  # every range file holds a multiple of 4
    got = _rows(V.read_version(spark, path))
    assert len(got) == 30 and all(k % 4 != 0 for k in got)
    assert V.read_version(spark, path, 1).count() == 40

    import pytest

    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        V.delete_matching(spark, str(tmp_path / "none"), doomed, keys=["product_id"])


def test_optimize_small_files_carries_big_ones(spark, tmp_path):
    """Round-5 incremental OPTIMIZE: only sub-threshold files compact;
    adequately-sized files carry by name; contents identical; history
    intact."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=2000, files=1)  # one 'big' file
    # merge churn: 5 tiny files across 5 commits
    for step in range(2, 7):
        V.merge_files(
            spark, path,
            spark.createDataFrame([(10_000 + step, float(step), step)], SCHEMA),
            keys=["product_id"], order_col="version",
        )
    m_before = V.read_manifest(path, V.current_version(path))
    big = [f for f in m_before["files"] if f.startswith("v000001")]
    assert len(big) == 1 and len(m_before["files"]) == 6

    # threshold just under the bootstrap file's size: churn files (1
    # row each) fall below it, the bootstrap file stays above
    big_mb = os.path.getsize(V._entry_path(path, big[0])) / (1024 * 1024)
    res = V.optimize_small_files(spark, path, small_file_mb=big_mb * 0.9, target_file_mb=256)
    assert res["files_compacted"] >= 4  # the churn files (big one stays)
    m_after = V.read_manifest(path, res["version"])
    assert big[0] in m_after["files"], "the big file must carry by name"
    got = _rows(V.read_version(spark, path))
    assert len(got) == 2005 and got[10_003] == (3.0, 3)
    # small-file count actually dropped
    assert len(m_after["files"]) < len(m_before["files"])
    # idempotent-ish: nothing left to compact (everything either big or single)
    res2 = V.optimize_small_files(spark, path, small_file_mb=0.0001)
    assert res2["files_compacted"] == 0


def test_history_df_and_lineage_read(spark, tmp_path):
    """Round-5 audit surfaces: the commit log as a DataFrame (SQL over
    DESCRIBE HISTORY) and file-granular row lineage parsed from the
    immutable file-name version prefix."""
    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=10, files=2)
    V.merge_files(
        spark, path, spark.createDataFrame([(0, 99.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    h = {r.version: r.op for r in V.history_df(spark, path).collect()}
    assert h == {1: "bootstrap", 2: "merge"}
    V.history_df(spark, path).createOrReplaceTempView("tbl_history")
    assert spark.sql("SELECT count(*) AS n FROM tbl_history WHERE op = 'merge'").collect()[0].n == 1

    lin = {r.product_id: r._commit_version for r in
           V.read_version_with_lineage(spark, path).collect()}
    assert lin[0] == 2  # rewritten file
    # rows in the untouched range-file still show the bootstrap commit
    assert 1 in set(lin.values())
    assert all(v in (1, 2) for v in lin.values())


def _scattered(spark, n=400, files=8):
    # hash-scatter keys across files: every file's [min, max] spans
    # nearly the whole domain, so range pruning is USELESS — the
    # worst case the Bloom index exists for
    return (
        spark.range(n)
        .selectExpr(
            "id AS product_id",
            "CAST(id AS DOUBLE) AS base_price",
            "CAST(1 AS LONG) AS version",
        )
        .repartition(files, "product_id")
    )


def test_bloom_point_lookup_prunes_scattered_files(spark, tmp_path):
    path = str(tmp_path / "t")
    V.commit_snapshot(
        _scattered(spark), path, stats_cols=("product_id",), bloom_col="product_id"
    )
    plan = V.point_lookup_plan(spark, path, "product_id", 123)
    assert plan["files_total"] == 8
    # range pruning can't help (scattered keys) — the Bloom must do
    # the work: the key lives in exactly 1 file; allow 1 extra for an
    # unlucky false positive at these parameters (8192 bits / 50 keys)
    assert plan["pruned_by_range"] == 0
    assert len(plan["candidates"]) <= 2, plan
    got = V.point_lookup(spark, path, "product_id", 123).collect()
    assert [(r.product_id, r.base_price) for r in got] == [(123, 123.0)]


def test_bloom_absent_key_scans_nothing(spark, tmp_path):
    path = str(tmp_path / "t")
    V.commit_snapshot(
        _scattered(spark), path, stats_cols=("product_id",), bloom_col="product_id"
    )
    plan = V.point_lookup_plan(spark, path, "product_id", 10_000_019)
    # absent key: range pruning already kills it (10M > max); force the
    # bloom path with an in-range absent value by deleting the ranges
    assert len(plan["candidates"]) == 0
    m = V.read_manifest(path, 1)
    no_rng = {f: {k: v for k, v in st.items() if k == V._BLOOM_KEY}
              for f, st in m.get("file_stats", {}).items()}
    # simulate a store committed with bloom only (no min/max): rewrite
    # the plan inputs by querying with values interleaved mod-pattern
    # absent from the data
    plan2 = V.point_lookup_plan(spark, path, "product_id", [401, 555])
    assert len(plan2["candidates"]) <= 2  # bloom fps only
    assert V.point_lookup(spark, path, "product_id", [401, 555]).count() == 0
    assert no_rng  # blooms recorded for every file


def test_bloom_multi_value_lookup_and_append_carry(spark, tmp_path):
    path = str(tmp_path / "t")
    V.commit_snapshot(
        _scattered(spark), path, stats_cols=("product_id",), bloom_col="product_id"
    )
    extra = spark.createDataFrame(
        [(1000 + i, float(i), 2) for i in range(20)], SCHEMA
    ).repartition(2, "product_id")
    V.commit_append(extra, path, stats_cols=("product_id",), bloom_col="product_id")

    plan = V.point_lookup_plan(spark, path, "product_id", [7, 1003])
    assert plan["files_total"] == 10
    # v1 blooms carried by name into v2's manifest; each value admits
    # ~1 file (+ fp slack)
    assert len(plan["candidates"]) <= 4, plan
    got = V.point_lookup(spark, path, "product_id", [7, 1003])
    assert sorted(r.product_id for r in got.collect()) == [7, 1003]


def test_bloom_rides_sharded_manifests(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(V, "MANIFEST_SHARD_SIZE", 4)
    path = str(tmp_path / "t")
    V.commit_snapshot(
        _scattered(spark, n=200, files=12),
        path,
        stats_cols=("product_id",),
        bloom_col="product_id",
    )
    m = V.read_manifest(path, 1, materialize=False)
    assert "shards" in m  # 12 files > shard size 4
    plan = V.point_lookup_plan(spark, path, "product_id", 77)
    assert plan["files_total"] == 12
    assert len(plan["candidates"]) <= 2, plan
    got = V.point_lookup(spark, path, "product_id", 77).collect()
    assert [r.product_id for r in got] == [77]


import pytest as _pytest


def _branch_fixture(spark, tmp_path):
    src = str(tmp_path / "src")
    br = str(tmp_path / "br")
    _bootstrap(spark, src, n=40, files=4)
    V.shallow_clone(src, br)
    return src, br


def test_merge_branch_applies_net_delta(spark, tmp_path):
    src, br = _branch_fixture(spark, tmp_path)
    # branch: update key 3, insert 100, delete 7
    V.merge_files(
        spark, br,
        spark.createDataFrame([(3, 999.0, 2), (100, 100.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    V.delete_matching(
        spark, br, spark.createDataFrame([(7,)], "product_id long"), ["product_id"]
    )
    # source moves too, on DISJOINT keys — not a conflict
    V.merge_files(
        spark, src,
        spark.createDataFrame([(20, 555.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    out = V.merge_branch(spark, src, br, keys=["product_id"], order_col="version")
    assert out["merged"] and out["conflicts"] == 0
    rows = _rows(V.read_version(spark, src))
    assert rows[3] == (999.0, 2) and rows[100] == (100.0, 2) and rows[20] == (555.0, 2)
    assert 7 not in rows
    assert len(rows) == 40  # 40 - 1 delete + 1 insert


def test_merge_branch_conflict_detection_and_strategies(spark, tmp_path):
    src, br = _branch_fixture(spark, tmp_path)
    V.merge_files(
        spark, br, spark.createDataFrame([(5, 111.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    V.merge_files(
        spark, src, spark.createDataFrame([(5, 222.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    with _pytest.raises(V.BranchConflict):
        V.merge_branch(spark, src, br, keys=["product_id"], order_col="version")
    # 'ours': source's 222 survives
    out = V.merge_branch(
        spark, src, br, keys=["product_id"], order_col="version", strategy="ours"
    )
    assert out["conflicts"] == 1
    assert _rows(V.read_version(spark, src))[5] == (222.0, 2)
    # 'theirs' from a fresh branch: branch's value wins
    br2 = str(tmp_path / "br2")
    V.shallow_clone(src, br2)
    V.merge_files(
        spark, br2, spark.createDataFrame([(5, 333.0, 3)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    V.merge_files(
        spark, src, spark.createDataFrame([(5, 444.0, 3)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    V.merge_branch(
        spark, src, br2, keys=["product_id"], order_col="version", strategy="theirs"
    )
    assert _rows(V.read_version(spark, src))[5][0] == 333.0


def test_merge_branch_guards(spark, tmp_path):
    src, br = _branch_fixture(spark, tmp_path)
    # no branch commits → nothing to merge
    out = V.merge_branch(spark, src, br, keys=["product_id"], order_col="version")
    assert out == {"merged": False, "reason": "branch has no commits past the branch point"}
    # a non-clone table is not a branch
    other = str(tmp_path / "other")
    _bootstrap(spark, other, n=4, files=1)
    with _pytest.raises(ValueError, match="not a shallow-cloned branch"):
        V.merge_branch(spark, src, other, keys=["product_id"], order_col="version")


def test_bloom_mixed_params_never_false_negative(spark, tmp_path):
    """Files committed with DIFFERENT bloom (m, k) parameters must each
    be probed with positions computed for THEIR parameterization —
    probing a 2048-bit filter with 8192-bit positions would silently
    drop matching files (false negative = missing rows)."""
    path = str(tmp_path / "t")
    V.commit_snapshot(
        _scattered(spark, n=100, files=4),
        path,
        stats_cols=("product_id",),
        bloom_col="product_id",
        bloom_bits=8192,
        bloom_k=3,
    )
    extra = spark.createDataFrame(
        [(1000 + i, float(i), 2) for i in range(50)], SCHEMA
    ).repartition(2, "product_id")
    V.commit_append(
        extra, path,
        stats_cols=("product_id",),
        bloom_col="product_id",
        bloom_bits=2048,
        bloom_k=5,
    )
    ms = {(b["m"], b["k"])
          for st in V.read_manifest(path, 2).get("file_stats", {}).values()
          if (b := st.get(V._BLOOM_KEY))}
    assert ms == {(8192, 3), (2048, 5)}
    # one key from each parameterization generation
    got = V.point_lookup(spark, path, "product_id", [42, 1042])
    assert sorted(r.product_id for r in got.collect()) == [42, 1042]


def test_merge_branch_column_level_three_way(spark, tmp_path):
    """strategy='columns': a key changed on BOTH sides merges cleanly
    when the column sets are disjoint (branch's price + source's
    version counter both land); the same column changed on both sides
    raises."""
    src, br = _branch_fixture(spark, tmp_path)
    # branch changes key 5's PRICE (and its version, an ignore_col)
    V.merge_files(
        spark, br, spark.createDataFrame([(5, 500.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    # source changes key 5's VERSION only (price keeps base value 5.0)
    V.merge_files(
        spark, src, spark.createDataFrame([(5, 5.0, 3)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    out = V.merge_branch(
        spark, src, br, keys=["product_id"], order_col="version",
        strategy="columns", ignore_cols=("version",),
    )
    assert out["conflicts"] == 1
    rows = _rows(V.read_version(spark, src))
    # branch's price wins (branch changed it), version merges branch-
    # wins among ignore_cols (branch moved it 1 -> 2; source 1 -> 3;
    # branch changed => branch value 2... but merge keep-latest needs
    # the row to win: branch value 2 loses to source's 3 on order_col,
    # so the columns path merges on the PRE-merge value and the final
    # row must carry the merged price regardless
    assert rows[5][0] == 500.0

    # same-column clash: both sides move key 7's price
    src2, br2 = _branch_fixture(spark, tmp_path.joinpath("x2"))
    V.merge_files(
        spark, br2, spark.createDataFrame([(7, 700.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    V.merge_files(
        spark, src2, spark.createDataFrame([(7, 777.0, 2)], SCHEMA),
        keys=["product_id"], order_col="version",
    )
    with _pytest.raises(V.BranchConflict, match="column-level conflict"):
        V.merge_branch(
            spark, src2, br2, keys=["product_id"], order_col="version",
            strategy="columns", ignore_cols=("version",),
        )


def test_mor_delete_records_vectors_without_rewrites(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    files_v1 = set(V.read_manifest(path, 1)["files"])

    out = V.delete_where_mor(spark, path, F.col("product_id") % 10 == 3)
    assert out["files_rewritten"] == 0
    assert out["dv_rows_added"] == 4  # 3, 13, 23, 33
    m2 = V.read_manifest(path, 2)
    # every data file carried by name; the only new artifact is the sidecar
    assert set(m2["files"]) == files_v1
    assert len(m2["delete_files"]) == out["dv_files_added"] == 1
    assert V.read_version(spark, path).count() == 36
    assert sorted(
        r.product_id for r in V.read_version(spark, path).collect()
    ) == [i for i in range(40) if i % 10 != 3]
    # time travel to v1 ignores the later vector
    assert V.read_version(spark, path, 1).count() == 40


def test_snapshot_txn_overwrite_clears_parent_vectors(spark, tmp_path):
    """A txn-stamped full snapshot replaces every parent file, so the
    parent's deletion vectors (which name those files) must not carry
    into it: the next merge would refuse the table as blocked by
    pending merge-on-read deletes."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    V.delete_where_mor(spark, path, F.col("product_id") % 10 == 3)
    fresh = spark.createDataFrame([(k, float(k), 1) for k in range(10)], SCHEMA)
    v = V.commit_snapshot_txn(fresh, path, "rollup", 7)
    assert "delete_files" not in V.read_manifest(path, v)
    assert V.last_txn_version(path, "rollup") == 7
    batch = spark.createDataFrame([(3, 30.0, 2), (50, 5.0, 2)], SCHEMA)
    V.merge_files(spark, path, batch, keys=["product_id"], order_col="version")
    got = _rows(V.read_version(spark, path))
    assert len(got) == 11 and got[3] == (30.0, 2) and got[50] == (5.0, 2)


def test_mor_deletes_stack_and_exclude_prior_positions(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    V.delete_where_mor(spark, path, F.col("product_id") < 10)
    # overlaps the first delete on 0..9; only 10..19 are NEW positions
    out = V.delete_where_mor(spark, path, F.col("product_id") < 20)
    assert out["dv_rows_added"] == 10
    assert V.read_version(spark, path).count() == 20
    # a fully-shadowed delete adds no vector file at all
    out3 = V.delete_where_mor(spark, path, F.col("product_id") < 5)
    assert out3["dv_rows_added"] == 0 and out3["dv_files_added"] == 0
    assert V.read_version(spark, path).count() == 20


def test_mor_key_range_hint_skips_unmatched_files(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)  # range-clustered: 10 keys/file
    out = V.delete_where_mor(
        spark, path, (F.col("product_id") >= 35) & (F.col("product_id") <= 37),
        key_range=("product_id", 35, 37),
    )
    assert out["dv_rows_added"] == 3
    # 3 of 4 files provably out of range — never opened for the match scan
    assert V.history(path)[-1]["stats"]["files_skipped"] == 3


def test_mor_apply_deletes_materializes_and_unblocks(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    V.delete_where_mor(spark, path, F.col("product_id") % 4 == 1)
    before = sorted(r.product_id for r in V.read_version(spark, path).collect())

    # raw-file ops are blocked while vectors are pending
    batch = spark.createDataFrame([(0, 9.0, 9)], SCHEMA)
    with pytest.raises(RuntimeError, match="apply_deletes"):
        V.merge_files(spark, path, batch, keys=["product_id"], order_col="version")
    with pytest.raises(RuntimeError, match="apply_deletes"):
        V.delete_where(spark, path, F.col("product_id") == 0)
    with pytest.raises(RuntimeError, match="apply_deletes"):
        V.shallow_clone(path, str(tmp_path / "clone"))

    out = V.apply_deletes(spark, path)
    # only the files that actually carry deleted positions are rewritten
    assert out["files_rewritten"] == 4 and out["dv_files_applied"] == 1
    after = sorted(r.product_id for r in V.read_version(spark, path).collect())
    assert after == before
    assert "delete_files" not in V.read_manifest(path, V.current_version(path))
    # unblocked: merge works again, CDC between compacted versions works
    V.merge_files(spark, path, batch, keys=["product_id"], order_col="version")
    assert V.read_version(spark, path).filter(F.col("version") == 9).count() == 1


def test_mor_append_keeps_vectors_valid_and_vacuum_retains_sidecars(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    V.delete_where_mor(spark, path, F.col("product_id") < 4)
    # blind append never touches existing files, so vectors stay valid
    V.commit_append(
        spark.createDataFrame([(200, 1.0, 2), (201, 2.0, 2)], SCHEMA), path
    )
    assert V.read_version(spark, path).count() == 38
    dv_names = V.read_manifest(path, 3, materialize=False)["delete_files"]
    assert dv_names  # inherited by the append commit
    # vacuum with the MoR head retained must keep the sidecars
    V.vacuum(path, keep_last=1, min_age_seconds=0)
    assert V.read_version(spark, path).count() == 38
    # after compaction the sidecars become unreferenced and are reclaimed
    V.apply_deletes(spark, path)
    V.vacuum(path, keep_last=1, min_age_seconds=0)
    data_dir = os.path.join(path, "data")
    assert not [f for f in os.listdir(data_dir) if f.startswith("dv-")]
    assert V.read_version(spark, path).count() == 38


def test_mor_rollback_restores_vector_state(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    V.delete_where_mor(spark, path, F.col("product_id") < 10)   # v2: 30 rows
    V.apply_deletes(spark, path)                                # v3: compacted
    V.rollback(path, 2)                                         # v4 == v2
    assert V.read_version(spark, path).count() == 30
    assert V.read_manifest(path, 4, materialize=False)["delete_files"]
    # point lookup applies pending vectors too
    assert V.point_lookup(spark, path, "product_id", [3]).count() == 0
    assert V.point_lookup(spark, path, "product_id", [13]).count() == 1


def test_mor_cdc_emits_vector_deletes_without_compaction(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    V.delete_where_mor(spark, path, F.col("product_id") % 10 == 7)  # v2
    feed = V.changes_between(spark, path, ["product_id"], 1, 2).collect()
    assert {r.change_type for r in feed} == {"delete"}
    assert sorted(r.product_id for r in feed) == [7, 17, 27, 37]
    # second stacked vector: the incremental feed v2->v3 holds ONLY the
    # new positions, not a replay of the first vector's
    V.delete_where_mor(spark, path, F.col("product_id") < 10)        # v3
    feed2 = V.changes_between(spark, path, ["product_id"], 2, 3).collect()
    assert sorted(r.product_id for r in feed2) == [0, 1, 2, 3, 4, 5, 6, 8, 9]
    assert {r.change_type for r in feed2} == {"delete"}
    # and the span 1->3 is the union
    span = V.changes_between(spark, path, ["product_id"], 1, 3).collect()
    assert len(span) == 13 and {r.change_type for r in span} == {"delete"}


def test_mor_cdc_rollback_undelete_appears_as_insert(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=40, files=4)
    V.delete_where_mor(spark, path, F.col("product_id") < 5)  # v2
    V.rollback(path, 1)                                       # v3: undeletes 0..4
    feed = V.changes_between(spark, path, ["product_id"], 2, 3).collect()
    assert sorted(r.product_id for r in feed) == [0, 1, 2, 3, 4]
    assert {r.change_type for r in feed} == {"insert"}


def test_mor_cdc_with_values_and_mixed_commits(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    _bootstrap(spark, path, n=20, files=2)
    V.delete_where_mor(spark, path, F.col("product_id") == 3)  # v2 (DV)
    # v3: blind append rides on top of the pending vector
    V.commit_append(spark.createDataFrame([(100, 1.0, 3)], SCHEMA), path)
    feed = V.changes_between(
        spark, path, ["product_id"], 1, 3, with_values=True
    ).collect()
    by_key = {r.product_id: r for r in feed}
    assert by_key[3].change_type == "delete" and by_key[3].old_base_price == 3.0
    assert by_key[100].change_type == "insert" and by_key[100].new_base_price == 1.0
    assert len(feed) == 2


def test_mor_replica_sync_flows_vector_deletes(spark, tmp_path):
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _bootstrap(spark, src, n=30, files=3)
    V.sync_replica(spark, src, dst, keys=["product_id"], order_col="version")
    assert V.read_version(spark, dst).count() == 30
    V.delete_where_mor(spark, src, F.col("product_id") % 3 == 0)
    out = V.sync_replica(spark, src, dst, keys=["product_id"], order_col="version")
    assert out["applied_through"] == V.current_version(src)
    assert sorted(r.product_id for r in V.read_version(spark, dst).collect()) == [
        i for i in range(30) if i % 3 != 0
    ]


def test_mor_delete_flows_through_incremental_rollup(spark, tmp_path):
    from pyspark.sql import functions as F

    base = str(tmp_path / "base")
    rollup = str(tmp_path / "rollup")
    boot = spark.range(12).selectExpr(
        "id AS product_id", "id % 3 AS grp", "CAST(id AS DOUBLE) AS base_price",
        "CAST(1 AS LONG) AS version",
    ).repartitionByRange(2, "product_id")
    V.commit_snapshot(boot, base, stats_cols=("product_id",))
    V.refresh_rollup(
        spark, base, rollup, keys=["product_id"],
        group_cols=("grp",), sum_cols=("base_price",),
    )
    # a merge-on-read delete is just another base commit to the rollup
    V.delete_where_mor(spark, base, F.col("product_id").isin(1, 4, 7))
    out = V.refresh_rollup(
        spark, base, rollup, keys=["product_id"],
        group_cols=("grp",), sum_cols=("base_price",),
    )
    assert out["base_versions_applied"] == [2]
    got = {
        (r.grp,): (r.n_rows, r.base_price)
        for r in V.read_version(spark, rollup).collect()
    }
    want = {
        (r.grp,): (r.n_rows, r.base_price)
        for r in V.read_version(spark, base)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("base_price").alias("base_price"))
        .collect()
    }
    assert got == want


def test_random_op_sequences_with_mor_match_dict_model(spark, tmp_path):
    """Model-based check extended with merge-on-read ops: randomized
    mor-delete / apply / merge / rollback sequences must leave the
    store equal to a dict replaying the same ops. merge is only legal
    after pending vectors are applied (the guard), so the generator
    applies first — exactly what a real writer must do."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20260814)
    for case in range(3):
        path = str(tmp_path / f"m{case}")
        model: dict[int, float] = {k: float(k) for k in range(12)}
        snapshots = {}
        _bootstrap(spark, path, n=12, files=2)
        snapshots[1] = dict(model)
        step = 1
        for _ in range(6):
            op = rng.choice(["mor", "apply_then_merge", "rollback", "mor"])
            if op == "mor":
                doom = rng.randrange(4)
                V.delete_where_mor(spark, path, F.col("product_id") % 4 == doom)
                model = {k: v for k, v in model.items() if k % 4 != doom}
                step += 1
            elif op == "apply_then_merge":
                had_dvs = bool(
                    V.read_manifest(path, step, materialize=False).get("delete_files")
                )
                out = V.apply_deletes(spark, path)
                if had_dvs:
                    step += 1
                assert out["version"] == step
                batch = {
                    rng.randrange(20): float(round(rng.uniform(1, 9), 2))
                    for _ in range(rng.randint(1, 4))
                }
                V.merge_files(
                    spark, path,
                    spark.createDataFrame(
                        [(k, v, step + 1) for k, v in batch.items()], SCHEMA
                    ),
                    keys=["product_id"], order_col="version",
                )
                model.update(batch)
                step += 1
            else:
                target = rng.choice(sorted(snapshots))
                V.rollback(path, to_version=target)
                model = dict(snapshots[target])
                step += 1
            snapshots[step] = dict(model)
            assert V.current_version(path) == step
            got = {
                r.product_id: r.base_price
                for r in V.read_version(spark, path).collect()
            }
            assert got == model, f"case {case} step {step} diverged"


def _rename_fixture(spark, tmp_path, name="t"):
    tbl = str(tmp_path / name)
    df = spark.createDataFrame(
        [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)], "k long, val double, version long"
    )
    V.commit_snapshot(df.repartition(2, "k"), tbl, op="bootstrap", stats_cols=("k",))
    return tbl


def test_rename_column_is_metadata_only_and_versioned(spark, tmp_path):
    """Rename carries every file forward untouched; head reads the new
    name, v1 time travel keeps the old one; renaming to an existing
    name or from a missing one raises."""
    tbl = _rename_fixture(spark, tmp_path)
    files_v1 = set(V.read_manifest(tbl, 1)["files"])
    V.rename_column(spark, tbl, "val", "price")
    assert set(V.read_manifest(tbl, 2)["files"]) == files_v1
    head = V.read_version(spark, tbl)
    assert "price" in head.columns and "val" not in head.columns
    assert {r.k: r.price for r in head.collect()} == {1: 10.0, 2: 20.0, 3: 30.0}
    assert "val" in V.read_version(spark, tbl, 1).columns

    import pytest

    with pytest.raises(ValueError, match="does not exist"):
        V.rename_column(spark, tbl, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        V.rename_column(spark, tbl, "k", "price")


def test_rename_then_merge_coalesces_generations(spark, tmp_path):
    """After a rename, a MERGE writes new-named files; the head scan
    spans both physical generations and must surface ONE logical
    column with the right values — including a renamed KEY column."""
    tbl = _rename_fixture(spark, tmp_path)
    V.rename_column(spark, tbl, "val", "price")
    V.merge_files(
        spark,
        tbl,
        spark.createDataFrame([(2, 99.0, 2), (4, 40.0, 2)], "k long, price double, version long"),
        keys=["k"],
        order_col="version",
    )
    head = {r.k: r.price for r in V.read_version(spark, tbl).collect()}
    assert head == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}

    # rename the KEY column; a further merge must still match rows
    # stored under the old physical key name
    V.rename_column(spark, tbl, "k", "id")
    V.merge_files(
        spark,
        tbl,
        spark.createDataFrame([(1, 11.0, 3)], "id long, price double, version long"),
        keys=["id"],
        order_col="version",
    )
    head2 = {r.id: r.price for r in V.read_version(spark, tbl).collect()}
    assert head2 == {1: 11.0, 2: 99.0, 3: 30.0, 4: 40.0}


def test_rename_interacts_with_delete_rollback_cdc_and_clone(spark, tmp_path):
    """delete_where predicates use the logical name across old files;
    rollback restores the pre-rename logical schema; CDC of a pure
    rename commit is empty; a shallow clone inherits the rename."""
    from pyspark.sql import functions as F

    tbl = _rename_fixture(spark, tmp_path)
    V.rename_column(spark, tbl, "val", "price")           # v2
    V.delete_where(spark, tbl, F.col("price") > 25.0)      # v3: deletes k=3
    assert {r.k for r in V.read_version(spark, tbl).collect()} == {1, 2}

    # CDC: the pure-rename commit moved no rows
    assert V.changes_between(spark, tbl, ["k"], 1, 2).count() == 0
    # CDC across the rename speaks the TO side's logical schema
    ch = V.changes_between(spark, tbl, ["k"], 1, 3, with_values=True).collect()
    assert {(r.k, r.change_type) for r in ch} == {(3, "delete")}
    assert ch[0].old_price == 30.0

    clone = str(tmp_path / "clone")
    V.shallow_clone(tbl, clone)
    assert "price" in V.read_version(spark, clone).columns

    V.rollback(tbl, 1)                                     # v4 = v1 restored
    restored = V.read_version(spark, tbl)
    assert "val" in restored.columns and "price" not in restored.columns
    assert {r.k for r in restored.collect()} == {1, 2, 3}


def test_rename_with_mor_delete_and_point_lookup(spark, tmp_path):
    """MoR delete predicates resolve the logical name over old files;
    point_lookup through a renamed Bloom column still prunes and
    returns the right rows."""
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "mor")
    df = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(1, 9)], "k long, val double"
    )
    V.commit_snapshot(
        df.repartition(4, "k"), tbl, stats_cols=("k",), bloom_col="k"
    )
    V.rename_column(spark, tbl, "val", "price")
    V.rename_column(spark, tbl, "k", "id")
    out = V.delete_where_mor(spark, tbl, F.col("price") >= 70.0)
    assert out["dv_rows_added"] == 2
    assert {r.id for r in V.read_version(spark, tbl).collect()} == {1, 2, 3, 4, 5, 6}

    rows = V.point_lookup(spark, tbl, "id", [2, 5, 7]).collect()
    assert {r.id for r in rows} == {2, 5}  # 7 is MoR-deleted


def test_drop_column_lifecycle_and_caveats(spark, tmp_path):
    """Drop is metadata-only and versioned; rollback restores the
    column; dropping a missing column raises; stats for the dropped
    column vanish from the carried manifest."""
    import pytest

    tbl = str(tmp_path / "drop")
    df = spark.createDataFrame(
        [(1, 10.0, "a", 1), (2, 20.0, "b", 1)],
        "k long, val double, note string, version long",
    )
    V.commit_snapshot(df.repartition(2, "k"), tbl, stats_cols=("k", "note"))
    V.drop_column(spark, tbl, "note")
    head = V.read_version(spark, tbl)
    assert "note" not in head.columns
    assert {r.k: r.val for r in head.collect()} == {1: 10.0, 2: 20.0}
    assert "note" in V.read_version(spark, tbl, 1).columns

    # dropped column's stats are gone from the carried manifest
    for st in V.read_manifest(tbl, 2)["file_stats"].values():
        assert "note" not in st

    # merge after the drop works on the remaining columns
    V.merge_files(
        spark, tbl,
        spark.createDataFrame([(2, 99.0, 2)], "k long, val double, version long"),
        keys=["k"], order_col="version",
    )
    assert {r.k: r.val for r in V.read_version(spark, tbl).collect()} == {1: 10.0, 2: 99.0}

    V.rollback(tbl, 1)
    assert "note" in V.read_version(spark, tbl).columns

    with pytest.raises(ValueError, match="does not exist"):
        V.drop_column(spark, tbl, "ghost")


def test_random_op_sequences_with_renames_match_dict_model(spark, tmp_path):
    """Model-based check for the rename overlay: randomized
    merge / rename / delete / rollback sequences must leave the store
    equal to a dict model replaying the same ops — merges always speak
    the CURRENT logical name (pre-rename files keep old physical
    names underneath), deletes predicate on the key across mixed
    generations, and rollback restores both data AND the logical
    schema of the target snapshot."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20260815)
    for case in range(2):
        path = str(tmp_path / f"r{case}")
        model = {k: float(k * 10) for k in range(10)}
        name = "val"
        counter = 0
        df = spark.createDataFrame(
            [(k, v, 1) for k, v in model.items()], "k long, val double, version long"
        )
        V.commit_snapshot(df.repartition(2, "k"), path, op="bootstrap", stats_cols=("k",))
        step = 1
        snapshots = {1: (dict(model), name)}
        for _ in range(6):
            op = rng.choice(["merge", "rename", "delete", "rollback", "merge"])
            if op == "merge":
                batch = {
                    rng.randrange(15): float(round(rng.uniform(1, 9), 2))
                    for _ in range(rng.randint(1, 3))
                }
                V.merge_files(
                    spark, path,
                    spark.createDataFrame(
                        [(k, v, step + 1) for k, v in batch.items()],
                        f"k long, {name} double, version long",
                    ),
                    keys=["k"], order_col="version",
                )
                model.update(batch)
            elif op == "rename":
                counter += 1
                new = f"val{counter}"
                V.rename_column(spark, path, name, new)
                name = new
            elif op == "delete":
                doom = rng.randrange(3)
                V.delete_where(spark, path, F.col("k") % 3 == doom)
                model = {k: v for k, v in model.items() if k % 3 != doom}
            else:
                target = rng.choice(sorted(snapshots))
                V.rollback(path, target)
                model, name = dict(snapshots[target][0]), snapshots[target][1]
            step += 1
            snapshots[step] = (dict(model), name)
            assert V.current_version(path) == step
            head = V.read_version(spark, path)
            assert name in head.columns, f"case {case} step {step}: {head.columns}"
            got = {r["k"]: r[name] for r in head.collect()}
            assert got == model, f"case {case} step {step} diverged"


def test_txn_catalog_cross_table_atomicity(spark, tmp_path):
    """Catalog readers always see a consistent (fact, rollup) pair:
    member commits without a catalog publish are invisible; catalog
    time travel resolves BOTH tables at the pinned txn; concurrent
    catalog publishes conflict instead of silently interleaving."""
    import pytest

    root = str(tmp_path / "cat")
    fact, roll = str(tmp_path / "cat/f"), str(tmp_path / "cat/r")
    df1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    r1 = spark.createDataFrame([(2, 30.0)], "n long, total double")
    V.txn_commit_tables(spark, root, {fact: df1, roll: r1}, op="t1")

    df2 = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double")
    r2 = spark.createDataFrame([(3, 60.0)], "n long, total double")
    V.txn_commit_tables(spark, root, {fact: df2, roll: r2}, op="t2")

    # torn member commit: fact advances, catalog does not
    V.commit_snapshot(df1.limit(1), fact, op="orphan")
    assert V.read_table_at(spark, root, fact).count() == 3
    assert V.read_table_at(spark, root, roll).collect()[0].n == 3

    # catalog time travel: txn 1's pair, both sides
    assert V.read_table_at(spark, root, fact, version=1).count() == 2
    assert V.read_table_at(spark, root, roll, version=1).collect()[0].n == 2

    # direct (non-catalog) readers still see the orphan head — the
    # catalog is the consistency contract, not a data rewrite
    assert V.read_version(spark, fact).count() == 1

    # concurrent catalog publish during phase 1: the loser's CAS base
    # (expect_catalog_version, captured before its writes) collides
    # with the winner's manifest instead of silently re-basing
    import json, os
    base = V.catalog_version(root)
    d = V._catalog_dir(root)
    with open(os.path.join(d, f"v{base + 1:06d}.json"), "w") as fh:
        json.dump({"version": base + 1, "tables": {}}, fh)
    with pytest.raises(V.CommitConflict):
        V.txn_commit_tables(
            spark, root, {fact: df1}, op="t3", expect_catalog_version=base
        )


_REWRITES = (
    "merge",
    "merge_sharded",
    "delete_where",
    "delete_matching",
    "apply_deletes",
    "optimize_small_files",
    "optimize",
)


@pytest.mark.parametrize("bloom", [True, False], ids=["bloom", "plain"])
@pytest.mark.parametrize("op", _REWRITES)
def test_rewrite_contract(spark, tmp_path, monkeypatch, op, bloom):
    """Every copy-on-write rewrite keeps one contract on a store whose
    key column was renamed (k -> key), so rows live under both physical
    names, with or without a Bloom index: rows equal a dict model,
    every new file carries exact range stats for the logical key and no
    Bloom entry, every carried file keeps its stats entry by name, and
    ``point_lookup`` finds surviving keys and never deleted ones."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    if op == "merge_sharded":
        monkeypatch.setattr(V, "MANIFEST_SHARD_SIZE", 4)
    path = str(tmp_path / "t")
    cols = ("id AS k", "CAST(id AS DOUBLE) AS val", "CAST(1 AS LONG) AS version")
    # four 10-key range files plus one 2,000-key file (the big file
    # optimize_small_files must carry)
    V.commit_snapshot(
        spark.range(40).selectExpr(*cols).repartitionByRange(4, "k")
        .unionByName(spark.range(1000, 3000).selectExpr(*cols).coalesce(1)),
        path,
        stats_cols=("k",),
        bloom_col="k" if bloom else None,
    )
    V.rename_column(spark, path, "k", "key")
    schema = "key long, val double, version long"
    V.merge_files(
        spark, path, spark.createDataFrame([(40, 40.0, 2)], schema),
        keys=["key"], order_col="version",
    )
    model = {k: (float(k), 1) for k in [*range(40), *range(1000, 3000)]}
    model[40] = (40.0, 2)
    parent = V.read_manifest(path, V.current_version(path))
    if op == "merge_sharded":
        assert "shards" in V.read_manifest(path, V.current_version(path), materialize=False)

    doomed = [3, 40]  # one pre-rename file, one post-rename file
    if op.startswith("merge"):
        batch = [(3, 300.0, 3), (40, 400.0, 3), (50, 50.0, 3)]
        res = V.merge_files(
            spark, path, spark.createDataFrame(batch, schema),
            keys=["key"], order_col="version",
        )
        model.update({k: (v, ver) for k, v, ver in batch})
        if op == "merge_sharded":
            assert res["shards_pruned"] >= 1, res
    elif op == "delete_where":
        V.delete_where(spark, path, F.col("key").isin(doomed))
    elif op == "delete_matching":
        keys_df = spark.createDataFrame([(k,) for k in doomed], "key long")
        V.delete_matching(spark, path, keys_df, keys=["key"])
    elif op == "apply_deletes":
        V.delete_where_mor(spark, path, F.col("key").isin(doomed))
        V.apply_deletes(spark, path)
    elif op == "optimize_small_files":
        big = max(os.path.getsize(V._entry_path(path, f)) for f in parent["files"])
        res = V.optimize_small_files(spark, path, small_file_mb=big * 0.9 / 2**20)
        assert res["files_kept"] == 1, res
    else:
        V.optimize(spark, path)
    if op.startswith("delete") or op == "apply_deletes":
        for k in doomed:
            del model[k]

    got = V.read_version(spark, path).collect()
    assert {r.key: (r.val, r.version) for r in got} == model

    head = V.read_manifest(path, V.current_version(path))
    new_files = set(head["files"]) - set(parent["files"])
    assert new_files
    for f in new_files:
        st = head["file_stats"][f]
        keys = pq.read_table(V._entry_path(path, f), columns=["key"]).column(0).to_pylist()
        assert st["key"] == ([min(keys), max(keys)] if keys else [None, None]), f
        assert V._BLOOM_KEY not in st
    for f in set(head["files"]) & set(parent["files"]):
        assert head["file_stats"][f] == parent["file_stats"][f], f

    for k in (3, 4, 40, 1500, 60):
        rows = V.point_lookup(spark, path, "key", k).collect()
        expect = [(k, *model[k])] if k in model else []
        assert [(r.key, r.val, r.version) for r in rows] == expect, k


def test_sharded_rename_and_rollback_key_stats_by_logical_name(spark, tmp_path, monkeypatch):
    """On a sharded manifest a rename writes new shards holding the
    re-keyed stats, and a rollback across it restores the target's own
    shards: each version's stats carry that version's logical names, so
    shard pruning and rewrites keep working on either side."""
    monkeypatch.setattr(V, "MANIFEST_SHARD_SIZE", 4)
    path = str(tmp_path / "t")
    V.commit_snapshot(
        spark.range(40)
        .selectExpr("id AS k", "CAST(id AS DOUBLE) AS val", "CAST(1 AS LONG) AS version")
        .repartitionByRange(8, "k"),
        path,
        stats_cols=("k",),
    )
    V.rename_column(spark, path, "k", "key")
    assert all(set(st) == {"key"} for st in V.read_manifest(path, 2)["file_stats"].values())
    V.rollback(path, 1)
    assert V.read_manifest(path, 3)["file_stats"] == V.read_manifest(path, 1)["file_stats"]
    res = V.merge_files(
        spark, path, spark.createDataFrame([(3, 30.0, 2)], "k long, val double, version long"),
        keys=["k"], order_col="version",
    )
    assert res["shards_pruned"] == 1, res
    got = {r.k: r.val for r in V.read_version(spark, path).collect()}
    assert got == {**{k: float(k) for k in range(40)}, 3: 30.0}


@pytest.mark.parametrize("error", [pa.ArrowInvalid, TypeError], ids=["ArrowInvalid", "TypeError"])
def test_footer_stats_fall_back_only_on_unreadable_footers(spark, tmp_path, monkeypatch, error):
    """Commit stats come from parquet footers; a footer pyarrow cannot
    read falls back to the Spark stats job with the same stats, and any
    other error propagates instead of being swallowed."""
    import pyarrow.parquet as pq

    df = (
        spark.range(40)
        .selectExpr("id AS product_id", "CAST(id AS STRING) AS sku")
        .repartitionByRange(4, "product_id")
    )

    def stats(name):
        path = str(tmp_path / name)
        V.commit_snapshot(df, path, stats_cols=("product_id", "sku"))
        return sorted(V.read_manifest(path, 1)["file_stats"].values(), key=str)

    from_footers = stats("footers")
    assert len(from_footers) == 4

    def unreadable(*args, **kwargs):
        raise error("unreadable footer")

    monkeypatch.setattr(pq, "ParquetFile", unreadable)
    if error is TypeError:
        with pytest.raises(TypeError, match="unreadable footer"):
            stats("bug")
    else:
        assert stats("fallback") == from_footers


# --- footer-served file stats and merge_branch's emptiness probe ---


def _mk_df(spark):
    rows = [
        (1, "alpha", datetime.date(2020, 1, 2), 1.5),
        (2, "Beta", datetime.date(2019, 6, 1), -2.25),
        (3, None, datetime.date(2021, 12, 31), 0.0),
        (4, "zz top", datetime.date(2020, 1, 1), 9.75),
    ]
    return spark.createDataFrame(rows, "k long, s string, d date, x double")

def test_footer_stats_match_spark_job_values(spark, tmp_path):
    """Per-file min/max served from parquet footers must equal the
    scan-and-aggregate job's values exactly — for every type the
    footer fast path accepts (int, string, date)."""
    tbl = str(tmp_path / "t1")
    df = _mk_df(spark).repartition(2, "k")
    V.commit_snapshot(df, tbl, stats_cols=("k", "s", "d"))
    manifest = V.read_manifest(tbl, 1)
    fstats = manifest["file_stats"]
    assert fstats, "stats missing from manifest"
    # recompute the old way: one Spark agg per file over the data files
    for fname, per_col in fstats.items():
        scan = spark.read.parquet(f"{tbl}/data/{fname}")
        row = scan.agg(
            F.min("k"), F.max("k"), F.min("s"), F.max("s"), F.min("d"), F.max("d")
        ).collect()[0]
        # the manifest JSON stringifies non-JSON types (default=str) in
        # BOTH the footer and the Spark-job path — compare post-JSON
        # representations, which is what every manifest reader sees
        assert per_col["k"] == [row[0], row[1]]
        assert per_col["s"] == [row[2], row[3]]
        assert per_col["d"] == [str(row[4]), str(row[5])]

def test_footer_stats_fall_back_for_inexact_types(spark, tmp_path):
    """Doubles (NaN hazard) are NOT served from footers — the Spark
    stats job must still run and produce correct values, so pruning
    behavior is unchanged for them."""
    assert V._stats_from_footers("/nonexistent", ["nope.parquet"], ("x",)) is None
    tbl = str(tmp_path / "t2")
    df = _mk_df(spark).coalesce(1)
    V.commit_snapshot(df, tbl, stats_cols=("x",))
    fstats = V.read_manifest(tbl, 1)["file_stats"]
    (per_col,) = fstats.values()
    assert per_col["x"] == [-2.25, 9.75]

def test_footer_stats_all_null_column(spark, tmp_path):
    """A file whose stats column is entirely NULL must record
    [None, None], exactly like the Spark-job path did."""
    tbl = str(tmp_path / "t3")
    df = spark.createDataFrame([(1, None), (2, None)], "k long, s string").coalesce(1)
    V.commit_snapshot(df, tbl, stats_cols=("s",))
    (per_col,) = V.read_manifest(tbl, 1)["file_stats"].values()
    assert per_col["s"] == [None, None]


PRICE_SCHEMA = "product_id long, price double, version long"

def _tagged_branch_fixture(spark, tmp_path, tag):
    src = str(tmp_path / f"src-{tag}")
    br = str(tmp_path / f"br-{tag}")
    base = spark.createDataFrame(
        [(i, float(i), 1) for i in range(10)], PRICE_SCHEMA
    ).coalesce(1)
    V.commit_snapshot(base, src, op="bootstrap", stats_cols=("product_id",))
    V.shallow_clone(src, br)
    return src, br

def test_merge_branch_delete_only_branch(spark, tmp_path):
    """n_up == 0 path of the folded probe: a branch holding ONLY a
    delete must skip the merge commit and still apply the delete."""
    src, br = _tagged_branch_fixture(spark, tmp_path, "delonly")
    V.delete_matching(
        spark, br, spark.createDataFrame([(3,)], "product_id long"), ["product_id"]
    )
    out = V.merge_branch(spark, src, br, keys=["product_id"], order_col="version")
    assert out["merged"]
    keys = {r[0] for r in V.read_version(spark, src).select("product_id").collect()}
    assert keys == set(range(10)) - {3}
    # exactly one commit on top of the bootstrap: the delete, no merge
    assert V.current_version(src) == 2

def test_merge_branch_upsert_only_branch(spark, tmp_path):
    """n_del == 0 path: an upsert-only branch must skip the delete
    commit."""
    src, br = _tagged_branch_fixture(spark, tmp_path, "uponly")
    V.merge_files(
        spark, br,
        spark.createDataFrame([(3, 99.0, 2), (42, 42.0, 2)], PRICE_SCHEMA),
        keys=["product_id"], order_col="version",
    )
    out = V.merge_branch(spark, src, br, keys=["product_id"], order_col="version")
    assert out["merged"]
    rows = {
        r["product_id"]: r["price"]
        for r in V.read_version(spark, src).collect()
    }
    assert rows[3] == 99.0 and rows[42] == 42.0 and len(rows) == 11
    assert V.current_version(src) == 2


def test_merge_branch_columns_no_spurious_empty_commit(spark, tmp_path):
    """ADVICE r12: under strategy='columns', a branch-upserted key that
    the SOURCE deleted drops out of the rebuilt upserts frame (inner
    join with the source head), so the bdelta-based probe alone would
    commit a spurious EMPTY merge version. The probe must detect the
    empty frame and skip the commit."""
    from pim_etl_spark.pipeline import versioned as V

    schema = "product_id long, price double, version long"
    src = str(tmp_path / "src")
    br = str(tmp_path / "br")
    base = spark.createDataFrame([(i, float(i), 1) for i in range(5)], schema).coalesce(1)
    V.commit_snapshot(base, src, op="bootstrap", stats_cols=("product_id",))
    V.shallow_clone(src, br)
    # branch updates key 3's price; source DELETES key 3 → conflict
    V.merge_files(
        spark,
        br,
        spark.createDataFrame([(3, 300.0, 2)], schema),
        keys=["product_id"],
        order_col="version",
    )
    V.delete_matching(
        spark, src, spark.createDataFrame([(3,)], "product_id long"), ["product_id"]
    )
    v_before = V.current_version(src)
    out = V.merge_branch(
        spark, src, br, keys=["product_id"], order_col="version", strategy="columns"
    )
    assert out["merged"]
    assert out["conflicts"] == 1
    # no spurious empty merge version: the branch's only upsert was
    # dropped by the source-side delete, so nothing new commits
    assert V.current_version(src) == v_before
    keys = {r[0] for r in V.read_version(spark, src).select("product_id").collect()}
    assert keys == {0, 1, 2, 4}

def test_footer_stats_reject_long_string_bounds(spark, tmp_path):
    """A stats column whose min/max is a >=60-byte string must NOT be
    served from footers (truncation cannot be ruled out without
    exactness flags) — the commit falls back to the Spark stats job and
    the manifest still carries the exact values."""
    from pim_etl_spark.pipeline import versioned as V

    long_a = "a" * 80
    long_b = "b" * 80
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(1, long_a), (2, long_b), (3, "mid")], "k long, s string")
    V.commit_snapshot(df.coalesce(1), tbl, stats_cols=("s",))
    fstats = V.read_manifest(tbl, 1)["file_stats"]
    (per_col,) = fstats.values()
    # exact values regardless of which path produced them
    assert per_col["s"] == [long_a, "mid"]
    # and the footer path itself must refuse to serve this file
    data_dir = f"{tbl}/data"
    import os as _os

    files = [f for f in _os.listdir(data_dir) if f.endswith(".parquet")]
    assert V._stats_from_footers(data_dir, files, ("s",)) is None
    # short strings keep the fast path
    tbl2 = str(tmp_path / "t2")
    V.commit_snapshot(
        spark.createDataFrame([(1, "aa"), (2, "zz")], "k long, s string").coalesce(1),
        tbl2,
        stats_cols=("s",),
    )
    files2 = [f for f in _os.listdir(f"{tbl2}/data") if f.endswith(".parquet")]
    got = V._stats_from_footers(f"{tbl2}/data", files2, ("s",))
    assert got is not None
    (pc2,) = got.values()
    assert pc2["s"] == ["aa", "zz"]
