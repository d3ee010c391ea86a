"""Smoke test of the driver contract."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"s_name", "o_orderstatus", "revenue", "n_items"} == set(df.columns)


def test_queries_and_oracles_align(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "catalog is empty"
    assert set(oracles).issubset(set(qs))


def test_catalog_entries_clear_cache_on_start(spark, sf_dir):
    """Every catalog callable is wrapped by catalog._entry_scoped:
    invoking an entry clears leftover Spark caches from the previous
    entry, so a 300+-entry driver/bench run cannot accumulate executor
    storage (round-6 ADVICE) and no entry's timing can lean on a
    sibling's caches."""
    from pyspark import StorageLevel

    from pim_etl_spark.catalog import get_queries

    leftover = spark.range(100).cache()
    leftover.count()
    assert leftover.storageLevel != StorageLevel.NONE
    qs = get_queries()
    qs["bench_control"](spark, sf_dir).collect()
    # assert on THIS frame's storage, not a global zero: sibling tests
    # in the shared session may hold localCheckpoint RDD blocks, which
    # clearCache deliberately does not touch
    assert leftover.storageLevel == StorageLevel.NONE


def test_catalog_order_derives_from_correctness_artifacts(tmp_path, monkeypatch):
    """The catalog order comes from the CORRECTNESS_r*.json artifacts
    alone: never-sampled and latest-red entries first, then greens
    stalest round first, ties in registration order, metadata keys
    ignored, and every catalog entry exactly once."""
    import json

    from pim_etl_spark import catalog as C

    C.load_catalog()
    names = list(C.QUERIES)
    # against the committed artifacts: every entry has been sampled
    missing = sorted(set(names) - set(C._last_sampled_rounds()))
    assert not missing, f"catalog entries in no CORRECTNESS artifact: {missing}"

    a, b, c, d, red, later_red = names[:6]

    def rec(green=True, err=None):
        return {"rows_match": True, "schema_match": True, "hash_match": green, "err": err}

    artifacts = {
        # a metadata key (even one named like an entry) is not a sample
        1: {"driver": {"round": 1}, red: rec(), d: "note", c: rec()},
        9: {b: rec(green=None, err="no_oracle"), red: rec(green=False), later_red: rec()},
        # registration order is a, b, c, d: the file lists them reversed
        10: {d: rec(), a: rec(), later_red: rec(green=None, err="timeout")},
    }
    # unpadded names: "r10" sorts before "r9" as text, not as a round
    for rnd, data in artifacts.items():
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(data))
    monkeypatch.setattr(C, "_ARTIFACT_ROOT", str(tmp_path))

    order = C._proof_order(names)
    assert sorted(order) == sorted(names) and len(order) == len(names)
    assert "driver" not in order
    unproven = [n for n in names if n not in (a, b, c, d)]
    assert order == unproven + [c, b, a, d]
    assert list(C.get_queries()) == order
    assert list(C.get_oracles()) == [n for n in order if n in C.ORACLES]
