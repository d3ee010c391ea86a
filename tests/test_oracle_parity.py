"""Local replica of the driver's correctness gate: run every catalog
query on Spark and its oracle SQL on DuckDB over the same parquet
tables, compare row count + column names + order-insensitive values.

The comparison goes through pandas on BOTH sides (``toPandas`` /
``fetchdf``) because that is what the driver's canonicalizer does —
round-1 lesson: a repr()-based normalizer masked two whole failure
classes that only show up in pandas-land:
- DuckDB ``sum(BIGINT)`` returns HUGEINT → float64 dtype, rendering
  ``123.0`` where Spark's int64 renders ``123`` (hash mismatch);
- raw list/ndarray cells crash ``DataFrame.sort_values`` entirely.
So this harness asserts per-column pandas dtype *kinds* match and that
no cell is a list/array, in addition to the value comparison.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pytest

from pim_etl_spark.catalog import get_oracles, get_queries

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 and float repr jitter
        return f"{v + 0.0:.9g}"
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    return sorted(out)


QUERY_NAMES = sorted(get_queries().keys())


def _assert_driver_hashable(pdf, side, name):
    """The driver's canonicalizer sort_values+factorizes every column:
    list/ndarray cells crash it (round-1: collect_sorted_event_types)."""
    for c in pdf.columns:
        bad = pdf[c].map(lambda v: isinstance(v, (list, np.ndarray))).any()
        assert not bad, (
            f"{name}: {side} column {c!r} holds raw list/array cells — "
            "serialize with array_join/array_to_string (catalog.py convention)"
        )


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    fn = get_queries()[name]
    assert_matches_oracle(name, fn(spark, sf_dir).toPandas(), sf_dir)


def assert_matches_oracle(name, spark_pdf, sf_dir):
    """The driver's gate for one entry's collected result: its DuckDB
    oracle at ``sf_dir`` (when it has one) has the same columns, row
    count, pandas dtype kinds and order-insensitive values. Also used
    by scripts/parity_rehearsal.py under a naive session."""
    oracles = get_oracles()
    spark_cols = list(spark_pdf.columns)

    _assert_driver_hashable(spark_pdf, "spark", name)

    if name not in oracles:
        # rows-only check, mirroring the driver's weaker gate
        assert len(spark_pdf) >= 0
        return

    con = _duck(sf_dir)
    duck_pdf = con.execute(oracles[name]).fetchdf()
    duck_cols = list(duck_pdf.columns)

    _assert_driver_hashable(duck_pdf, "oracle", name)

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )

    # dtype KINDS must agree per column: the driver hashes values as
    # pandas renders them, so int64 123 vs HUGEINT-float64 123.0 is a
    # gate failure even when the values are numerically identical.
    s_kinds = {c: spark_pdf[c].dtype.kind for c in spark_cols}
    d_kinds = {c: duck_pdf[c].dtype.kind for c in duck_cols}
    kind_diff = {
        c: (s_kinds[c], d_kinds[c]) for c in s_kinds if s_kinds[c] != d_kinds[c]
    }
    assert not kind_diff, (
        f"{name}: pandas dtype-kind mismatch (spark, oracle): {kind_diff} — "
        "likely a DuckDB HUGEINT sum; wrap the oracle agg in CAST(... AS BIGINT)"
    )

    s_norm = _normalize(
        [tuple(r) for r in spark_pdf.itertuples(index=False)], spark_cols
    )
    d_norm = _normalize(
        [tuple(r) for r in duck_pdf.itertuples(index=False)], duck_cols
    )
    mismatches = [(a, b) for a, b in zip(s_norm, d_norm) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:5]}"
