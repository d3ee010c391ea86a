"""Query catalog — the driver-checked operator inventory.

Every operator from SURVEY.md §2 registers here as a named query
(``(spark, sf_dir) -> DataFrame``) with, where SQL-expressible, a
DuckDB oracle SQL string over the same parquet tables. The driver's
correctness harness runs both sides at sf0.01 and compares row count +
schema + order-insensitive value hash; ``tests/test_oracle_parity.py``
runs the identical check locally at sf0.001.

Conventions (SURVEY.md §7.4):
- every computed column is aliased identically in Spark and SQL;
- outputs are flat (no structs/maps) unless the driver can hash them;
- arrays in outputs are deterministically sorted;
- no current-date/time dependence — fixed literals only.

Order: ``get_queries()`` and ``get_oracles()`` list entries
stalest-proof-first, computed from the committed driver artifacts
(``CORRECTNESS_r*.json``) alone. An entry's sort key is the round of
its latest sample if that sample was green (``hash_match`` true, or
``err == "no_oracle"`` — the rows-only check), else 0; never-sampled
entries also get 0. The sort is stable over registration order. The
driver proves a fixed-size prefix per round, so never-proven and red
entries come first and each round then refreshes the oldest proofs.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_OPERATOR_MODULES = (
    "pim_etl_spark.operators.relational",
    "pim_etl_spark.operators.windows",
    "pim_etl_spark.operators.nested",
    "pim_etl_spark.operators.scalar",
    "pim_etl_spark.operators.advanced",
    "pim_etl_spark.operators.tpch",
    "pim_etl_spark.operators.tpch2",
    "pim_etl_spark.operators.tpch3",
    "pim_etl_spark.operators.graph",
    "pim_etl_spark.operators.analytics",
    "pim_etl_spark.operators.strings_dates",
    "pim_etl_spark.operators.pim_queries",
    "pim_etl_spark.operators.warehouse",
    "pim_etl_spark.operators.entity_resolution",
    "pim_etl_spark.llm_ops.dedup",
    "pim_etl_spark.llm_ops.corpus",
    "pim_etl_spark.llm_ops.similarity",
    "pim_etl_spark.llm_ops.text",
    "pim_etl_spark.llm_ops.multimodal",
    "pim_etl_spark.llm_ops.membership",
    "pim_etl_spark.llm_ops.modeling",
    "pim_etl_spark.streaming.queries",
    "pim_etl_spark.pipeline.versioned",
    "pim_etl_spark.pipeline.expectations",
)

_loaded = False


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a catalog query; ``oracle`` is the DuckDB-SQL twin.

    Queries without an oracle get the driver's weaker rows-only check
    (reserved for genuinely non-SQL-expressible operators).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate catalog query {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


def load_catalog() -> None:
    """Import every operator module (side effect: registration)."""
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _loaded = True


_ARTIFACT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_last_sampled_cache: tuple[tuple[tuple[str, float], ...], dict[str, int]] | None = None


def _last_sampled_rounds() -> dict[str, int]:
    """entry -> its sort key (module docstring): the latest driver
    round that sampled it if that sample was green, else 0, parsed
    from the committed CORRECTNESS_r*.json artifacts under
    ``_ARTIFACT_ROOT``. Every sampled entry is a key. Unreadable
    artifacts are skipped.

    The cache is keyed on the artifact file list + mtimes: a process
    that writes a new artifact and recomputes ordering sees fresh data.
    Only keys whose value looks like an entry sample record (a dict
    carrying the driver's compare fields) count — a top-level metadata
    key in an artifact is ignored rather than misread as an entry."""
    global _last_sampled_cache
    paths = sorted(glob.glob(os.path.join(_ARTIFACT_ROOT, "CORRECTNESS_r*.json")))
    key = tuple((p, os.path.getmtime(p)) for p in paths if os.path.exists(p))
    if _last_sampled_cache is not None and _last_sampled_cache[0] == key:
        return _last_sampled_cache[1]
    out: dict[str, int] = {}
    # oldest round first, so each entry ends at its latest sample
    by_round = sorted(
        (int(m.group(1)), path)
        for path in paths
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", path))
    )
    for rnd, path in by_round:
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, rec in data.items():
            if not isinstance(rec, dict) or "rows_match" not in rec:
                continue  # metadata key, not an entry sample record
            green = rec.get("hash_match") is True or rec.get("err") == "no_oracle"
            out[name] = rnd if green else 0
    _last_sampled_cache = (key, out)
    return out


def _proof_order(names) -> list[str]:
    """``names`` stalest-proof-first; never-sampled entries sort as 0.
    The sort is stable, so ties keep registration order."""
    rounds = _last_sampled_rounds()
    return sorted(names, key=lambda n: rounds.get(n, 0))


def _entry_scoped(fn: QueryFn) -> QueryFn:
    """Clear the Spark cache when a catalog entry STARTS: per-entry
    caches (ER norm frames, closure/label loops) must not accumulate
    executor storage across a 300+-entry driver run (round-6 ADVICE).
    Clearing at start — never at return — keeps the entry's own
    internal multi-action reuse intact, and the returned DataFrame's
    caches stay live for the caller's collect. All cross-entry
    artifacts (IVF/PQ/text indexes, PIM fixtures, versioned stores)
    are parquet on disk, so this is semantics-free."""

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.catalog.clearCache()
        return fn(spark, sf_dir)

    return wrapped


def get_queries() -> dict[str, QueryFn]:
    load_catalog()
    return {n: _entry_scoped(QUERIES[n]) for n in _proof_order(QUERIES)}


def get_oracles() -> dict[str, str]:
    load_catalog()
    return {n: ORACLES[n] for n in _proof_order(ORACLES)}
