"""The benchmark's workloads.

Each workload drives the engine only through its public functions
(``orchestrator.run_sync`` / ``run_status``, the ``pipeline.versioned``
reads, the callables of ``catalog.get_queries()``) from one client in a
closed loop: the next operation starts when the previous one returns.

The runner calls, in this order: ``setup(i)``, which lands inputs and
bootstraps stores into fresh directories (called several times; the
last set-up is the one used); ``warmup()``, which runs untimed
operations and returns their correctness errors; then per operation
``prepare()`` (its inputs, untimed), ``op(p)`` (timed), ``check(p, out)``
(its correctness errors, untimed) and ``release(p)``. Measuring stops
at the first ``pass_done()`` after the deadline; ``op_s(times, parts)``
turns the measured operations into the workload's ``op_s``, the time
of one pass of ``ops_per_pass`` operations.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback

from perfbench import inputs

# Catalog entries of the mix: one per bottleneck class, each cheap
# enough that a warm pass takes a few seconds at the mix's table size.
# Left out for run time: the ER label loop (er_matched_pairs and
# er_golden_record), the LSH family, stream_er_admission, the change-feed
# and exactly-once streams, and applyInPandasWithState; the versioned
# reads are pim_delta's.
MIX_ENTRIES = (
    "exact_dedup_docs",  # LLM-data prep: content-hash dedup
    "basket_pair_affinity",  # shuffle
    "q5_local_supplier_revenue",  # scan, join and aggregate
    "catalog_stats_by_supplier",  # PIM transform
    "scd2_priority_history",  # SCD2 history and profiling, which slowed
    "table_profile_summary",  # in the last catalog run without code changes
    "stream_hourly_event_counts",  # streaming: windowed aggregation
)


def _log_failure(what: str) -> str:
    print(f"perfbench: FAILED {what}", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)
    return f"{what}: {traceback.format_exc(limit=1).strip().splitlines()[-1]}"


def layer_of(fn) -> str:
    """The engine package a catalog callable lives in (``operators``,
    ``llm_ops`` or ``streaming`` for the mix's entries)."""
    return fn.__module__.split(".")[1]


class PimDelta:
    """Set-up syncs a landed base into an empty plain gold with the
    CLI-default ``run_sync`` and bootstraps a versioned store from it.
    Each operation upserts a ~1 % delta (half re-priced masters, half
    new ones) into the versioned gold, then reads it back: ``run_status``
    plus a point lookup of the delta's products."""

    name = "pim_delta"
    ops_per_pass = 1
    # AQE coalesces a shuffle into partitions of at least 1 MiB, so a
    # 50k-product gold lands as 5-6 data files. The base here is 1/50 of
    # that; scaling the floor by 1/50 too gives the store the same file
    # layout, which is what the merge's rewrite and skip counts act on.
    session_conf = {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "20k"}

    def __init__(self, spark, root: str, seed: int, tracer, n_masters: int) -> None:
        self.spark, self.root, self.seed, self.tracer = spark, root, seed, tracer
        self.n_masters = n_masters
        per_op = max(2, n_masters // 100)
        self.n_changed, self.n_new = per_op - per_op // 2, per_op // 2
        self.n_ops = 0

    def setup(self, i: int) -> None:
        from pim_etl_spark import orchestrator
        from pim_etl_spark.pipeline import versioned as V

        feeds = os.path.join(self.root, f"base{i}")
        self.base = self.total = inputs.land_base(feeds, self.n_masters, self.seed)
        plain = os.path.join(self.root, f"plain{i}")
        loaded = orchestrator.run_sync(self.spark, feeds, plain)["products_in_gold"]
        if loaded != self.base:
            raise RuntimeError(f"plain gold holds {loaded} products, {self.base} landed")
        self.store = os.path.join(self.root, f"store{i}")
        V.merge_files(
            self.spark, self.store, self.spark.read.parquet(plain),
            keys=["product_id"], order_col="last_sync",
        )
        self.base_files = len(V.snapshot_files(self.store))
        self.source = inputs.DeltaSource(self.n_masters, self.seed)

    def sizes(self) -> dict:
        return {
            "masters": self.n_masters,
            "base_products": self.base,
            "base_files": self.base_files,
            "delta_changed": self.n_changed,
            "delta_new": self.n_new,
        }

    def prepare(self) -> dict:
        self.n_ops += 1
        feeds = os.path.join(self.root, f"delta{self.n_ops}")
        expected = self.source.land(feeds, self.n_changed, self.n_new)
        self.total += self.n_new
        landed = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(feeds) for f in fs
        )
        return {"feeds": feeds, "expected": expected, "total": self.total, "bytes": landed}

    def op(self, p: dict) -> dict:
        from pim_etl_spark import orchestrator
        from pim_etl_spark.pipeline import versioned as V

        self.tracer.annotate(rows_in=len(p["expected"]), bytes_in=p["bytes"])
        t0 = time.perf_counter()
        with self.tracer.span("orchestrator.sync"):
            sync = orchestrator.run_sync(self.spark, p["feeds"], self.store, versioned=True)
        t1 = time.perf_counter()
        with self.tracer.span("orchestrator.status"):
            status = orchestrator.run_status(self.spark, self.store)
        with self.tracer.span("versioned.read"):
            found = V.point_lookup(
                self.spark, self.store, "product_id", sorted(p["expected"])
            ).select("product_id", "base_price").collect()
        t2 = time.perf_counter()
        return {
            "sync": sync, "status": status,
            "found": {r["product_id"]: r["base_price"] for r in found},
            "parts": {"delta_sync_s": t1 - t0, "catalog_read_s": t2 - t1},
        }

    def check(self, p: dict, out: dict) -> list[str]:
        errors = []
        for pid, price in p["expected"].items():
            if pid not in out["found"]:
                errors.append(f"{pid} missing from gold")
            elif price is not None and not math.isclose(out["found"][pid] or 0.0, price):
                errors.append(f"{pid}: base_price {out['found'][pid]} != delta price {price}")
        for what, got in (
            ("sync", out["sync"]["products_in_gold"]),
            ("status", out["status"]["total_products"]),
        ):
            if got != p["total"]:
                errors.append(f"{what}: {got} products, expected {p['total']}")
        return errors

    def warmup(self) -> list[str]:
        p = self.prepare()
        errors = self.check(p, self.op(p))
        self.release(p)
        return errors

    def release(self, p: dict) -> None:
        shutil.rmtree(p["feeds"])

    def pass_done(self) -> bool:
        return True

    def op_s(self, times: list[float], parts: dict[str, list[float]]) -> float:
        return statistics.median(times)

    def details(self) -> dict:
        return {}


class CatalogMix:
    """Catalog entries one at a time, each run cold (the catalog clears
    the cache when an entry starts) into a noop sink, cycling through
    ``MIX_ENTRIES`` in a new seed-permuted order per pass. The warm-up
    collects every entry once and compares it with its DuckDB oracle
    twin, then makes one noop pass. ``op_s`` is the wall time of one
    pass: the sum over entries of each entry's median time."""

    name = "catalog_mix"
    session_conf: dict = {}
    ops_per_pass = len(MIX_ENTRIES)

    def __init__(self, spark, root: str, seed: int, tracer, scale: float) -> None:
        self.spark, self.root, self.seed, self.tracer = spark, root, seed, tracer
        self.scale = scale
        self.rng = random.Random(seed)
        self.queue: list[str] = []

    def setup(self, i: int) -> None:
        from pim_etl_spark.catalog import get_oracles, get_queries

        self.sf_dir = os.path.join(self.root, f"tables{i}")
        self.rows = inputs.write_tables(self.sf_dir, self.scale, self.seed)
        queries = get_queries()
        self.entries = {n: queries[n] for n in MIX_ENTRIES}
        self.oracles = get_oracles()

    def sizes(self) -> dict:
        return {"scale": self.scale, "rows": self.rows, "entries": list(MIX_ENTRIES)}

    def _order(self) -> list[str]:
        order = list(MIX_ENTRIES)
        self.rng.shuffle(order)
        return order

    def prepare(self) -> str:
        if not self.queue:
            self.queue = self._order()
        return self.queue.pop()

    def _run(self, name: str, collect: bool):
        fn = self.entries[name]
        layer = layer_of(fn)
        with self.tracer.span(f"{layer}.call", entry=name):
            df = fn(self.spark, self.sf_dir)
        with self.tracer.span(f"{layer}.exec", entry=name):
            if collect:
                return df.toPandas()
            df.write.mode("overwrite").format("noop").save()
        return None

    def op(self, name: str) -> dict:
        t0 = time.perf_counter()
        self._run(name, collect=False)
        return {"parts": {name: time.perf_counter() - t0}}

    def check(self, name: str, out: dict) -> list[str]:
        return []  # checked against the oracles in the warm-up

    def warmup(self) -> list[str]:
        import duckdb

        from perfbench.oracle import compare

        con = duckdb.connect()
        for t in self.rows:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        errors = []
        for name in self._order():
            try:
                got = self._run(name, collect=True)
            except Exception:
                errors.append(_log_failure(name))
                continue
            if name in self.oracles:
                want = con.execute(self.oracles[name]).fetchdf()
                errors += [f"{name}: {e}" for e in compare(got, want)]
        con.close()
        # measured entries write to a noop sink; one such pass more lets
        # the JIT settle on that path (a first one runs ~15 % slow)
        for name in self._order():
            try:
                self._run(name, collect=False)
            except Exception:
                errors.append(_log_failure(name))
        return errors

    def release(self, name: str) -> None:
        pass

    def pass_done(self) -> bool:
        return not self.queue

    def op_s(self, times: list[float], parts: dict[str, list[float]]) -> float:
        # an entry that always raised has no times; its failures are
        # counted and make the run incorrect
        return sum(statistics.median(parts[n]) for n in MIX_ENTRIES if n in parts)

    def details(self) -> dict:
        return {"oracle_checked": sorted(n for n in MIX_ENTRIES if n in self.oracles)}


WORKLOADS = {w.name: w for w in (PimDelta, CatalogMix)}

# (full, tiny) size per workload: masters for the syncs, table scale for
# the mix; tiny is what the smoke tests run
SIZES = {"pim_delta": (1000, 40), "catalog_mix": (1.0, 0.2)}
