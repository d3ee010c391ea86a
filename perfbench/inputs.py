"""Seeded inputs for the benchmark workloads.

The engine only ever sees landed files: parquet feeds under
``<feeds>/<supplier>/<feed>.parquet`` for the PIM syncs, and one parquet
file per table under ``<sf_dir>/<table>.parquet`` for the catalog mix.
Everything here is a pure function of ``(seed, size)``, so the same seed
lands byte-for-byte the same rows.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from pim_etl_spark.pipeline import fixtures

# Master codes are ``PR<1000 + m>``; renaming a code by plain substring
# replacement is only safe while every code has the same width.
MAX_MASTERS = 9000


def product_id(master_code: str) -> str:
    """Gold key of a MidOcean master (``functions.synth_product_id``)."""
    return f"midocean_{master_code}"


def land_midocean(feed_rows: dict[str, list], feeds_dir: str) -> None:
    d = os.path.join(feeds_dir, "midocean")
    os.makedirs(d, exist_ok=True)
    for name, rows in feed_rows.items():
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(fixtures.FEED_SCHEMAS[name]))
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))


def land_base(feeds_dir: str, n_masters: int, seed: int) -> int:
    """Land a MidOcean feed of ``n_masters`` masters; the seed shuffles
    every feed's row order (the transform must not depend on it).
    Returns the number of products gold should hold."""
    if n_masters > MAX_MASTERS:
        raise ValueError(f"n_masters must be <= {MAX_MASTERS}")
    rng = random.Random(seed)
    rows = fixtures.build_feed_rows(n_masters)
    for feed in rows.values():
        rng.shuffle(feed)
    land_midocean(rows, feeds_dir)
    return n_masters


def _eu(x: float) -> str:
    return f"{x:.2f}".replace(".", ",")


class DeltaSource:
    """Seeded stream of MidOcean deltas against a base of ``n_masters``.

    Each delta holds ``n_changed`` existing masters whose every SKU gets
    one new list price, and ``n_new`` masters that gold has never seen
    (copies of random base masters under fresh codes). ``expected``
    maps each delta master's product id to the base price gold must
    return (``None`` for new masters, which need only be present).
    """

    def __init__(self, n_masters: int, seed: int) -> None:
        if n_masters > MAX_MASTERS:
            raise ValueError(f"n_masters must be <= {MAX_MASTERS}")
        self.n_masters = n_masters
        self.base = fixtures.build_feed_rows(n_masters)
        self.rng = random.Random(seed)
        self.n_added = 0

    def land(self, feeds_dir: str, n_changed: int, n_new: int) -> dict[str, float | None]:
        base = self.base
        changed = self.rng.sample(range(self.n_masters), n_changed)
        products, pricelist, printdata, stock = [], [], [], []
        expected: dict[str, float | None] = {}
        for m in changed:
            code = f"PR{1000 + m}"
            product = base["mo_products"][m]
            price = round(self.rng.uniform(1.0, 99.0), 2)
            products.append(product)
            for v in product["variants"]:
                pricelist.append(
                    {"sku": v["sku"], "variant_id": v["variant_id"], "price": _eu(price),
                     "valid_until": "2026-01-31", "currency": "GBP"}
                )
            expected[product_id(code)] = price
        skus = {v["sku"] for p in products for v in p["variants"]}
        codes = {p["master_code"] for p in products}
        stock += [r for r in base["mo_stock"] if r["sku"] in skus]
        printdata += [r for r in base["mo_printdata"] if r["master_code"] in codes]
        for _ in range(n_new):
            m = self.rng.randrange(self.n_masters)
            old = f"PR{1000 + m}"
            new = f"PN{1000 + self.n_added}"
            self.n_added += 1
            product = base["mo_products"][m]
            old_skus = {v["sku"] for v in product["variants"]}

            def renamed(row: dict) -> dict:
                return json.loads(json.dumps(row).replace(old, new))

            products.append(renamed(product))
            pricelist += [renamed(r) for r in base["mo_pricelist"] if r["sku"] in old_skus]
            stock += [renamed(r) for r in base["mo_stock"] if r["sku"] in old_skus]
            printdata += [renamed(r) for r in base["mo_printdata"] if r["master_code"] == old]
            expected[product_id(new)] = None
        land_midocean(
            {
                "mo_products": products,
                "mo_pricelist": pricelist,
                "mo_printdata": printdata,
                "mo_printprices": base["mo_printprices"],
                "mo_stock": stock,
            },
            feeds_dir,
        )
        return expected


# --- catalog tables ---------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ETYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
EMB_DIM = 64


def write_tables(sf_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write the catalog's ten tables at ``scale`` (1.0 = the row counts
    of a TPC-H sf0.001 star schema plus events, documents and
    embeddings), one parquet file per table. Shapes follow the catalog's
    test data: same domains, same key fan-outs, and 5% of documents are
    near-copies of an earlier document (one token dropped, ``dup``
    appended), which the dedup and LSH entries look for.
    Returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150 * scale), max(5, int(10 * scale)), int(200 * scale)
    n_orders, n_events = int(1500 * scale), int(1000 * scale)
    n_users = max(5, int(15 * scale))
    n_docs, n_emb = int(500 * scale), int(500 * scale)

    def pick(values, n):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def ts(start: str, span_s: int, n: int, sort: bool = False):
        micros = rng.integers(0, span_s * 1_000_000, n)
        if sort:
            micros = np.sort(micros)
        return np.datetime64(start, "us") + micros.astype("timedelta64[us]")

    int32 = np.int32
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=int32), "r_name": list(REGIONS)},
        "nation": {
            "n_nationkey": np.arange(25, dtype=int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(int32),
            "c_acctbal": money(-1000, 10000, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(int32),
            "s_acctbal": money(0, 10000, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part),
            "p_name": [f"{a} {b}" for a, b in zip(pick(ADJ, n_part), pick(NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10,
        },
    }
    odate = ts("1995-01-01", 2400 * 86400, n_orders).astype("datetime64[D]").astype("datetime64[us]")
    tables["orders"] = {
        "o_orderkey": np.arange(n_orders),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": pick(("O", "P", "F"), n_orders),
        "o_totalprice": money(1000, 500000, n_orders),
        "o_orderdate": odate,
        "o_orderpriority": pick(PRIORITIES, n_orders),
    }
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines)
    n_li = len(l_order)
    tables["lineitem"] = {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": pick(("A", "N", "R"), n_li),
        "l_linestatus": pick(("O", "F"), n_li),
        "l_shipdate": odate[l_order] + rng.integers(1, 96, n_li).astype("timedelta64[D]"),
    }
    tables["events"] = {
        "event_id": np.arange(n_events),
        "ts": ts("2024-01-01", 30 * 86400, n_events, sort=True),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": pick(ETYPES, n_events),
        "value": money(0, 560, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }
    words: list[list[str]] = []
    for i in range(n_docs):
        if i >= 20 and i % 20 == 11:
            base = list(words[int(rng.integers(0, i))])
            del base[int(rng.integers(0, len(base)))]
            words.append(base + ["dup"])
        else:
            words.append(list(pick(VOCAB, int(rng.integers(10, 101)))))
    texts = [" ".join(w) for w in words]
    tables["documents"] = {
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": pick(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts]),
    }
    half = 0.5774  # components uniform in +-1/sqrt(3), unit expected norm
    emb = rng.uniform(-half, half, (n_emb, EMB_DIM)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_emb).astype(int32),
    }
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
