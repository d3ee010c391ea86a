#!/usr/bin/env python
"""Full driver-gate rehearsal (verify skill §4, mechanized): every
catalog entry vs its DuckDB oracle at sf0.01 under a NAIVE
SparkSession — plain builder, none of session.get_spark's configs —
because that is exactly how the round driver runs the gate. Runs the
entries through bench.run_entries with a sink that collects each
result and applies the comparison of tests/test_oracle_parity.py
(pandas-side dtype-kind + order-insensitive value compare, the
driver's canonicalizer shape).

Usage: python scripts/parity_rehearsal.py [--sf-dir /root/testdata/sf0.01]
Prints one line per entry and a final summary; exit 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--entries", default=None, help="comma list; default all")
    ap.add_argument(
        "--driver-mem",
        default=None,
        help="driver heap override (e.g. 8g). The driver's gate runs naive "
        "(1g default) at sf0.01 where that suffices; sf0.1 sweeps need this "
        "— the round-11 sweep's ER collects OOM'd the 1g naive JVM",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import bench
    from test_oracle_parity import assert_matches_oracle

    builder = SparkSession.builder.master("local[32]")
    if args.driver_mem:
        builder = builder.config("spark.driver.memory", args.driver_mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    names = bench.entry_names(args.entries)

    def compare(name: str, df) -> None:
        pdf = df.toPandas()
        assert_matches_oracle(name, pdf, args.sf_dir)
        print(f"OK {name}: {len(pdf)} rows")

    t_start = time.time()
    # a mismatch is an entry failure: bench.run_entries prints it as
    # `FAILED <name>: ...` and records it
    results = bench.run_entries(spark, names, 1, args.sf_dir, sink=compare)
    failures = [n for n, r in results.items() if r["error"]]
    dt = time.time() - t_start
    print(
        f"SUMMARY: {len(names) - len(failures)}/{len(names)} green in {dt:.0f}s"
        + (f"; FAILURES: {failures}" if failures else "; all oracle-matched, zero MISMATCH")
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
