#!/usr/bin/env python
"""Bounded-memory gate for the heaviest catalog entries (round-11
VERDICT item 5): run each under a PINNED-SMALL JVM heap at sf0.1 and
assert completion.

Why this proves something: the round-11 sf0.1 parity rehearsal OOM'd
a default 1 g-driver JVM — but in the HARNESS's compare step
(toPandas materialization of full result sets), not in the engine.
This probe separates the two: entries execute into a noop sink (no
driver materialization beyond Spark's own scheduler state), so a pass
under a small pinned heap demonstrates (a) no engine-side data-sized
collect/broadcast hides in any plan, and (b) the shuffle/agg/join
paths spill to disk rather than OOM when executor memory is tight —
exactly the discipline a 100 TB run needs, where per-task memory is
always scarcer than data.

In local[32] mode driver and executors share ONE JVM, so
spark.driver.memory IS the whole engine heap: 32 concurrent tasks'
execution memory + block manager + scheduler all inside the pinned
budget. 1 g across 32 threads leaves ~20–30 MB of execution memory
per task slot — tighter, relative to the sf0.1 partitions, than a
production 4–8 GB executor core facing 128 MB splits.

Runs as ONE pinned subprocess by default (the entries execute
sequentially inside it, one run each through bench.run_entries);
`--heap` dials the pin.

Usage:
    python scripts/bounded_memory_probe.py [--heap 1g] [--entries a,b]
                                           [--sf-dir /root/testdata/sf0.1]
Exit 0 = every entry completed under the pin; 1 = something failed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

# the 10 heaviest entries by the committed bench artifact (see
# bench_last.json / SCALE.md): the full ER family, the two heaviest
# versioned lifecycles, the streaming admission pipeline, and the
# incremental rollup — every shape with real shuffle/state volume
DEFAULT_ENTRIES = (
    "stream_er_admission",
    "er_incremental_link",
    "er_golden_record",
    "er_blocking_candidates",
    "er_matched_pairs",
    "versioned_branch_merge",
    "versioned_replica_sync",
    "versioned_partition_evolution",
    "incremental_rollup_minmax",
    "bitemporal_asof_query",
)


def _pinned_session(heap: str, confs: list[str], cores: int = 32):
    from pyspark.sql import SparkSession

    # pinned heap, otherwise the naive driver-gate shape (no tuned
    # session confs — the spill behavior must come from Spark's
    # defaults + the operators' own plan shapes, not a generous heap).
    # shuffle width stays 32 regardless of cores so the PLAN is
    # identical across a cores A/B — only concurrent-task count varies
    # (the same pin discipline as scripts/strong_scaling.py)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.driver.memory", heap)
        .config("spark.sql.shuffle.partitions", "32")
    )
    for kv in confs:
        k, _, v = kv.partition("=")
        b = b.config(k.strip(), v.strip())
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _gateway_dead(error: str) -> bool:
    # a heap-death takes the whole local[32] JVM with it: the py4j
    # gateway refuses connections and every later call fails with a
    # socket error instead of a Spark error. Detect it so the probe
    # can relaunch a fresh pinned JVM and genuinely probe the REST of
    # the entries (the first sf1 run cascade-failed 9 entries against
    # a dead gateway — none of them was actually exercised).
    # `error` is bench.run_entries' "<exception type>: <message>".
    return (
        "Connection refused" in error
        or "Java gateway process" in error
        or error.startswith("Py4JNetworkError")
        or "Answer from Java side is empty" in error
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--heap", default="1g")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--entries", default=",".join(DEFAULT_ENTRIES))
    ap.add_argument(
        "--out", default=os.path.join(REPO, "BOUNDED_MEMORY.json"), help="artifact path"
    )
    ap.add_argument(
        "--cores",
        type=int,
        default=32,
        help="local[N] task slots; the shuffle width stays pinned at 32 so "
        "a cores A/B compares identical plans at different concurrency — "
        "the control that separates per-concurrent-task fixed overhead "
        "from data-sized memory",
    )
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra spark conf(s) pinned for the probe session, recorded in "
        "the artifact — e.g. spark.sql.autoBroadcastJoinThreshold=-1 to hold "
        "data-scaling join sides in the spillable shuffle regime",
    )
    ap.add_argument(
        "--isolate",
        action="store_true",
        help="tear the JVM down and relaunch it before every entry, so each "
        "entry's verdict is independent: a heap-death (or the degraded "
        "scheduler state an in-JVM OOM leaves behind) cannot taint the "
        "entries that follow — the shared-JVM sf1 run failed "
        "er_golden_record on post-OOM thread-pool rejection fallout that a "
        "fresh JVM passes cleanly",
    )
    args = ap.parse_args()
    entries = bench.entry_names(args.entries)

    spark = _pinned_session(args.heap, args.conf, args.cores)
    actual = spark.sparkContext.getConf().get("spark.driver.memory")
    print(f"probe heap pin: {actual} over {len(entries)} entries", file=sys.stderr)

    def _relaunch(spark):
        from py4j.protocol import Py4JError
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        try:
            spark.stop()
        except (Py4JError, ConnectionError):
            pass  # the JVM died with the entry: there is nothing left to stop

        # drop the dead singletons so getOrCreate builds fresh
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        SparkContext._active_spark_context = None
        SparkContext._gateway = None
        SparkContext._jvm = None
        return _pinned_session(args.heap, args.conf, args.cores)

    results: dict[str, dict] = {}
    for i, name in enumerate(entries, 1):
        if args.isolate and i > 1:
            spark = _relaunch(spark)
        run = bench.run_entries(spark, [name], 1, args.sf_dir)[name]
        if run["error"] is None:
            results[name] = {"ok": True, "sec": round(run["sec"][0], 3)}
            print(f"[{i}/{len(entries)}] OK {name}: {results[name]['sec']}s under {actual}", file=sys.stderr)
            continue
        results[name] = {"ok": False, "error": run["error"][:500]}
        if _gateway_dead(run["error"]):
            print("JVM died — relaunching the pinned session", file=sys.stderr)
            spark = _relaunch(spark)
    # a JVM that died is relaunched right after its entry, so this one is alive
    spark.stop()
    failed = [n for n, r in results.items() if not r["ok"]]

    artifact = {
        "heap": args.heap,
        "cores": args.cores,
        "sf_dir": args.sf_dir,
        "entries": results,
        "failed": failed,
    }
    if args.conf:
        artifact["pinned_confs"] = args.conf
    if args.isolate:
        artifact["isolated_jvm_per_entry"] = True
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({"metric": "bounded_memory_probe", "heap": args.heap,
                      "ok": len(entries) - len(failed), "failed": failed}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
