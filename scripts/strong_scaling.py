#!/usr/bin/env python
"""Strong-scaling probe: same entry, same data (sf0.1), 8 vs 32 local
cores — the time-vs-PARALLELISM axis of the 100 TB claim that the
time-vs-data curves (scripts/scale_curves.py) don't test. An operator
whose plan hides a serialization point (single-task stage, driver-side
loop, unsplittable shuffle) shows a speedup far below what its known
fixed-floor/data-term split predicts.

Prediction comes from SCALE_CURVES.json via Amdahl: with F = the
entry's sf0.001 reading (per-run fixed cost: job launches, commit
protocol — independent of both data and cores) and D = t(sf0.1) - F
(the data-dependent term at 32 cores), a perfectly parallel data term
gives

    predicted t(8 cores) / t(32 cores) = (F + 4·D) / (F + D)

Measured speedup >= ~70% of predicted = the data term parallelizes;
far below = investigate. (The floor F itself is mostly scheduler
latency and does not scale with cores, which both sides of the ratio
assume.)

Round 12: ``--sf-dir`` / ``--curves`` / ``--out`` let the probe run
at the self-generated scratch sf1 (scripts/gen_scratch_sf.py) against
the sf1 curve artifact — at sf1 the partitions are MB-sized, so the
loop entries' compute term dominates the per-task overhead that bound
the sf0.1 readings (round-11 VERDICT item 3). The Amdahl prediction
generalizes to the artifact's lowest point as F and its highest as
the probed total.

Usage: python scripts/strong_scaling.py [--entries a,b] [--sf-dir DIR]
                                        [--curves SCALE_CURVES.json] [--out STRONG_SCALING.json]
       python scripts/strong_scaling.py --worker 8 # internal: one config
Each config times the entries through bench.run_entries (min-of-3, cold,
noop sink). Writes STRONG_SCALING.json + a markdown table on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
CORES = (8, 32)
RUNS = 3
SHUFFLE = 32

# data-heavy entries (data term >= ~0.6 s at sf0.1 per SCALE_CURVES):
# the ER chain, the miners, and the banded/grid kernels. Fixed-cost-
# bound entries (versioned lifecycles, streaming startups) are
# excluded by design — their floor is scheduler latency, and a core
# sweep of a floor measures nothing.
ENTRIES = (
    "er_incremental_link",
    "er_blocking_candidates",
    "er_golden_record",
    "er_matched_pairs",
    "er_linkage_quality",
    "sequential_purchase_patterns",
    "simhash_buckets",
    "hard_negative_mining",
    "knn_label_vote",
)


def worker(cores: int, entries=ENTRIES, sf_dir: str = SF_DIR) -> None:
    """Time ENTRIES min-of-RUNS in ONE session at `cores` local cores;
    prints a single JSON line. Run as a subprocess (one JVM per core
    count). Shuffle width stays PINNED at 32 for every config so the
    logical and physical plans are identical across the sweep — the
    first version of this probe let shuffle width track the core count
    and measured task-granularity effects (8 big tasks vs 32 small
    ones), not parallelism. Exits 1 when an entry fails."""
    from pim_etl_spark.session import get_spark
    from pim_etl_spark.sources import load_table

    spark = get_spark(app_name=f"pim-etl-spark-strong-{cores}", master=f"local[{cores}]", shuffle_partitions=SHUFFLE)
    spark.sparkContext.setLogLevel("ERROR")
    for t in ("orders", "customer", "lineitem", "documents", "embeddings"):
        load_table(spark, sf_dir, t).count()
    runs = bench.run_entries(spark, entries, RUNS, sf_dir)
    spark.stop()
    if any(r["error"] for r in runs.values()):
        sys.exit(1)
    out = {name: round(min(r["sec"]), 3) for name, r in runs.items()}
    for name, sec in out.items():
        print(f"  [{cores} cores] {name}: {sec}s", file=sys.stderr)
    print(json.dumps(out), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", type=int, default=None)
    ap.add_argument("--entries", default=None)
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--curves", default=os.path.join(REPO, "SCALE_CURVES.json"))
    ap.add_argument("--out", default=os.path.join(REPO, "STRONG_SCALING.json"))
    args = ap.parse_args()
    entries = bench.entry_names(args.entries) if args.entries else ENTRIES
    if args.worker:
        worker(args.worker, entries, args.sf_dir)
        return

    measured: dict[int, dict[str, float]] = {}
    for cores in CORES:
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", str(cores),
             "--sf-dir", args.sf_dir, "--entries", ",".join(entries)],
            capture_output=True, text=True, timeout=3600,
        )
        if res.returncode != 0:
            print(res.stderr[-3000:], file=sys.stderr)
            sys.exit(1)
        sys.stderr.write(res.stderr[-2000:])
        measured[cores] = json.loads(res.stdout.strip().splitlines()[-1])

    with open(args.curves) as f:
        curves = json.load(f)["entries"]

    results = {}
    factor = CORES[1] // CORES[0]
    print("| entry | t(8) | t(32) | speedup | Amdahl-predicted | ratio |")
    print("|---|---|---|---|---|---|")
    for name in entries:
        t8, t32 = measured[CORES[0]][name], measured[CORES[1]][name]
        speedup = round(t8 / t32, 2)
        pred = None
        if name in curves:
            # F = the curve's LOWEST point (per-run fixed cost),
            # total = its HIGHEST point — must match --sf-dir's sf
            sec = curves[name]["sec_by_sf"]
            keys = sorted(sec, key=float)
            fixed, total = sec[keys[0]], sec[keys[-1]]
            data = max(total - fixed, 0.0)
            if total > 0:
                pred = round((fixed + factor * data) / (fixed + data), 2)
        ratio = round(speedup / pred, 2) if pred and pred > 0 else None
        results[name] = {
            "t_8_cores": t8, "t_32_cores": t32, "speedup": speedup,
            "amdahl_predicted": pred, "measured_over_predicted": ratio,
        }
        print(f"| {name} | {t8} | {t32} | {speedup} | {pred or '—'} | {ratio or '—'} |")

    with open(args.out, "w") as f:
        json.dump({"cores": list(CORES), "runs_per_point": RUNS, "sf_dir": args.sf_dir,
                   "entries": results}, f, indent=1)
    print(f"wrote {args.out}", file=sys.stderr)


if __name__ == "__main__":
    main()
