#!/usr/bin/env python
"""Empirical time-vs-sf scale curves for the heaviest catalog entries
(round-10 VERDICT item 1: the 100 TB design claims were plan-audited
but never CURVE-measured — a super-linear entry is a hidden
scale-killer no plan audit catches).

Runs each entry at sf0.001 / sf0.01 / sf0.1 (a 100× data span),
min-of-3 per point in one otherwise-idle session, and reports the
per-decade exponent of each segment:

    exponent = log10(t_hi / t_lo)          (per 10× data)

so 1.0 = perfectly linear, 0.0 = flat (fixed cost dominates), >1.2 =
investigate. The LOW segment (0.001→0.01) is dominated by fixed
per-job cost (Spark job launch, micro-batch engine startup, store
bootstrap commits) at these tiny sizes, so the HIGH segment
(0.01→0.1) is the one the 100 TB claims rest on — and even it still
carries the fixed floor, which DILUTES the measured growth: with
t = F + c·sf^a the raw segment exponent UNDERESTIMATES the
data-dependent exponent ``a``. `exp_high_adjusted` therefore
subtracts the per-entry sf0.001 reading as a floor estimate and fits
the residual — that is the number to hold against the 1.2 bar. When
the residual cannot be resolved (either residual at most 0.05 s, or
the middle residual inside the run-to-run range at the lowest or the
middle point) the fit would divide by noise, and the raw top segment
stands in: the entry is then fixed-cost-bound across the measured span.
`high_exponent` is that statistic, computed from the raw runs; the
artifact gate (tests/test_scale_artifact.py) imports it.

Round 12 extension: ``--sf-dirs`` accepts any comma list of sf
directories (e.g. adding the self-generated ``.scratch/sf1`` — see
scripts/gen_scratch_sf.py), and the exponent math normalizes by each
segment's actual sf ratio, so non-decade spans report the same
per-10× exponent scale. The floor estimate stays the LOWEST point's
reading.

Usage:
    python scripts/scale_curves.py [--out SCALE_CURVES.json] [--entries a,b,c]
                                   [--sf-dirs d1,d2,...] [--conf K=V ...]
Times each point through bench.run_entries (min-of-3, cold, noop sink)
and writes a JSON artifact plus a ready-to-paste markdown table on stdout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

SF_DIRS = (
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
)
# runs per point: the artifact gate (tests/test_scale_artifact.py)
# requires min-of-3, and a merge only joins artifacts of the same count
RUNS = 3

# The heaviest catalog entries by the round-10 driver bench, i.e. the
# ones whose 100× behavior matters most: the full ER family,
# the frequent-itemset / sequential miners, the grid-code ANN kernels,
# the LSH dedup chain, and the two heaviest versioned lifecycles
# (versioned_branch_merge doubles as the round-10 wobble A/B).
DEFAULT_ENTRIES = (
    "stream_er_admission",
    "er_incremental_link",
    "er_golden_record",
    "er_blocking_candidates",
    "er_matched_pairs",
    "er_linkage_quality",
    "apriori_triple_itemsets",
    "sequential_purchase_patterns",
    "knn_label_vote",
    "hard_negative_mining",
    "dedup_cluster_resolution",
    "versioned_branch_merge",
    "versioned_replica_sync",
)


def per_decade(t_lo: float, t_hi: float, sf_lo: float, sf_hi: float) -> float | None:
    """Exponent of t_lo -> t_hi per 10× of sf, normalized by the
    segment's actual sf ratio (decade segments divide by 1)."""
    if t_lo <= 0:
        return None
    return round(math.log10(t_hi / t_lo) / math.log10(sf_hi / sf_lo), 2)


def high_exponent(runs_by_sf: dict[str, list[float]]) -> float | None:
    """Top-segment exponent of one entry's curve from its raw runs
    (``{sf: [seconds, ...]}``, min-of-runs per point): the lowest-sf
    reading is the fixed per-run floor (job launch, store bootstrap,
    micro-batch startup) and the growth of the remaining data-dependent
    part is fitted. Falls back to the raw top segment when a residual is
    at most 0.05 s, or when the middle residual is not larger than the
    run-to-run range (max − min) at the lowest or the middle point."""
    sfs = sorted(runs_by_sf, key=float)
    ts = [min(runs_by_sf[s]) for s in sfs]
    sf_mid, sf_hi = float(sfs[-2]), float(sfs[-1])
    r_mid, r_hi = ts[-2] - ts[0], ts[-1] - ts[0]
    noise = max(max(runs_by_sf[s]) - min(runs_by_sf[s]) for s in (sfs[0], sfs[-2]))
    if r_mid > 0.05 and r_hi > 0.05 and r_mid > noise:
        return per_decade(r_mid, r_hi, sf_mid, sf_hi)
    return per_decade(ts[-2], ts[-1], sf_mid, sf_hi)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(os.path.dirname(__file__), "..", "SCALE_CURVES.json"))
    ap.add_argument("--entries", default=",".join(DEFAULT_ENTRIES))
    ap.add_argument("--sf-dirs", default=",".join(SF_DIRS))
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra spark conf(s) pinned for the whole run, recorded in the "
        "artifact — e.g. spark.sql.autoBroadcastJoinThreshold=-1 to hold a "
        "curve inside the shuffle-join regime across a span that would "
        "otherwise cross the broadcast boundary (round 12: a regime "
        "transition mid-span reads as a fake super-linear exponent)",
    )
    args = ap.parse_args()
    entries = bench.entry_names(args.entries)
    sf_dirs = sorted((d.strip() for d in args.sf_dirs.split(",") if d.strip()), key=bench.sf_from_dir)
    assert len(sf_dirs) >= 2, "need at least two sf points for a curve"

    from pim_etl_spark.session import get_spark
    from pim_etl_spark.sources import load_table

    spark = get_spark(app_name="pim-etl-spark-scale-curves")
    spark.sparkContext.setLogLevel("ERROR")
    for kv in args.conf:
        k, _, v = kv.partition("=")
        spark.conf.set(k.strip(), v.strip())

    # pay one-time session costs outside every timed region: scan-path
    # warmup per SF + the Python-UDF worker daemons. A failed warm-up
    # raises: swallowed, its cost would land in the first timed entry
    for d in sf_dirs:
        for t in ("orders", "customer", "lineitem", "documents", "embeddings", "events"):
            load_table(spark, d, t).count()
    spark.range(10_000, numPartitions=int(spark.sparkContext.defaultParallelism)).mapInPandas(
        lambda it: it, schema="id long"
    ).write.mode("overwrite").format("noop").save()

    sfs = [bench.sf_from_dir(d) for d in sf_dirs]
    results: dict[str, dict] = {}
    for name in entries:
        runs_detail: dict[str, list[float]] = {}
        for sf, d in zip(sfs, sf_dirs):
            run = bench.run_entries(spark, [name], RUNS, d)[name]
            if run["error"]:
                sys.exit(1)
            runs_detail[str(sf)] = times = [round(t, 3) for t in run["sec"]]
            print(f"  {name} sf={sf}: min {min(times):.3f}s of {times}", file=sys.stderr)
        per_sf = {s: min(r) for s, r in runs_detail.items()}
        ts = list(per_sf.values())
        segs = [per_decade(ts[i], ts[i + 1], sfs[i], sfs[i + 1]) for i in range(len(ts) - 1)]
        results[name] = {
            "sec_by_sf": per_sf,
            "runs_by_sf": runs_detail,
            "exp_low_segment": segs[0],
            "exp_high_segment": segs[-1],
            "exp_segments": segs,
            "exp_high_adjusted": high_exponent(runs_detail),
        }

    out_path = os.path.abspath(args.out)
    payload: dict = {"runs_per_point": RUNS, "entries": results}
    # merge into an existing artifact instead of clobbering it, so a
    # targeted re-measurement (e.g. the pinned-regime re-run of a
    # transition entry) replaces only its own entries. entry_confs
    # carries per-entry conf provenance and must SURVIVE unpinned
    # follow-up runs that merge other entries (round 12: an unpinned
    # LSH merge dropped the ER entries' regime-pin record because the
    # old carry-forward only fired when the prior had legacy
    # pinned_confs or the new run had --conf).
    per_entry: dict[str, list[str]] = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f)
        if prior.get("runs_per_point") == RUNS:
            merged = dict(prior.get("entries", {}))
            merged.update(results)
            payload["entries"] = merged
            per_entry = dict(prior.get("entry_confs", {}))
    # a re-measured entry's provenance is THIS run's conf: record the
    # pin, or clear a stale one (re-measured unpinned = default confs)
    for n in results:
        if args.conf:
            per_entry[n] = args.conf
        else:
            per_entry.pop(n, None)
    if per_entry:
        payload["entry_confs"] = per_entry
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
    print(f"wrote {out_path}", file=sys.stderr)

    # ready-to-paste markdown
    sf_cols = " | ".join(f"sf{s:g}" for s in sfs)
    seg_cols = " | ".join(f"exp {sfs[i]:g}→{sfs[i+1]:g}" for i in range(len(sfs) - 1))
    print(f"| entry | {sf_cols} | {seg_cols} | top-seg (floor-adj) |")
    print("|---" * (len(sfs) * 2 + 1) + "|")
    for name, r in results.items():
        s = r["sec_by_sf"]
        vals = " | ".join(str(s[str(x)]) for x in sfs)
        segs_str = " | ".join(str(x) for x in r["exp_segments"])
        print(f"| {name} | {vals} | {segs_str} | {r['exp_high_adjusted']} |")
    spark.stop()


if __name__ == "__main__":
    main()
