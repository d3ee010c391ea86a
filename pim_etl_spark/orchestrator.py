"""Pipeline orchestrator CLI (SURVEY §3.1/§3.3).

Mirrors the reference's entry point (etl/orchestrator.py:314-395):

    python -m pim_etl_spark.orchestrator --action sync [--supplier X]
        --feeds-dir DIR --gold PATH
    python -m pim_etl_spark.orchestrator --action incremental --since DATE ...
    python -m pim_etl_spark.orchestrator --action status --gold PATH
    python -m pim_etl_spark.orchestrator --action validate --feeds-dir DIR

Feeds are landed files under ``<feeds-dir>/<supplier>/<feed>.parquet``
(or ``.json``/``.jsonc``). ``sync`` transforms and upserts into the
gold table partitioned by supplier; ``status`` runs the catalog-stats
aggregations (A1–A3); ``validate`` checks feed presence/readability —
a metadata probe, NOT the reference's full-extract connection check
(etl/base.py:82-93, an O(dataset) validation replicated in intent
only). Results print as an ETLResult-style summary (etl/base.py:22-44).
"""

from __future__ import annotations

import argparse
import json
import os
import time
from collections import Counter

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pim_etl_spark.pipeline import registry
from pim_etl_spark.pipeline.bronze import read_feed


def load_supplier_feeds(spark: SparkSession, feeds_dir: str, supplier_id: str) -> dict[str, DataFrame]:
    spec = registry.get_supplier(supplier_id)
    feeds = {}
    base = os.path.join(feeds_dir, supplier_id)
    for feed_name, schema in spec.feed_schemas.items():
        for ext in (".parquet", ".json", ".jsonc"):
            path = os.path.join(base, feed_name + ext)
            if os.path.exists(path):
                feeds[feed_name] = read_feed(spark, path, schema)
                break
        else:
            if feed_name in spec.optional_feeds:
                continue  # e.g. extra-language fetches not landed
            raise FileNotFoundError(f"feed {feed_name} for {supplier_id} not found under {base}")
    return feeds


def _observe_counters(unified: DataFrame, obs: Observation) -> DataFrame:
    """Attach the ETLResult counters (rows processed, rows with a null
    ``product_id``) to ``unified``; ``obs.get`` holds them once the
    frame has executed."""
    return unified.observe(
        obs,
        F.count(F.lit(1)).alias("processed"),
        F.sum(F.when(F.col("product_id").isNull(), 1).otherwise(0)).alias("null_keys"),
    )


def run_sync(
    spark: SparkSession,
    feeds_dir: str,
    gold_path: str,
    supplier_id: str | None = None,
    since: str | None = None,
    quarantine: str | None = None,
    versioned: bool = False,
) -> dict:
    """Full or incremental sync → upsert into gold (ReplaceOne
    semantics via window dedup), ETLResult-style summary out.

    With ``quarantine``, rows of each supplier's primary feed missing
    required fields are split out (SURVEY N5 error isolation,
    etl/base.py:121-133) and written under ``<quarantine>/<supplier>``
    instead of aborting or silently dropping.
    """
    t0 = time.time()
    targets = [supplier_id] if supplier_id else [
        s for s in registry.list_suppliers() if os.path.isdir(os.path.join(feeds_dir, s))
    ]
    feeds_by_supplier = {s: load_supplier_feeds(spark, feeds_dir, s) for s in targets}
    quarantined_counts: dict[str, int] = {}
    if quarantine:
        from pim_etl_spark.pipeline.bronze import with_corrupt_quarantine

        for sid in targets:
            spec = registry.get_supplier(sid)
            if not spec.primary_feed or not spec.required_fields:
                continue
            good, bad = with_corrupt_quarantine(
                feeds_by_supplier[sid][spec.primary_feed], required=spec.required_fields
            )
            n_bad = bad.count()
            if n_bad:
                bad.write.mode("overwrite").parquet(os.path.join(quarantine, sid))
                feeds_by_supplier[sid][spec.primary_feed] = good
            quarantined_counts[sid] = n_bad
    unified = registry.run_sync(spark, feeds_by_supplier)
    unified = unified.withColumn("last_sync", F.current_timestamp())
    if since:
        # incremental: per-supplier row-level modified_at where the
        # dialect surfaces one (SupplierSpec.watermark_field), feed-level
        # feed_timestamp fallback, keep-if-untracked
        # (etl/orchestrator.py:354-359 --since semantics)
        unified = registry.incremental_filter(unified, since)

    # Bootstrap fallback applies ONLY when gold genuinely does not
    # exist yet — any other read failure propagates. A bare except here
    # would let a transient/corrupt read silently shrink gold to the
    # incoming subset (fatal in --since mode) and still report success.
    from pim_etl_spark.pipeline.gold import atomic_overwrite, merge_partitioned

    if versioned:
        # commit-log store: every sync is one transactional snapshot —
        # file-granular copy-on-write MERGE, time-travel/rollback free
        from pim_etl_spark.pipeline import versioned as V

        if since and V.current_version(gold_path) == 0:
            raise FileNotFoundError(
                f"incremental sync (--since {since}) requires an existing versioned "
                f"gold table at {gold_path}; run a full sync first"
            )
        # counters measured inside the merge's one execution of the
        # batch via Observation — no separate scan of the transform
        obs = Observation("etl_metrics")
        vstats = V.merge_files(
            spark, gold_path, _observe_counters(unified, obs),
            keys=["product_id"], order_col="last_sync",
        )
        n_errors = int(obs.get["null_keys"] or 0)
        # count the snapshot this sync committed, not whatever is latest
        gold_df = V.read_version(spark, gold_path, vstats["version"])
        per_supplier = {
            r["supplier_id"]: r["n"]
            for r in gold_df.groupBy("supplier_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        return {
            "status": "success",
            "action": "incremental" if since else "sync",
            "suppliers": targets,
            "products_in_gold": sum(per_supplier.values()),
            "error_count": n_errors,
            "quarantined": quarantined_counts,
            "per_supplier": per_supplier,
            "version": vstats["version"],
            "files_rewritten": vstats["files_rewritten"],
            "files_kept": vstats["files_kept"],
            "duration_sec": round(time.time() - t0, 2),
        }

    gold_exists = os.path.exists(gold_path) or os.path.exists(gold_path + ".__old__")
    if gold_exists:
        # Partition-scoped MERGE (round 4): rewrite ONLY the synced
        # suppliers' partitions — O(touched partitions + delta), never
        # a full-gold rewrite. The ETLResult counters aggregate the
        # DELTA directly (feed-sized — the cheap side at 100 TB; the
        # old full-rewrite path measured them for free inside its
        # whole-table write, which no longer exists).
        counters = unified.agg(
            F.count(F.lit(1)).alias("processed"),
            F.sum(F.when(F.col("product_id").isNull(), 1).otherwise(0)).alias("null_keys"),
        ).first()
        n_errors = int(counters["null_keys"] or 0)
        merge_stats = merge_partitioned(
            spark,
            gold_path,
            unified,
            keys=["product_id"],
            order_col="last_sync",
            partition_col="supplier_id",
        )
    elif since:
        raise FileNotFoundError(
            f"incremental sync (--since {since}) requires an existing gold table at "
            f"{gold_path}; run a full sync first"
        )
    else:
        # first-ever sync: full write; counters measured inside the
        # write job via Observation — no second scan of the transform
        obs = Observation("etl_metrics")
        atomic_overwrite(_observe_counters(unified, obs), gold_path, partition_by=("supplier_id",))
        n_errors = int(obs.get["null_keys"] or 0)
        merge_stats = None
    per_supplier = {
        r["supplier_id"]: r["n"]
        for r in spark.read.parquet(gold_path).groupBy("supplier_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    result = {
        "status": "success",
        "action": "incremental" if since else "sync",
        "suppliers": targets,
        "products_in_gold": sum(per_supplier.values()),
        "error_count": n_errors,
        "quarantined": quarantined_counts,
        "per_supplier": per_supplier,
        "duration_sec": round(time.time() - t0, 2),
    }
    if merge_stats is not None:
        result["partitions_rewritten"] = merge_stats["partitions_touched"]
    return result


def run_status(spark: SparkSession, gold_path: str) -> dict:
    """Catalog stats (SURVEY A1–A3, etl/loaders/mongodb_loader.py:271-299).
    Transparently handles both plain partition-dir gold and the
    manifest-versioned store (reads the latest committed snapshot)."""
    from pim_etl_spark.pipeline import versioned as V

    # one version read: the reported version and the counts come from
    # the same snapshot even if a sync commits meanwhile
    version = V.current_version(gold_path)
    if version > 0:
        gold = V.read_version(spark, gold_path, version)
        extra = {"version": version}
    else:
        gold = spark.read.parquet(gold_path)
        extra = {}
    # one scan: every answer is a roll-up of the (supplier, status) counts
    by_supplier: Counter = Counter()
    by_status: Counter = Counter()
    for r in gold.groupBy("supplier_id", "status").count().collect():
        by_supplier[r["supplier_id"]] += r["count"]
        by_status[r["status"]] += r["count"]
    return {
        "total_products": sum(by_supplier.values()),
        "by_supplier": dict(by_supplier),
        "by_status": dict(by_status),
        **extra,
    }


def run_validate(spark: SparkSession, feeds_dir: str) -> dict:
    """Connection/feed validation (etl/orchestrator.py:125-142): every
    registered supplier with a landed directory must expose all feeds.
    A feed that is absent or unreadable is reported as ``error: …``:
    an ``OSError`` (``FileNotFoundError`` for a required feed not
    landed) or Spark's ``AnalysisException`` (a path it cannot
    resolve). Any other exception is a fault and propagates."""
    results = {}
    for sid in registry.list_suppliers():
        base = os.path.join(feeds_dir, sid)
        if not os.path.isdir(base):
            results[sid] = "not-landed"
            continue
        try:
            feeds = load_supplier_feeds(spark, feeds_dir, sid)
            # metadata-only probe: schema resolves, file is readable
            for df in feeds.values():
                _ = df.schema
            results[sid] = "ok"
        except (OSError, AnalysisException) as exc:
            results[sid] = f"error: {exc}"
    return {"validation": results}


DEFAULT_CONFIG = {
    "feeds_dir": "feeds",
    "gold": "gold/products.parquet",
    "quarantine": None,
    "suppliers": None,  # null = all registered suppliers with landed feeds
}


def load_config(path: str) -> dict:
    """Config-file surface (reference etl/orchestrator.py:229-243
    _load_config): JSON file overrides defaults; unknown keys rejected
    so typos fail loudly."""
    with open(path) as f:
        cfg = json.load(f)
    unknown = set(cfg) - set(DEFAULT_CONFIG)
    if unknown:
        raise ValueError(f"unknown config keys: {sorted(unknown)}; known: {sorted(DEFAULT_CONFIG)}")
    return {**DEFAULT_CONFIG, **cfg}


def create_sample_config(path: str) -> None:
    """create_sample_config (reference etl/orchestrator.py:297-312):
    write a starter config the user edits."""
    with open(path, "w") as f:
        json.dump(DEFAULT_CONFIG, f, indent=2)
        f.write("\n")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="PIM ETL orchestrator (PySpark)")
    parser.add_argument(
        "--action",
        choices=[
            "sync", "incremental", "status", "validate", "create-config", "compact",
            "history", "rollback", "vacuum", "orphan-report", "refresh-rollup",
            "clone", "replicate",
            "merge-branch", "apply-deletes", "rename-column", "drop-column",
        ],
        default="sync",
    )
    parser.add_argument(
        "--versioned",
        action="store_true",
        help="sync into a manifest-versioned store (transactional MERGE, time travel)",
    )
    parser.add_argument(
        "--to-version", type=int, default=None, help="rollback: snapshot to restore"
    )
    parser.add_argument(
        "--keep-last", type=int, default=2, help="vacuum: snapshots to retain"
    )
    parser.add_argument(
        "--vacuum-min-age-hours",
        type=float,
        default=6.0,
        help="vacuum: only reclaim unreferenced files older than this "
        "(protects in-flight writers; 0 only with exclusive access)",
    )
    parser.add_argument("--rollup", default=None, help="refresh-rollup: derived table path")
    parser.add_argument("--column", default=None, help="rename-column/drop-column: source column")
    parser.add_argument("--to-column", default=None, help="rename-column: new name")
    parser.add_argument(
        "--to", dest="to_path", default=None,
        help="clone/replicate: destination path; merge-branch: the branch path",
    )
    parser.add_argument(
        "--merge-strategy",
        choices=["fail", "ours", "theirs"],
        default="fail",
        help="merge-branch: conflict resolution (fail raises, ours keeps "
        "the source's conflicted keys, theirs lets the branch win)",
    )
    parser.add_argument(
        "--group-by", default="supplier_id", help="refresh-rollup: comma-separated group columns"
    )
    parser.add_argument(
        "--sum-cols", default=None, help="refresh-rollup: comma-separated additive measure columns"
    )
    parser.add_argument(
        "--target-file-mb",
        type=int,
        default=256,
        help="compact: target output file size",
    )
    parser.add_argument(
        "--small-file-mb",
        type=float,
        default=32,
        help="compact (versioned): only bin-pack files below this size; "
        "bigger files carry by name (Delta minFileSize semantics)",
    )
    parser.add_argument(
        "--cluster-by",
        default=None,
        help="compact: comma-separated sort-within-file columns for min/max pruning",
    )
    parser.add_argument(
        "--zorder-by",
        default=None,
        help="compact: comma-separated columns for Z-ORDER (Morton) multi-column clustering",
    )
    parser.add_argument("--config", default=None, help="JSON config file (see create-config)")
    parser.add_argument("--supplier", default=None)
    parser.add_argument("--feeds-dir", default=None)
    parser.add_argument("--gold", default=None)
    parser.add_argument("--since", default=None, help="YYYY-MM-DD cutoff for incremental")
    parser.add_argument("--quarantine", default=None, help="dir for invalid primary-feed rows")
    args = parser.parse_args(argv)

    if args.action == "create-config":
        path = args.config or "etl_config.json"
        create_sample_config(path)
        print(json.dumps({"status": "created", "path": path}))
        return 0

    cfg = load_config(args.config) if args.config else dict(DEFAULT_CONFIG)
    # explicit CLI flags beat the config file
    args.feeds_dir = args.feeds_dir if args.feeds_dir is not None else cfg["feeds_dir"]
    args.gold = args.gold if args.gold is not None else cfg["gold"]
    args.quarantine = args.quarantine if args.quarantine is not None else cfg["quarantine"]
    if args.supplier is None and cfg["suppliers"]:
        args.supplier = cfg["suppliers"][0] if len(cfg["suppliers"]) == 1 else None

    # manifest-only actions need no SparkSession at all
    if args.action in ("history", "rollback", "vacuum", "clone", "orphan-report"):
        from pim_etl_spark.pipeline import versioned as V

        if args.action == "clone":
            if not args.to_path:
                parser.error("--action clone requires --to DEST")
            v = V.shallow_clone(args.gold, args.to_path, version=args.to_version)
            out = {"status": "success", "cloned": args.gold, "to": args.to_path, "version": v}
        elif args.action == "history":
            out = {"status": "success", "history": V.history(args.gold)}
        elif args.action == "rollback":
            if args.to_version is None:
                parser.error("--action rollback requires --to-version")
            new_v = V.rollback(args.gold, to_version=args.to_version)
            out = {"status": "success", "restored": args.to_version, "version": new_v}
        elif args.action == "orphan-report":
            rep = V.orphan_report(
                args.gold,
                keep_last=args.keep_last,
                min_age_seconds=args.vacuum_min_age_hours * 3600.0,
            )
            rep.pop("classes", None)  # counts + orphan names are the CLI surface
            out = {"status": "success", **rep}
        else:
            out = {
                "status": "success",
                **V.vacuum(
                    args.gold,
                    keep_last=args.keep_last,
                    min_age_seconds=args.vacuum_min_age_hours * 3600.0,
                ),
            }
        print(json.dumps(out, default=str))
        return 0

    from pim_etl_spark.session import get_spark

    spark = get_spark(app_name=f"pim-etl-{args.action}")
    spark.sparkContext.setLogLevel("ERROR")
    if args.action in ("sync", "incremental"):
        out = run_sync(
            spark, args.feeds_dir, args.gold, args.supplier,
            since=args.since if args.action == "incremental" else None,
            quarantine=args.quarantine,
            versioned=args.versioned,
        )
    elif args.action == "replicate":
        if not args.to_path:
            parser.error("--action replicate requires --to DEST")
        from pim_etl_spark.pipeline import versioned as V

        out = {
            "status": "success",
            **V.sync_replica(
                spark, args.gold, args.to_path,
                keys=["product_id"], order_col="last_sync",
            ),
        }
    elif args.action == "merge-branch":
        # --gold SOURCE --to BRANCH (the clone created by --action clone)
        if not args.to_path:
            parser.error("--action merge-branch requires --to BRANCH")
        from pim_etl_spark.pipeline import versioned as V

        try:
            out = {
                "status": "success",
                **V.merge_branch(
                    spark, args.gold, args.to_path,
                    keys=["product_id"], order_col="last_sync",
                    strategy=args.merge_strategy,
                ),
            }
        except V.BranchConflict as exc:
            out = {"status": "conflict", "error": str(exc)}
    elif args.action == "refresh-rollup":
        from pim_etl_spark.pipeline import versioned as V

        if not args.rollup:
            parser.error("--action refresh-rollup requires --rollup")
        out = V.refresh_rollup(
            spark,
            args.gold,
            args.rollup,
            keys=["product_id"],
            group_cols=tuple(args.group_by.split(",")),
            sum_cols=tuple(args.sum_cols.split(",")) if args.sum_cols else (),
            ignore_cols=("last_sync",),
        )
        out["status"] = "success"
    elif args.action == "apply-deletes":
        # materialize pending merge-on-read deletion vectors so raw-file
        # ops (merge/CDC/optimize/clone) unblock and vacuum can reclaim
        # the sidecars
        from pim_etl_spark.pipeline import versioned as V

        out = {"status": "success", **V.apply_deletes(spark, args.gold)}
    elif args.action == "rename-column":
        from pim_etl_spark.pipeline import versioned as V

        if not args.column or not args.to_column:
            raise SystemExit("rename-column requires --column and --to-column")
        v = V.rename_column(spark, args.gold, args.column, args.to_column)
        out = {"status": "success", "version": v,
               "renamed": f"{args.column}->{args.to_column}"}
    elif args.action == "drop-column":
        from pim_etl_spark.pipeline import versioned as V

        if not args.column:
            raise SystemExit("drop-column requires --column")
        v = V.drop_column(spark, args.gold, args.column)
        out = {"status": "success", "version": v, "dropped": args.column}
    elif args.action == "status":
        out = run_status(spark, args.gold)
    elif args.action == "compact":
        from pim_etl_spark.pipeline import versioned as V
        from pim_etl_spark.pipeline.gold import compact_table

        if V.current_version(args.gold) > 0:
            # commit-log table: incremental small-file bin-packing by
            # default (O(small bytes)); the full OPTIMIZE rewrite only
            # when re-clustering was requested (--zorder-by)
            if args.zorder_by:
                out = V.optimize(
                    spark,
                    args.gold,
                    target_file_mb=args.target_file_mb,
                    zorder_by=tuple(args.zorder_by.split(",")),
                )
            else:
                out = V.optimize_small_files(
                    spark,
                    args.gold,
                    small_file_mb=args.small_file_mb,
                    target_file_mb=args.target_file_mb,
                )
        else:
            out = compact_table(
                spark,
                args.gold,
                target_file_mb=args.target_file_mb,
                cluster_by=tuple(args.cluster_by.split(",")) if args.cluster_by else (),
                zorder_by=tuple(args.zorder_by.split(",")) if args.zorder_by else (),
            )
        out["status"] = "success"
    else:
        out = run_validate(spark, args.feeds_dir)
    print(json.dumps(out, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
