"""Runtime tuning dials shared by iterative operators.

CACHE-LIFETIME CONTRACT (module-wide): helpers here that ``cache()``
frames (``sorted_output``) never unpersist — inside the catalog the
lifetime is bounded by ``catalog._entry_scoped``, which clears the
Spark cache at every entry start. A LIBRARY caller (notebooks, ad-hoc
scripts) that invokes these helpers outside the catalog wrapper owns
cache hygiene: call ``spark.catalog.clearCache()`` (or unpersist the
returned frames) between logical units, or executor storage
accumulates for the session.

VERDICT r9 watch-item: iterative label-propagation / closure loops
pinned a *constant* ``repartition(8, key)`` co-partitioning on their
join keys. At bench scale that constant is a measured win (it kills
the default-width exchange every iteration), but at 100x the edge
lists are data-sized and an 8-task shuffle would serialize the loop.
The fix is the same pattern the round-9 distributed-blocking rewrite
used (entity_resolution.py): derive the loop width from the session's
``spark.sql.shuffle.partitions`` with the measured constant as a
floor, so local bench behavior is bit-identical while a cluster
session (shuffle partitions in the thousands) scales the loop width
proportionally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def sorted_output(df: DataFrame, *cols) -> DataFrame:
    """Final global sort behind a materialization barrier (r12 §2.4).

    A plain ``df.orderBy(...)`` plans a range exchange whose partition
    bounds come from a SAMPLING pass over the child RDD — and that pass
    re-executes every map-side operator between the previous exchange
    and the sort. For entries whose expensive work (feature scoring,
    exact set verification) sits exactly there, the query pays for it
    TWICE: measured on er_matched_pairs at sf0.1, 5.3–6.1 s as-is vs
    3.5–3.8 s with the barrier, rows identical. ``cache()`` makes the
    sampling pass materialize the (output-sized — it is the frame the
    sink is about to write anyway) result once and the shuffle map pass
    re-read it. Cache lifetime is entry-scoped: catalog._entry_scoped
    clears the Spark cache at the next entry's start, and the noop-sink
    bench methodology charges the fill to the entry that created it.

    Scale note: this is not a local[32] dial — the double-execution is
    structural to RangePartitioner sampling at any cluster size, and
    the barrier is output-sized, not data-sized.
    """
    return df.cache().orderBy(*cols)


def fan_out(df: DataFrame, *cols) -> DataFrame:
    """Widen a NARROW scan so downstream map-side compute parallelizes
    (r13, guide §2.6/§6: single-row-group parquet files scan as ONE
    task, serializing every per-row transform — shingling, signature
    hashing, per-doc folds — that runs before the first exchange).

    Scale-adaptive by probe, not by constant: the repartition fires
    only when the frame's current partition count is below half the
    session's shuffle width. At production scale the scan is already
    wide (many files / splittable row groups) and this is a no-op — no
    data-sized shuffle is ever introduced; locally it moves only the
    small source rows (the documents table is ~1.6 MB at sf0.1).
    Hash-partitioning on ``cols`` keeps the row→partition mapping
    deterministic (guide §2.5's retry rule); pass the frame's unique
    key.
    """
    if getattr(df, "_pim_fanned", False):
        # already widened by a caller that passed the same frame to
        # several consumers — skip the (plan-analyzing) partition probe
        return df
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    current = df.rdd.getNumPartitions()
    if current * 2 >= target:
        df._pim_fanned = True
        return df
    wide = df.repartition(target, *cols) if cols else df.repartition(target)
    wide._pim_fanned = True
    return wide


def mark_wide(df: DataFrame) -> DataFrame:
    """Tag a frame as already wide enough so ``fan_out`` skips its
    partition probe. For frames derived from a fanned-out parent by
    partitioning-preserving ops (e.g. a broadcast semi-join) — probing
    such plans with ``.rdd`` would execute their broadcast exchanges at
    plan time."""
    df._pim_fanned = True
    return df


def loop_partitions(df: DataFrame, floor: int = 8, divisor: int = 4) -> int:
    """Partition count for an iterative loop's pinned co-partitioning.

    Loop frames here are narrow ids-only projections — a small
    fraction of the bytes of the session's general shuffle traffic —
    so a fraction (``1/divisor``) of ``spark.sql.shuffle.partitions``
    keeps per-task loop state small without re-introducing the
    default-width exchange per iteration. ``floor`` preserves the
    bench-measured constants (local sessions run shuffle=32, so
    ``max(8, 32 // 4)`` == the historical 8); a 1000-executor session
    with shuffle partitions in the thousands gets a proportionally
    wide loop instead of a serialized 8-task one.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(floor, n // divisor)
