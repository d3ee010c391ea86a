"""Warehouse-modeling operators: SCD Type 2 interval building, Pareto
(skyline) frontiers, winsorized robust statistics, robust per-group
normalization, and deterministic weighted systematic sampling.

These extend the reference's sync surface (the upsert/backup loop in
/root/reference/etl/loaders/mongodb_loader.py:93-197 keeps only the
latest state) with the history-preserving and robust-stats layers a
production PIM warehouse adds on top — all expressed as declarative
DataFrame plans so Catalyst keeps them shuffle-minimal.

Numeric-safety conventions follow NOTES.md: money percentiles run on
integer cents (interpolated values then carry <=2 true decimals, so a
round(.,4) is boundary-free); robust scores use floor-scaling, never
round; sampling is pure integer arithmetic (exact on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pim_etl_spark.catalog import query
from pim_etl_spark.operators.graph import min_label_components
from pim_etl_spark.tuning import sorted_output
from pim_etl_spark.sources import load_table


@query(
    "scd2_priority_history",
    oracle="""
    -- SCD Type 2 from an event stream: collapse consecutive runs of
    -- equal o_orderpriority per customer (gaps-and-islands) into
    -- validity intervals; valid_to = next run's start, NULL = current.
    WITH seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             row_number() OVER (PARTITION BY o_custkey, o_orderpriority
                                ORDER BY o_orderdate, o_orderkey) AS rnp
      FROM orders
    ), runs AS (
      SELECT o_custkey, o_orderpriority,
             min(o_orderdate) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_orders,
             min(rn) AS first_rn
      FROM seq GROUP BY o_custkey, o_orderpriority, rn - rnp
    )
    SELECT o_custkey, o_orderpriority,
           CAST(row_number() OVER w AS BIGINT) AS run_seq,
           valid_from,
           lead(valid_from) OVER w AS valid_to,
           n_orders,
           lead(valid_from) OVER w IS NULL AS is_current
    FROM runs
    WINDOW w AS (PARTITION BY o_custkey ORDER BY first_rn)
    ORDER BY o_custkey, run_seq
    """,
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 builder: per customer, runs of
    equal order priority become validity intervals with open-ended
    current rows — the history layer the reference's keep-latest
    upsert discards.

    Plan: two row_numbers + one grouped aggregate + one lead, all
    partitioned by ``o_custkey`` — a single hash exchange on the
    customer key; no global window, so it scales with key cardinality.
    """
    orders = load_table(spark, sf_dir, "orders")
    w_all = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_pri = Window.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = orders.select(
        "o_custkey",
        "o_orderpriority",
        "o_orderdate",
        F.row_number().over(w_all).alias("rn"),
        F.row_number().over(w_pri).alias("rnp"),
    )
    runs = (
        seq.groupBy("o_custkey", "o_orderpriority", (F.col("rn") - F.col("rnp")).alias("grp"))
        .agg(
            F.min("o_orderdate").alias("valid_from"),
            F.count("*").alias("n_orders"),
            F.min("rn").alias("first_rn"),
        )
    )
    w_runs = Window.partitionBy("o_custkey").orderBy("first_rn")
    return (
        runs.select(
            "o_custkey",
            "o_orderpriority",
            F.row_number().over(w_runs).cast("bigint").alias("run_seq"),
            "valid_from",
            F.lead("valid_from").over(w_runs).alias("valid_to"),
            "n_orders",
            F.lead("valid_from").over(w_runs).isNull().alias("is_current"),
        )
        .orderBy("o_custkey", "run_seq")
    )


def pareto_frontier(parts: DataFrame, price_col: str, size_col: str, key_col: str) -> DataFrame:
    """Bucketed two-level skyline over arbitrary input (minimize
    ``price_col``, maximize ``size_col``): distinct coordinates →
    per-bucket local frontier (partitioned window) → cross-bucket
    dominance via the bucket-count-sized running max — the
    skyline-of-local-skylines identity, no global window, no O(n²)
    self-join. Returns the input rows on the frontier."""
    coords = (
        parts.groupBy(price_col, size_col)
        .agg(F.count("*").alias("_n"))
        .withColumn("bucket", F.floor(F.col(price_col) / F.lit(100.0)))
    )
    bmax = coords.groupBy("bucket").agg(F.max(size_col).alias("bmax"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    lower = bmax.select("bucket", F.max("bmax").over(w_b).alias("lower_cummax"))
    w_loc = (
        Window.partitionBy("bucket")
        .orderBy(F.col(price_col).asc(), F.col(size_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = coords.withColumn("prev_max", F.max(size_col).over(w_loc))
    frontier = (
        local.join(F.broadcast(lower), "bucket")
        .filter(
            (F.col("prev_max").isNull() | (F.col("prev_max") < F.col(size_col)))
            & (F.col("lower_cummax").isNull() | (F.col("lower_cummax") < F.col(size_col)))
        )
        .select(price_col, size_col)
    )
    return parts.join(F.broadcast(frontier), [price_col, size_col]).select(
        key_col, price_col, size_col
    )


@query(
    "pareto_frontier_parts",
    oracle="""
    -- Skyline: parts Pareto-optimal on (price low, size high). The
    -- oracle is the O(n^2) NOT EXISTS definition; the Spark side is
    -- the bucketed two-level plan.
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p.p_partkey
    """,
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/skyline frontier (minimize price, maximize size) without
    the O(n^2) self-join:

    1. distinct coordinates bucketed by price band; per-bucket local
       frontier via a window PARTITIONED BY bucket (parallel);
    2. cross-bucket dominance via the running max size of strictly
       cheaper buckets — a bucket-count-sized aggregate, broadcast;
    3. join frontier coordinates back to the part rows.

    No global-ordering window anywhere: dominance across buckets is
    decided by the tiny bucket summary, within buckets by a
    partitioned window, so the plan survives a 100x scale-up (the
    skyline-of-local-skylines identity).
    """
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return pareto_frontier(parts, "p_retailprice", "p_size", "p_partkey").orderBy(
        "p_partkey"
    )


@query(
    "winsorized_price_stats",
    oracle="""
    -- Winsorized robust stats per order status. All money arithmetic
    -- in integer cents: the p05/p95 interpolation then carries <=2
    -- true decimals (frac of 0.05*(n-1) has <=2 decimals), so
    -- round(.,4) is boundary-free and clamped sums are exact BIGINTs.
    WITH c AS (
      SELECT o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), pct AS (
      SELECT status,
             round(quantile_cont(CAST(cents AS DOUBLE), 0.05), 4) AS lo,
             round(quantile_cont(CAST(cents AS DOUBLE), 0.95), 4) AS hi
      FROM c GROUP BY status
    )
    SELECT c.status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(c.cents) AS BIGINT) AS sum_raw_cents,
           CAST(round(sum(round(least(greatest(CAST(c.cents AS DOUBLE), pct.lo), pct.hi) * 100)) / 100) AS BIGINT)
             AS sum_wins_cents,
           CAST(sum(CASE WHEN CAST(c.cents AS DOUBLE) < pct.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
           CAST(sum(CASE WHEN CAST(c.cents AS DOUBLE) > pct.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
           any_value(pct.lo) AS lo_cents,
           any_value(pct.hi) AS hi_cents
    FROM c JOIN pct USING (status)
    GROUP BY c.status ORDER BY c.status
    """,
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (clip at p05/p95) per group with exact
    percentiles — the outlier-robust stats layer for price QA.

    Two aggregates over the same grouping key plus a broadcast join of
    the (group-cardinality-sized) percentile table; clamped sums are
    reconstructed as exact integers so the output is FP-drift-free.
    """
    cents = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    pct = cents.groupBy("status").agg(
        F.round(F.percentile(F.col("cents").cast("double"), F.lit(0.05)), 4).alias("lo"),
        F.round(F.percentile(F.col("cents").cast("double"), F.lit(0.95)), 4).alias("hi"),
    )
    j = cents.join(F.broadcast(pct), "status")
    clamped = F.least(F.greatest(F.col("cents").cast("double"), F.col("lo")), F.col("hi"))
    return (
        j.groupBy("status")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").alias("sum_raw_cents"),
            F.round(F.sum(F.round(clamped * 100)) / 100).cast("bigint").alias("sum_wins_cents"),
            F.sum((F.col("cents").cast("double") < F.col("lo")).cast("bigint")).alias("n_clip_low"),
            F.sum((F.col("cents").cast("double") > F.col("hi")).cast("bigint")).alias("n_clip_high"),
            F.any_value("lo").alias("lo_cents"),
            F.any_value("hi").alias("hi_cents"),
        )
        .transform(sorted_output, "status")
    )


@query(
    "robust_scaled_doc_scores",
    oracle="""
    -- Per-language robust normalization of document length:
    -- (x - median) / MAD, floor-scaled (NOTES.md: never round exact
    -- small fractions). Inputs are integers, median/MAD are exact
    -- dyadic values, so the double division is bit-identical on both
    -- engines and floor is tie-free.
    WITH med AS (
      SELECT lang, median(CAST(n_chars AS DOUBLE)) AS med
      FROM documents GROUP BY lang
    ), mad AS (
      SELECT d.lang, median(abs(CAST(d.n_chars AS DOUBLE) - med.med)) AS mad
      FROM documents d JOIN med USING (lang) GROUP BY d.lang
    )
    SELECT d.doc_id, d.lang, d.n_chars,
           CAST(CASE WHEN mad.mad = 0 THEN 0
                ELSE floor((CAST(d.n_chars AS DOUBLE) - med.med) / mad.mad * 10000)
           END AS BIGINT) AS robust_z_e4
    FROM documents d JOIN med USING (lang) JOIN mad USING (lang)
    ORDER BY d.doc_id
    """,
)
def robust_scaled_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust scaling of doc length per language — the
    outlier-insensitive quality-score calibration step of a corpus
    pipeline (z-scores would let one giant doc shift the scale).

    Two grouped exact medians (language-cardinality-sized results,
    broadcast back); the per-row math is pure JVM expressions.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    x = F.col("n_chars").cast("double")
    med = docs.groupBy("lang").agg(F.median(x).alias("med"))
    with_med = docs.join(F.broadcast(med), "lang")
    mad = with_med.groupBy("lang").agg(
        F.median(F.abs(x - F.col("med"))).alias("mad")
    )
    return (
        with_med.join(F.broadcast(mad), "lang")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.when(F.col("mad") == 0, F.lit(0))
            .otherwise(F.floor((x - F.col("med")) / F.col("mad") * 10000))
            .cast("bigint")
            .alias("robust_z_e4"),
        )
        .orderBy("doc_id")
    )


@query(
    "weighted_systematic_sample",
    oracle="""
    -- Deterministic weighted sampling: per source, walk the cumulative
    -- n_chars weight in doc_id order and pick every doc whose weight
    -- span crosses a multiple of step = total_weight // 16. Pure
    -- integer arithmetic — exact on both engines, no RNG.
    WITH w AS (
      SELECT source, doc_id, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(n_chars) OVER (PARTITION BY source) AS total
      FROM documents WHERE n_chars > 0
    ), s AS (
      SELECT source, doc_id, n_chars, cw,
             greatest(total // 16, 1) AS step
      FROM w
    )
    SELECT source, doc_id, n_chars,
           CAST(cw - n_chars AS BIGINT) AS cum_before,
           CAST(cw // step AS BIGINT) AS slot_hi
    FROM s
    WHERE cw // step > (cw - n_chars) // step
    ORDER BY source, doc_id
    """,
)
def weighted_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted systematic sampling (~16 docs per source, probability
    proportional to length) with zero randomness: selection thresholds
    are multiples of ``total_weight // 16`` along the cumulative
    weight, so the sample is reproducible and integer-exact — the
    md5-gate determinism principle applied to PPS sampling.

    The prefix sum is partitioned by ``source`` (stratum), not global;
    at 100 TB the same arithmetic runs two-phase (per-partition totals
    offset the local prefix sums) exactly like sequence packing.
    """
    w_cum = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("source")
    staged = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.sum("n_chars").over(w_cum).alias("cw"),
            F.sum("n_chars").over(w_tot).alias("total"),
        )
        .withColumn("step", F.greatest(F.expr("total div 16"), F.lit(1)))
    )
    return (
        staged.filter(F.expr("cw div step > (cw - n_chars) div step"))
        .select(
            "source",
            "doc_id",
            "n_chars",
            (F.col("cw") - F.col("n_chars")).alias("cum_before"),
            F.expr("cw div step").alias("slot_hi"),
        )
        .transform(sorted_output, "source", "doc_id")
    )


@query(
    "entity_resolution_clusters",
    oracle="""
    -- end-to-end entity resolution twin: same deterministic typo
    -- synthesis (keys %7 drop their name's last char), same blocking
    -- (first name token), same edge rule (levenshtein <= 2), and a
    -- recursive-CTE transitive closure labeling each listing with its
    -- component's minimum key.
    WITH RECURSIVE listings AS (
      SELECT p_partkey AS k,
             CASE WHEN p_partkey % 7 = 0
                  THEN substr(p_name, 1, len(p_name) - 1)
                  ELSE p_name END AS name
      FROM part
    ), blocks AS (
      SELECT k, name, string_split(name, ' ')[1] AS blk FROM listings
    ),
    pairs AS (
      SELECT a.k AS ka, b.k AS kb
      FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.k < b.k
      WHERE levenshtein(a.name, b.name) <= 2
    ),
    edges AS (SELECT ka AS src, kb AS dst FROM pairs
              UNION SELECT kb, ka FROM pairs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (
      SELECT src AS k, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    )
    SELECT l.cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN l.k % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_noisy,
           any_value(c.name) AS canonical_name
    FROM labels l JOIN listings c ON c.k = l.cluster_id
    GROUP BY l.cluster_id ORDER BY l.cluster_id
    """,
)
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution (the supplier-catalog
    reconciliation problem a PIM faces when the same product arrives
    under noisy names): deterministic typo synthesis → blocking on the
    first name token → edit-distance candidate edges WITHIN blocks
    only → connected-components transitive closure → per-entity
    cluster stats with a canonical name.

    Scale shape — resolve at NAME granularity, never listing
    granularity: identical names collapse into one node FIRST (a
    grouped aggregate), so the pairwise edit-distance join runs over
    distinct names per block — O(Σ distinct-block²), independent of
    listing volume (the classic ER collapse: a 100 TB catalog has
    billions of listings but a bounded name vocabulary). The closure
    runs ``min_label_components`` (id-only label propagation) over
    name nodes; listing-level stats come back from the name summary,
    not a re-scan. Listing-level pairwise matching alone both
    under-merges typo chains AND re-compares every identical copy.
    """
    listings = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"),
        F.when(
            F.col("p_partkey") % 7 == 0,
            F.expr("substring(p_name, 1, length(p_name) - 1)"),
        )
        .otherwise(F.col("p_name"))
        .alias("name"),
    )
    # name-level nodes: node id = min listing key (so the component
    # minimum equals the oracle's least-member-key cluster label)
    names = listings.groupBy("name").agg(
        F.min("k").alias("nid"),
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("k") % 7 == 0).cast("bigint")).alias("noisy"),
    ).withColumn("blk", F.split(F.col("name"), " ").getItem(0))
    a = names.select("blk", F.col("nid").alias("na_id"), F.col("name").alias("na"))
    b = names.select("blk", F.col("nid").alias("nb_id"), F.col("name").alias("nb"))
    cross_edges = (
        a.join(b, "blk")
        .filter(
            (F.col("na_id") < F.col("nb_id"))
            & (F.levenshtein(F.col("na"), F.col("nb")) <= 2)
        )
        .select("na_id", "nb_id")
    )
    nodes = cross_edges.select(F.explode(F.array("na_id", "nb_id")).alias("nid")).distinct()
    cc = min_label_components(cross_edges, nodes, 10).withColumnsRenamed(
        {"id": "nid", "lbl": "cid"}
    )
    # names with no cross-name edge: their listings still pair among
    # themselves when cnt >= 2 (lev 0) — own cluster; true singletons
    # (cnt == 1, no edge) have no pair at all and drop, matching the
    # oracle's edge-reachability semantics
    labeled = (
        names.join(F.broadcast(cc), "nid", "left")
        .withColumn("in_cc", F.col("cid").isNotNull())
        .withColumn("cid", F.coalesce(F.col("cid"), F.col("nid")))
        .filter((F.col("cnt") >= 2) | F.col("in_cc"))
    )
    canon = listings.withColumnsRenamed({"k": "cid", "name": "canonical_name"})
    return (
        labeled.groupBy("cid")
        .agg(
            F.sum("cnt").alias("n_members"),
            F.sum("noisy").alias("n_noisy"),
        )
        .join(F.broadcast(canon), "cid")
        .select(
            F.col("cid").alias("cluster_id"), "n_members", "n_noisy", "canonical_name"
        )
        .transform(sorted_output, "cluster_id")
    )


@query(
    "fk_integrity_audit",
    oracle="""
    -- referential-integrity audit over the warehouse FK graph: orphan
    -- counts per relation (rows whose FK matches no parent) — the
    -- feed-QA check a PIM runs after every supplier sync.
    SELECT 'orders.custkey' AS relation,
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS n_orphans,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'lineitem.orderkey',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'customer.nationkey',
           CAST((SELECT count(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT),
           CAST((SELECT count(*) FROM customer) AS BIGINT)
    ORDER BY relation
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for the core FK
    relations, each computed as a LEFT ANTI join (at scale the parent
    key set broadcasts for dimension-sized parents; the fact side
    never shuffles its payload — only the probe key). One output row
    per relation regardless of volume."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")

    def audit(name, child, fk, parent, pk):
        orphans = child.join(
            F.broadcast(parent.select(pk).distinct()),
            child[fk] == parent[pk],
            "left_anti",
        )
        return (
            orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
            .crossJoin(child.agg(F.count(F.lit(1)).alias("n_rows")))
            .select(F.lit(name).alias("relation"), "n_orphans", "n_rows")
        )

    return (
        audit("customer.nationkey", customer, "c_nationkey", nation, "n_nationkey")
        .unionByName(audit("lineitem.orderkey", lineitem, "l_orderkey", orders, "o_orderkey"))
        .unionByName(audit("orders.custkey", orders, "o_custkey", customer, "c_custkey"))
        .orderBy("relation")
    )


@query(
    "functional_dependency_check",
    oracle="""
    -- approximate functional-dependency mining: does A -> B hold?
    -- One grouped distinct-count per candidate pair; violating LHS
    -- values (|distinct B| > 1) counted. The schema-inference signal a
    -- PIM uses to detect denormalization errors in supplier feeds.
    WITH cands AS (
      SELECT 'o_custkey->o_orderpriority' AS fd,
             o_custkey AS lhs, count(DISTINCT o_orderpriority) AS nd
      FROM orders GROUP BY o_custkey
      UNION ALL
      SELECT 'p_brand->p_type', 0, count(DISTINCT p_type)
      FROM part GROUP BY p_brand
      UNION ALL
      SELECT 'n_nationkey->n_regionkey', n_nationkey, count(DISTINCT n_regionkey)
      FROM nation GROUP BY n_nationkey
    )
    SELECT fd,
           CAST(count(*) AS BIGINT) AS n_lhs_values,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM cands GROUP BY fd ORDER BY fd
    """,
)
def functional_dependency_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery: for candidate A -> B pairs,
    count LHS values with more than one distinct RHS. Each candidate
    is one partial-aggregated groupBy — the number of rows crossing
    the shuffle is |distinct A|, never the table. ``holds`` is the
    FD verdict; n_violating quantifies how badly it fails."""
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")

    def check(fd, df, lhs, rhs):
        per = df.groupBy(F.col(lhs).alias("lhs")).agg(
            F.count_distinct(F.col(rhs)).alias("nd")
        )
        return per.agg(
            F.lit(fd).alias("fd"),
            F.count(F.lit(1)).alias("n_lhs_values"),
            F.sum((F.col("nd") > 1).cast("bigint")).alias("n_violating"),
            (F.sum((F.col("nd") > 1).cast("bigint")) == 0).alias("holds"),
        ).select("fd", "n_lhs_values", "n_violating", "holds")

    return (
        check("n_nationkey->n_regionkey", nation, "n_nationkey", "n_regionkey")
        .unionByName(check("o_custkey->o_orderpriority", orders, "o_custkey", "o_orderpriority"))
        .unionByName(check("p_brand->p_type", part, "p_brand", "p_type"))
        .orderBy("fd")
    )


def scd2_apply_batch(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key: str,
    attr: str,
    ts_col: str,
    seq_col: str,
    batch_no: int,
) -> int:
    """Incrementally maintain an SCD Type 2 history table in the
    versioned store: fold one batch of (key, attr, event-time) facts
    into validity intervals, closing/extending each key's open
    interval as the attribute changes — WITHOUT recomputing history.

    Mechanics: collapse the batch into per-key runs (the same
    gaps-and-islands arithmetic as the full build), prepend each
    incoming key's current OPEN interval as run zero, re-collapse
    adjacent equal-attribute runs (an unchanged attribute EXTENDS the
    open interval instead of opening a redundant one), rebuild
    valid_to/is_current with one lead, and MERGE on (key, valid_from)
    — closed historical rows are never touched, so the commit cost is
    O(incoming keys' open+new rows), not O(history).

    The defining invariant (incremental == from-scratch rebuild over
    all facts seen so far, for in-order batches) is hash-gated by
    ``scd2_incremental_maintenance`` and pinned in pytest.
    """
    from pim_etl_spark.pipeline import versioned as V

    w_all = Window.partitionBy(key).orderBy(ts_col, seq_col)
    w_att = Window.partitionBy(key, attr).orderBy(ts_col, seq_col)
    runs = (
        batch.select(
            key,
            attr,
            ts_col,
            seq_col,
            F.row_number().over(w_all).alias("_rn"),
            F.row_number().over(w_att).alias("_rnp"),
        )
        .groupBy(key, attr, (F.col("_rn") - F.col("_rnp")).alias("_grp"))
        .agg(
            F.min(ts_col).alias("valid_from"),
            F.min("_rn").alias("_ord"),
            # the run's IDENTITY: its first event's seq — unique per
            # run and stable under extension (two runs of one key can
            # share a valid_from DATE, so the timestamp alone is not
            # a merge key)
            F.min_by(seq_col, F.struct(ts_col, seq_col)).alias("_first_seq"),
        )
        .drop("_grp")
    )
    if V.current_version(path) > 0:
        hist = V.read_version(spark, path)
        keys_in = runs.select(key).distinct()
        open_rows = (
            hist.filter(F.col("is_current"))
            .join(keys_in, key, "left_semi")
            .select(key, attr, "valid_from", F.lit(0).alias("_ord"), "_first_seq")
        )
        events = open_rows.unionByName(runs)
    else:
        events = runs
    # re-collapse adjacent equal-attribute runs across the stitch point
    w_ord = Window.partitionBy(key).orderBy("_ord")
    stitched = (
        events.withColumn("_prev_attr", F.lag(attr).over(w_ord))
        .withColumn(
            "_change", (~F.col(attr).eqNullSafe(F.col("_prev_attr"))).cast("int")
        )
        .withColumn("_seg", F.sum("_change").over(w_ord))
        .groupBy(key, attr, "_seg")
        .agg(
            F.min("valid_from").alias("valid_from"),
            F.min("_ord").alias("_ord"),
            # extension keeps the FIRST sub-run's identity (the open
            # row's), so the merge updates it instead of duplicating
            F.min_by("_first_seq", "_ord").alias("_first_seq"),
        )
    )
    w_lead = Window.partitionBy(key).orderBy("_ord")
    upserts = stitched.select(
        key,
        attr,
        "valid_from",
        F.lead("valid_from").over(w_lead).alias("valid_to"),
        F.lead("valid_from").over(w_lead).isNull().alias("is_current"),
        "_first_seq",
        F.lit(batch_no).cast("long").alias("_batch"),
    )
    if V.current_version(path) == 0:
        return V.commit_snapshot(upserts, path, op="scd2-bootstrap")
    return V.merge_files(
        spark, path, upserts, keys=[key, "_first_seq"], order_col="_batch"
    )


@query(
    "scd2_incremental_maintenance",
    oracle="""
    -- the IVM invariant for SCD Type 2: applying order batches
    -- incrementally (split at 1995/1997) must equal the gaps-and-
    -- islands rebuild over ALL facts — same runs, same boundaries,
    -- same single open interval per customer.
    WITH scoped AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM orders WHERE o_custkey % 10 = 3
    ), seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             row_number() OVER (PARTITION BY o_custkey, o_orderpriority
                                ORDER BY o_orderdate, o_orderkey) AS rnp
      FROM scoped
    ), runs AS (
      SELECT o_custkey, o_orderpriority,
             min(o_orderdate) AS valid_from,
             min(rn) AS first_rn
      FROM seq GROUP BY o_custkey, o_orderpriority, rn - rnp
    )
    SELECT o_custkey, o_orderpriority, valid_from,
           lead(valid_from) OVER w AS valid_to,
           lead(valid_from) OVER w IS NULL AS is_current
    FROM runs
    WINDOW w AS (PARTITION BY o_custkey ORDER BY first_rn)
    ORDER BY o_custkey, valid_from
    """,
)
def scd2_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 under the hash gate: three order batches
    (pre-1995, 1995-1996, 1997+) fold into the versioned history via
    ``scd2_apply_batch``; the final table must equal the from-scratch
    gaps-and-islands rebuild EXACTLY — an unmerged stitch (redundant
    interval for an unchanged attribute), a missed closure, or a
    touched historical row all hash-mismatch."""
    import shutil
    import tempfile

    scoped = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 3)
        .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    )
    tbl = tempfile.mkdtemp(prefix="pim-scd2-")
    try:
        cuts = [
            scoped.filter(F.col("o_orderdate") < "1995-01-01"),
            scoped.filter(
                (F.col("o_orderdate") >= "1995-01-01")
                & (F.col("o_orderdate") < "1997-01-01")
            ),
            scoped.filter(F.col("o_orderdate") >= "1997-01-01"),
        ]
        for i, b in enumerate(cuts, start=1):
            scd2_apply_batch(
                spark, tbl, b,
                key="o_custkey", attr="o_orderpriority",
                ts_col="o_orderdate", seq_col="o_orderkey", batch_no=i,
            )
        from pim_etl_spark.pipeline import versioned as V

        rows = (
            V.read_version(spark, tbl)
            .select(
                "o_custkey", "o_orderpriority", "valid_from", "valid_to", "is_current"
            )
            .orderBy("o_custkey", "valid_from")
            .collect()
        )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "o_custkey bigint, o_orderpriority string, valid_from timestamp, "
        "valid_to timestamp, is_current boolean",
    ).orderBy("o_custkey", "valid_from")


@query(
    "scd2_interval_lookup",
    oracle="""
    -- the READ side of SCD Type 2 (temporal point-in-interval join):
    -- each late-1997 lineitem shipment resolves the priority its
    -- customer's interval held AT ship time — a range join against
    -- the interval table, half-open [valid_from, valid_to).
    WITH seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             row_number() OVER (PARTITION BY o_custkey, o_orderpriority
                                ORDER BY o_orderdate, o_orderkey) AS rnp
      FROM orders
    ), runs AS (
      SELECT o_custkey, o_orderpriority,
             min(o_orderdate) AS valid_from, min(rn) AS first_rn
      FROM seq GROUP BY o_custkey, o_orderpriority, rn - rnp
    ), scd AS (
      SELECT o_custkey, o_orderpriority, valid_from,
             lead(valid_from) OVER (PARTITION BY o_custkey
                                    ORDER BY first_rn) AS valid_to
      FROM runs
    ), facts AS (
      SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, l.l_shipdate
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= TIMESTAMP '1998-09-01'
    )
    SELECT f.o_custkey,
           s.o_orderpriority AS priority_at_ship,
           CAST(count(*) AS BIGINT) AS n_shipments
    FROM facts f JOIN scd s
      ON s.o_custkey = f.o_custkey
     AND f.l_shipdate >= s.valid_from
     AND (s.valid_to IS NULL OR f.l_shipdate < s.valid_to)
    GROUP BY f.o_custkey, s.o_orderpriority
    ORDER BY f.o_custkey, priority_at_ship
    """,
)
def scd2_interval_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal fact-to-dimension lookup: late shipments join the SCD2
    priority interval in force AT ship time (half-open intervals, the
    open row matching everything after its start). The join is an
    equi-join on the customer key plus a range predicate — Spark plans
    it as a hash join with the range as a post-filter, so there is no
    all-pairs blowup; at 100 TB the dimension side is
    interval-count-sized and broadcasts.
    """
    orders = load_table(spark, sf_dir, "orders")
    w_all = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_pri = Window.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    runs = (
        orders.select(
            "o_custkey",
            "o_orderpriority",
            "o_orderdate",
            F.row_number().over(w_all).alias("rn"),
            F.row_number().over(w_pri).alias("rnp"),
        )
        .groupBy("o_custkey", "o_orderpriority", (F.col("rn") - F.col("rnp")).alias("g"))
        .agg(F.min("o_orderdate").alias("valid_from"), F.min("rn").alias("first_rn"))
    )
    scd = runs.select(
        "o_custkey",
        "o_orderpriority",
        "valid_from",
        F.lead("valid_from")
        .over(Window.partitionBy("o_custkey").orderBy("first_rn"))
        .alias("valid_to"),
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "1998-09-01"
    )
    facts = li.join(
        orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey")
    ).select("o_custkey", "l_shipdate")
    joined = facts.join(
        F.broadcast(scd),
        (facts.o_custkey == scd.o_custkey)
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("l_shipdate") < F.col("valid_to"))),
    )
    return (
        joined.groupBy(facts.o_custkey, F.col("o_orderpriority").alias("priority_at_ship"))
        .agg(F.count(F.lit(1)).alias("n_shipments"))
        .transform(sorted_output, "o_custkey", "priority_at_ship")
    )


@query(
    "bitemporal_asof_query",
    oracle="""
    -- bitemporal query: SYSTEM time = commit-log snapshot (the store
    -- as of the SECOND ingested batch, i.e. facts before 1997),
    -- BUSINESS time = the validity interval holding on 1995-06-01.
    -- The oracle rebuilds that world closed-form: SCD2 over pre-1997
    -- facts only, then the interval covering the business date.
    WITH scoped AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM orders
      WHERE o_custkey % 10 = 3 AND o_orderdate < DATE '1997-01-01'
    ), seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             row_number() OVER (PARTITION BY o_custkey, o_orderpriority
                                ORDER BY o_orderdate, o_orderkey) AS rnp
      FROM scoped
    ), runs AS (
      SELECT o_custkey, o_orderpriority,
             min(o_orderdate) AS valid_from, min(rn) AS first_rn
      FROM seq GROUP BY o_custkey, o_orderpriority, rn - rnp
    ), scd AS (
      SELECT o_custkey, o_orderpriority, valid_from,
             lead(valid_from) OVER (PARTITION BY o_custkey
                                    ORDER BY first_rn) AS valid_to
      FROM runs
    )
    SELECT o_custkey, o_orderpriority AS priority_then, valid_from
    FROM scd
    WHERE valid_from <= TIMESTAMP '1995-06-01'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '1995-06-01')
    ORDER BY o_custkey
    """,
)
def bitemporal_asof_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal AS-OF: the two time axes composed — SYSTEM time via
    commit-log time travel (read the SCD2 store at the snapshot that
    had ingested only the first two batches), BUSINESS time via the
    validity interval covering 1995-06-01. "What did we believe on
    ingest day 2 the customer's priority was on 1995-06-01?" — the
    question neither axis answers alone. Built from the same
    incremental batches as ``scd2_incremental_maintenance``; the
    snapshot read proves later commits are invisible to the
    time-traveled world."""
    import shutil
    import tempfile

    from pim_etl_spark.pipeline import versioned as V

    scoped = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 3)
        .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    )
    tbl = tempfile.mkdtemp(prefix="pim-bitemporal-")
    try:
        cuts = [
            scoped.filter(F.col("o_orderdate") < "1995-01-01"),
            scoped.filter(
                (F.col("o_orderdate") >= "1995-01-01")
                & (F.col("o_orderdate") < "1997-01-01")
            ),
            scoped.filter(F.col("o_orderdate") >= "1997-01-01"),
        ]
        versions = []
        for i, b in enumerate(cuts, start=1):
            scd2_apply_batch(
                spark, tbl, b,
                key="o_custkey", attr="o_orderpriority",
                ts_col="o_orderdate", seq_col="o_orderkey", batch_no=i,
            )
            versions.append(V.current_version(tbl))
        biz_date = "1995-06-01"
        rows = (
            V.read_version(spark, tbl, versions[1])  # system time: batch 2
            .filter(
                (F.col("valid_from") <= biz_date)
                & (F.col("valid_to").isNull() | (F.col("valid_to") > biz_date))
            )
            .select(
                "o_custkey",
                F.col("o_orderpriority").alias("priority_then"),
                "valid_from",
            )
            .orderBy("o_custkey")
            .collect()
        )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_custkey bigint, priority_then string, valid_from timestamp"
    ).orderBy("o_custkey")


@query(
    "k_anonymity_audit",
    oracle="""
    -- k-anonymity over the quasi-identifier (nation, segment): group
    -- sizes, the violating-group count for k=5, and the re-identified
    -- population — the privacy audit run before sharing a customer
    -- extract.
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS group_size
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(group_size) AS BIGINT) AS min_group_size,
           CAST(sum(CASE WHEN group_size < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
           CAST(sum(CASE WHEN group_size < 5 THEN group_size ELSE 0 END) AS BIGINT) AS n_reidentifiable_rows,
           min(group_size) >= 5 AS satisfies_k5
    FROM g
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: are there quasi-identifier combinations
    (nation × market segment) shared by fewer than k individuals? One
    grouped count (QI-cardinality-sized) + one scalar rollup — the
    check a data-sharing pipeline runs before releasing an extract,
    and the dual of the PII-redaction operator (which scrubs values;
    this bounds linkability)."""
    g = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    small = (F.col("group_size") < 5).cast("bigint")
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("group_size").alias("min_group_size"),
        F.sum(small).alias("n_violating_groups"),
        F.sum(F.when(F.col("group_size") < 5, F.col("group_size")).otherwise(0)).alias(
            "n_reidentifiable_rows"
        ),
        (F.min("group_size") >= 5).alias("satisfies_k5"),
    )


@query(
    "key_skew_gini",
    oracle="""
    -- Gini coefficient of the shuffle-key load distribution — the
    -- skew diagnostic that predicts hot reducers before a job runs.
    -- Entirely integer arithmetic on exact counts:
    -- G_e6 = (2*Σ(i*x_i) - (n+1)*Σx) * 1e6 // (n*Σx), x sorted asc.
    WITH counts AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS x
      FROM lineitem GROUP BY l_suppkey
    ), ranked AS (
      SELECT x, row_number() OVER (ORDER BY x ASC, l_suppkey ASC) AS i
      FROM counts
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(x) AS BIGINT) AS n_rows,
           CAST(max(x) AS BIGINT) AS max_key_rows,
           CAST((2 * sum(i * x) - (count(*) + 1) * sum(x)) * 1000000
                // (count(*) * sum(x)) AS BIGINT) AS gini_e6
    FROM ranked
    """,
)
def key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew report: the Gini coefficient of per-key row
    counts (0 = perfectly even, →1 = one hot key) — the diagnostic
    that tells you whether a groupBy/join key needs salting BEFORE the
    job melts a reducer. The ranked window runs over the key-count
    aggregate (key-cardinality-sized), never the fact table, and the
    coefficient is exact integer arithmetic — no FP, no drift."""
    from pyspark.sql import Window

    counts = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    ranked = counts.withColumn(
        "i", F.row_number().over(Window.orderBy(F.col("x").asc(), F.col("l_suppkey").asc()))
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("x").alias("n_rows"),
        F.max("x").alias("max_key_rows"),
        F.expr(
            "(2 * sum(i * x) - (count(1) + 1) * sum(x)) * 1000000 div (count(1) * sum(x))"
        ).alias("gini_e6"),
    )


@query(
    "golden_record_survivorship",
    oracle="""
    -- MDM golden record with PER-COLUMN survivorship: each attribute
    -- independently takes its most recent TRUSTED value, so different
    -- columns of one golden row may come from different source
    -- events. Trust masks are deterministic: value is untrusted on
    -- 'error' events, the props key is untrusted when divisible by 3.
    SELECT user_id,
           max_by(value, event_id) FILTER (
             WHERE event_type <> 'error') AS latest_value,
           max_by(CAST(json_extract(props, '$.k') AS BIGINT), event_id) FILTER (
             WHERE CAST(json_extract(props, '$.k') AS BIGINT) % 3 <> 0) AS latest_prop_k,
           max(ts) FILTER (WHERE event_type = 'purchase') AS last_purchase_ts,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_source_types,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record merge with column-level survivorship — the MDM
    semantics one step past the reference's row-level keep-latest
    upsert (mongodb_loader.py:93-197): each attribute survives
    INDEPENDENTLY as the most recent value passing that attribute's
    trust rule, so a golden row is a column-wise composite of several
    source events. Expressed as ``max_by`` aggregates with per-column
    filters — one exchange on the grouping key, map-side partials, no
    window, no self-join (the naive formulation is one ranked window
    per column: N columns × N shuffles).

    Scale: a single hash aggregate keyed on the entity id; each
    max_by partial carries one (value, event_id) pair per column —
    state is O(columns), not O(history). This is the plan shape that
    survives a 10^9-entity master table.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by("value", F.when(F.col("event_type") != "error", F.col("event_id"))).alias(
                "latest_value"
            ),
            F.max_by(k, F.when(k % 3 != 0, F.col("event_id"))).alias("latest_prop_k"),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
                "last_purchase_ts"
            ),
            F.count_distinct(F.col("event_type")).cast("bigint").alias("n_source_types"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "fd_violation_repair",
    oracle="""
    -- constraint-based data repair: for every LHS violating the
    -- candidate FD o_custkey -> o_orderpriority, repair to the
    -- MAJORITY value (tie -> lexicographic min) and report how many
    -- rows the repair would rewrite — the holistic-cleaning
    -- counterpart of functional_dependency_check's detection pass.
    WITH groups AS (
      SELECT o_custkey, o_orderpriority, count(*) AS n
      FROM orders GROUP BY 1, 2
    ), ranked AS (
      SELECT o_custkey, o_orderpriority, n,
             sum(n) OVER (PARTITION BY o_custkey) AS n_total,
             count(*) OVER (PARTITION BY o_custkey) AS n_variants,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY n DESC, o_orderpriority ASC) AS rk
      FROM groups
    )
    SELECT o_custkey,
           o_orderpriority AS canonical_priority,
           CAST(n_variants AS BIGINT) AS n_variants,
           CAST(n_total - n AS BIGINT) AS n_rows_repaired
    FROM ranked
    WHERE rk = 1 AND n_variants > 1
    ORDER BY o_custkey
    """,
)
def fd_violation_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote repair plan for a violated functional dependency
    (`functional_dependency_check` finds violations; this entry
    decides the fix): per violating LHS, the canonical RHS is the most
    frequent value with a deterministic tie-break, and the cost is the
    number of rows a repair rewrite would touch.

    Plan shape: one partial-agg shuffle to (LHS, RHS) counts — the
    only pass over fact rows — then windows over the LHS-grouped
    count table (LHS-cardinality-sized, already partitioned by the
    window key after the groupBy, so the window adds NO exchange).
    Applying the repair at scale is then a broadcast join of this
    repair plan against the fact table — decision and rewrite stay
    separate, Write-Audit-Publish style.
    """
    groups = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("o_custkey")
    wr = Window.partitionBy("o_custkey").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    return (
        groups.withColumn("n_total", F.sum("n").over(w))
        .withColumn("n_variants", F.count(F.lit(1)).over(w))
        .withColumn("rk", F.row_number().over(wr))
        .filter((F.col("rk") == 1) & (F.col("n_variants") > 1))
        .select(
            "o_custkey",
            F.col("o_orderpriority").alias("canonical_priority"),
            F.col("n_variants").cast("bigint").alias("n_variants"),
            (F.col("n_total") - F.col("n")).cast("bigint").alias("n_rows_repaired"),
        )
        .orderBy("o_custkey")
    )


# Benford's-law expected first-digit proportions, floor(log10(1+1/d)·1e4)
# — precomputed constants so neither engine evaluates a transcendental.
_BENFORD_E4 = {1: 3010, 2: 1760, 3: 1249, 4: 969, 5: 791, 6: 669, 7: 579, 8: 511, 9: 457}


def _benford_oracle() -> str:
    expected = " ".join(
        f"WHEN {d} THEN {v}" for d, v in _BENFORD_E4.items()
    )
    return f"""
    -- Benford first-digit audit: the leading digit of the BIGINT cent
    -- amount via string head (bigint→string renders identically in
    -- both engines — never float formatting), observed share
    -- floor-scaled ×10^4 by integer division, expected share from
    -- precomputed constants (no transcendental in either engine).
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    counted AS (
      SELECT digit, count(*) AS n, sum(count(*)) OVER () AS total
      FROM digits GROUP BY digit
    )
    SELECT digit, CAST(n AS BIGINT) AS n,
           CAST((n * 10000) // total AS BIGINT) AS observed_e4,
           CAST(CASE digit {expected} END AS BIGINT) AS benford_e4,
           CAST(abs((n * 10000) // total - CASE digit {expected} END)
                AS BIGINT) AS abs_dev_e4
    FROM counted
    ORDER BY digit
    """


@query("benford_first_digit_audit", oracle=_benford_oracle())
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance audit over order amounts — the
    forensic-accounting data-quality check: naturally-occurring
    multiplicative amounts lead with digit d at probability
    log10(1+1/d); fabricated or truncated data shows up as first-digit
    skew. Everything stays exact integers: the leading digit comes
    from the BIGINT cent amount's string head (identical rendering in
    both engines — float formatting never touches the value), observed
    shares are floor-scaled ×10^4 by integer division, and the
    expected shares are precomputed constants, so no transcendental is
    evaluated anywhere. One partial-agg shuffle on 9 digit groups; the
    share window runs over the 9-row aggregate."""
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    digits = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
    )
    counted = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    counted = counted.withColumn(
        "total", F.sum("n").over(Window.partitionBy())
    )
    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_E4.items() for x in kv]
    )[F.col("digit")]
    return (
        counted.select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.expr("n * 10000 div total").cast("bigint").alias("observed_e4"),
            expected.cast("bigint").alias("benford_e4"),
            F.abs(
                F.expr("n * 10000 div total") - expected
            ).cast("bigint").alias("abs_dev_e4"),
        )
        .orderBy("digit")
    )


@query(
    "dynamic_partition_pruning",
    oracle="""
    -- values twin of the DPP star join: revenue per fast-tier
    -- priority. The Spark side must produce these numbers having
    -- physically scanned ONLY the two fast-tier partitions (pruned at
    -- runtime by the dim filter — asserted in
    -- tests/test_plan_shapes.py); the numbers themselves prove the
    -- pruned scan lost no rows.
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS revenue
    FROM orders
    WHERE o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
    GROUP BY 1
    ORDER BY 1
    """,
)
def dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a partitioned fact table — the
    star-schema scan pattern that makes partition-on-join-key layouts
    pay at 100 TB: the fact (orders partitioned by o_orderpriority)
    joins a tiny dim whose FILTER is only known at runtime; Catalyst
    injects a dynamicpruning subquery into the fact scan's
    PartitionFilters, so the two fast-tier partitions are the only
    ones read — no manual partition list, no full scan. At 100 TB a
    date-partitioned fact joined to a filtered date dim prunes years
    of data the same way (this is free with declarative plans; an
    imperative engine has to thread the pruning by hand).

    The partitioned layout is staged per-entry (the catalog's inputs
    are unpartitioned parquet); the layout write is the setup, the
    gated query is the DPP join."""
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    tbl = tempfile.mkdtemp(prefix="pim-dpp-")
    try:
        orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(tbl)
        fact = spark.read.parquet(tbl)
        dim = (
            orders.select("o_orderpriority")
            .distinct()
            .withColumn(
                "tier",
                F.when(
                    F.col("o_orderpriority").startswith("1-")
                    | F.col("o_orderpriority").startswith("2-"),
                    F.lit("fast"),
                ).otherwise(F.lit("slow")),
            )
        )
        rows = (
            fact.join(
                F.broadcast(dim.filter(F.col("tier") == "fast")), "o_orderpriority"
            )
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
                .cast("double")
                .alias("revenue"),
            )
            .orderBy("priority")
            .collect()
        )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return spark.createDataFrame(
        rows, "priority string, n_orders bigint, revenue double"
    ).transform(sorted_output, "priority")


def assign_surrogate_keys(
    df: DataFrame, key_col: str, sk_col: str = "sk", base: int = 0, prefix: str = ""
) -> DataFrame:
    """Distributed DENSE surrogate-key assignment (the identity-column
    / dimension-key verb) without the classic scale-killer — a
    ``row_number`` over a global ORDER BY collapses to ONE partition.
    Instead: md5-bucket each natural key (256 buckets, deterministic),
    rank WITHIN buckets (parallel windows), then offset each bucket by
    the prefix-sum of bucket counts — a 256-row keys-only aggregate
    whose global window is free. ids are dense in [base, base+n) and
    the key→id mapping is a pure function of the key set (stable under
    any partitioning, reproducible cross-engine).

    ``prefix`` salts the bucket hash (distinct id spaces for distinct
    load batches)."""
    bucket = F.substring(F.md5(F.concat(F.lit(prefix), F.col(key_col).cast("string"))), 1, 2)
    w_local = Window.partitionBy("__b").orderBy(key_col)
    staged = df.withColumn("__b", bucket).withColumn(
        "__r", F.row_number().over(w_local)
    )
    w_pref = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        staged.groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select("__b", F.coalesce(F.sum("__n").over(w_pref), F.lit(0)).alias("__off"))
    )
    return (
        staged.join(F.broadcast(offsets), "__b")
        .withColumn(sk_col, (F.lit(base) + F.col("__off") + F.col("__r") - 1).cast("long"))
        .drop("__b", "__r", "__off")
    )


@query(
    "surrogate_key_merge",
    oracle="""
    -- full twin of two-batch dense surrogate-key assignment: batch 1
    -- (pre-1997) keys get ids [0, n1) by (md5-bucket, key) rank +
    -- bucket prefix-sum; batch 2 continues from n1. sum(sk) pins
    -- density; sum(sk * (k % 97)) pins the exact key->id BIJECTION —
    -- a different bucket hash, rank order, or offset arithmetic
    -- shifts it.
    WITH scoped AS (
      SELECT o_orderkey AS k, o_orderdate < DATE '1997-01-01' AS early
      FROM orders WHERE o_orderkey % 6 = 1
    ),
    b1 AS (
      SELECT k, substr(md5(CAST(k AS VARCHAR)), 1, 2) AS b FROM scoped WHERE early
    ),
    r1 AS (
      SELECT k, b, row_number() OVER (PARTITION BY b ORDER BY k) AS r FROM b1
    ),
    o1 AS (
      SELECT b, coalesce(sum(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS off
      FROM (SELECT b, count(*) AS n FROM b1 GROUP BY b)
    ),
    sk1 AS (SELECT r1.k, o1.off + r1.r - 1 AS sk FROM r1 JOIN o1 USING (b)),
    n1 AS (SELECT count(*) AS n FROM b1),
    b2 AS (
      SELECT k, substr(md5(CAST(k AS VARCHAR)), 1, 2) AS b FROM scoped WHERE NOT early
    ),
    r2 AS (
      SELECT k, b, row_number() OVER (PARTITION BY b ORDER BY k) AS r FROM b2
    ),
    o2 AS (
      SELECT b, coalesce(sum(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS off
      FROM (SELECT b, count(*) AS n FROM b2 GROUP BY b)
    ),
    sk2 AS (
      SELECT r2.k, n1.n + o2.off + r2.r - 1 AS sk
      FROM r2 JOIN o2 USING (b), n1
    ),
    allsk AS (SELECT * FROM sk1 UNION ALL SELECT * FROM sk2)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(sk) AS BIGINT) AS max_sk,
           CAST(sum(sk) AS BIGINT) AS sum_sk,
           CAST(sum(sk * (k % 97)) AS BIGINT) AS mapping_checksum
    FROM allsk
    """,
)
def surrogate_key_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-table surrogate keys at scale: batch 1 keys are
    assigned dense ids, a later batch CONTINUES the sequence from the
    committed watermark — existing keys never re-key, ids never gap or
    collide, and assignment is deterministic under any partitioning
    (md5-bucket rank + prefix-sum offsets; no single-partition global
    window anywhere). The mapping checksum hash-gates the exact
    bijection, not just density."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate")
        .filter(F.col("o_orderkey") % 6 == 1)
    )
    batch1 = orders.filter(F.col("o_orderdate") < "1997-01-01").select(
        F.col("o_orderkey").alias("k")
    )
    batch2 = orders.filter(F.col("o_orderdate") >= "1997-01-01").select(
        F.col("o_orderkey").alias("k")
    )
    sk1 = assign_surrogate_keys(batch1, "k", base=0)
    n1 = sk1.count()  # the committed id watermark a real dimension
    # table stores in its manifest (max+1 == count: ids are dense)
    sk2 = assign_surrogate_keys(batch2, "k", base=n1)
    allsk = sk1.unionByName(sk2)
    return allsk.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("sk").alias("max_sk"),
        F.sum("sk").cast("long").alias("sum_sk"),
        F.sum(F.col("sk") * (F.col("k") % 97)).cast("long").alias("mapping_checksum"),
    )


def route_aggregate(
    rollups: dict[str, tuple[tuple[str, ...], DataFrame]],
    group_cols: Sequence[str],
):
    """Aggregate navigation (the materialized-view ROUTING decision a
    semantic layer makes): given registered rollups — name ->
    (grouping columns, pre-aggregated DataFrame with distributive
    measures ``n`` and ``sum_cents``) — answer a GROUP BY over
    ``group_cols`` from the SMALLEST rollup whose grouping is a
    superset of the request (distributive measures re-aggregate
    losslessly: sum of sums, sum of counts). Returns (name, frame).
    Falls back to None when nothing covers the request (caller scans
    the base table). At 100 TB this is the difference between reading
    a few thousand rollup rows and rescanning the lake per dashboard
    tile."""
    want = set(group_cols)
    candidates = [
        (len(cols), name, df)
        for name, (cols, df) in rollups.items()
        if want.issubset(set(cols))
    ]
    if not candidates:
        return None, None
    _, name, df = min(candidates, key=lambda t: (t[0], t[1]))
    return name, df


@query(
    "rollup_query_rewrite",
    oracle="""
    -- base-table twin of the MV-routed aggregate: revenue cents per
    -- return flag, computed straight from lineitem. The Spark side
    -- answered it from the SMALLER registered rollup (flag+status, 6
    -- rows) chosen over the wider flag+status+shipyear one — lossless
    -- because sums/counts are distributive. chosen_mv pins the
    -- routing decision itself.
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           'by_flag_status' AS chosen_mv
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def rollup_query_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view query rewrite under the hash gate: two rollups
    register (flag+status+shipyear; flag+status), a flag-level query
    routes to the SMALLEST covering one, and re-aggregation of its
    distributive measures must equal the base-table scan exactly (the
    integer-cents discipline makes the equality bit-exact, not
    approximate). The routing choice is part of the gated output."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.year("l_shipdate").alias("ship_year"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )

    def rollup(*cols):
        return li.groupBy(*cols).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )

    rollups = {
        "by_flag_status_year": (
            ("l_returnflag", "l_linestatus", "ship_year"),
            rollup("l_returnflag", "l_linestatus", "ship_year"),
        ),
        "by_flag_status": (
            ("l_returnflag", "l_linestatus"),
            rollup("l_returnflag", "l_linestatus"),
        ),
    }
    name, mv = route_aggregate(rollups, ["l_returnflag"])
    assert name == "by_flag_status", name  # smallest covering rollup
    return (
        mv.groupBy("l_returnflag")
        .agg(
            F.sum("n").cast("long").alias("n_items"),
            F.sum("sum_cents").cast("long").alias("revenue_cents"),
        )
        .withColumn("chosen_mv", F.lit(name))
        .orderBy("l_returnflag")
    )


@query(
    "late_arriving_dimension",
    oracle="""
    -- closed-form twin of the late-arriving-dimension lifecycle over
    -- the %13=0 fact slice: v1 enriches facts against the PARTIAL
    -- dimension (suppliers with s_suppkey %3 = 0 not yet arrived →
    -- UNKNOWN member), the late dim batch then RESTATES exactly the
    -- affected facts through a keyed merge. unknown_at_v1 pins the
    -- placeholder phase, restated_rows pins the touched-only merge,
    -- final_unknown = 0 pins completeness, and the revenue total
    -- proves no fact was lost or duplicated across the restatement.
    WITH facts AS (
      -- normalized to the unique (order, line, supplier) grain: the
      -- synthetic data carries duplicate line numbers (NOTES.md), and
      -- a keyed restatement needs a true key
      SELECT l_orderkey, l_linenumber, l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem WHERE l_orderkey % 13 = 0
      GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_facts,
           CAST(count(*) FILTER (WHERE l_suppkey % 3 = 0) AS BIGINT)
             AS unknown_at_v1,
           CAST(count(*) FILTER (WHERE l_suppkey % 3 = 0) AS BIGINT)
             AS restated_rows,
           CAST(0 AS BIGINT) AS final_unknown,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM facts
    """,
)
def late_arriving_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling (the classic ETL restatement
    pattern): facts that reference a dimension member that has not
    landed yet enrich against the UNKNOWN placeholder instead of being
    dropped or stalling the load; when the member arrives, a keyed
    MERGE restates ONLY the affected fact rows (O(touched files), via
    the versioned store's skipping merge — never a full re-enrich).
    The hash gate pins the placeholder count, the restated-row count,
    zero remaining unknowns, and revenue conservation."""
    import shutil
    import tempfile

    orders_keys = ["l_orderkey", "l_linenumber", "l_suppkey"]
    facts = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 13 == 0)
        .groupBy("l_orderkey", "l_linenumber", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    dim_v1 = supp.filter(F.col("s_suppkey") % 3 != 0)
    dim_late = supp.filter(F.col("s_suppkey") % 3 == 0)
    tbl = tempfile.mkdtemp(prefix="pim-latedim-")
    try:
        from pim_etl_spark.pipeline import versioned as V

        def enrich(f, dim):
            return f.join(
                F.broadcast(dim), f.l_suppkey == dim.s_suppkey, "left"
            ).select(
                *orders_keys,
                "cents",
                F.coalesce("s_name", F.lit("UNKNOWN")).alias("supplier_name"),
                F.lit(1).cast("long").alias("version"),
            )

        V.commit_snapshot(
            enrich(facts, dim_v1).repartition(2), tbl, op="bootstrap",
            stats_cols=("l_orderkey",),
        )
        v1 = V.read_version(spark, tbl)
        unknown_v1 = v1.filter(F.col("supplier_name") == "UNKNOWN").count()

        # the late members land: restate ONLY the affected facts
        affected = facts.filter(F.col("l_suppkey") % 3 == 0)
        restated = enrich(affected, dim_late).withColumn(
            "version", F.lit(2).cast("long")
        )
        n_restated = restated.count()
        V.merge_files(spark, tbl, restated, keys=orders_keys, order_col="version")

        head = V.read_version(spark, tbl)
        agg = head.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("supplier_name") == "UNKNOWN", 1)).alias("unk"),
            F.sum("cents").cast("long").alias("rev"),
        ).collect()[0]
        rows = [(agg["n"], unknown_v1, n_restated, agg["unk"], agg["rev"])]
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "n_facts bigint, unknown_at_v1 bigint, restated_rows bigint, "
        "final_unknown bigint, revenue_cents bigint",
    )


@query(
    "join_multiplicity_audit",
    oracle="""
    -- data-modeling contract audit twin: for each declared 1:N
    -- relationship, the observed child volume, parent coverage, max
    -- fan-out, and floor-scaled mean fan-out. A fan-out explosion
    -- (the classic join-bug precursor) or a parent-coverage drop
    -- shifts these before any downstream join silently duplicates
    -- rows.
    WITH rels AS (
      SELECT 'orders->customer' AS rel, o_custkey AS parent FROM orders
      UNION ALL
      SELECT 'lineitem->orders', l_orderkey FROM lineitem
      UNION ALL
      SELECT 'lineitem->part', l_partkey FROM lineitem
    ),
    per_parent AS (
      SELECT rel, parent, CAST(count(*) AS BIGINT) AS n
      FROM rels GROUP BY 1, 2
    )
    SELECT rel,
           CAST(sum(n) AS BIGINT) AS n_children,
           CAST(count(*) AS BIGINT) AS n_parents,
           CAST(max(n) AS BIGINT) AS max_fanout,
           CAST(sum(n) * 10000 // count(*) AS BIGINT) AS mean_fanout_e4
    FROM per_parent
    GROUP BY rel
    ORDER BY rel
    """,
)
def join_multiplicity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relationship-multiplicity audit (the contract check
    `fk_integrity_audit`'s orphan scan doesn't cover): per declared
    1:N edge, observed fan-out statistics — the early-warning signal
    for join explosions and silent row duplication. One union of
    (rel, parent) pairs, one partial-agg per parent, one rollup; the
    child tables are scanned once each with only key columns read."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rels = (
        orders.select(
            F.lit("orders->customer").alias("rel"), F.col("o_custkey").alias("parent")
        )
        .unionByName(
            li.select(
                F.lit("lineitem->orders").alias("rel"),
                F.col("l_orderkey").alias("parent"),
            )
        )
        .unionByName(
            li.select(
                F.lit("lineitem->part").alias("rel"),
                F.col("l_partkey").alias("parent"),
            )
        )
    )
    per_parent = rels.groupBy("rel", "parent").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_parent.groupBy("rel")
        .agg(
            F.sum("n").cast("long").alias("n_children"),
            F.count(F.lit(1)).alias("n_parents"),
            F.max("n").cast("long").alias("max_fanout"),
            F.expr("sum(n) * 10000 DIV count(*)").alias("mean_fanout_e4"),
        )
        .orderBy("rel")
    )


MERKLE_COARSE = 64
MERKLE_FINE = 1024


@query(
    "merkle_range_diff",
    oracle=f"""
    -- anti-entropy replica reconciliation: two-level merkle compare.
    -- The replica is the primary with md5-planted divergence (cents
    -- +1 on ~1/997 keys, rows missing on ~1/1013 keys). Level 1
    -- compares {MERKLE_COARSE} coarse bucket hashes (XOR-folded
    -- 60-bit row md5s — order/partitioning independent); only
    -- diverging coarse buckets descend to their {MERKLE_FINE}-bucket
    -- fine level. Output: the diverging fine buckets with both
    -- hashes, plus each side's row count in the bucket.
    WITH pr AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    rep AS (
      SELECT k,
             cents + CASE WHEN CAST(('0x' || substr(md5('tamper:' || CAST(k AS VARCHAR)), 1, 6)) AS BIGINT) % 997 = 0
                          THEN 1 ELSE 0 END AS cents
      FROM pr
      WHERE CAST(('0x' || substr(md5('drop:' || CAST(k AS VARCHAR)), 1, 6)) AS BIGINT) % 1013 <> 0
    ),
    ph AS (
      SELECT k, cents,
             CAST(('0x' || substr(md5('mb:' || CAST(k AS VARCHAR)), 1, 6)) AS BIGINT) % {MERKLE_FINE} AS fine
      FROM pr
    ),
    rh AS (
      SELECT k, cents,
             CAST(('0x' || substr(md5('mb:' || CAST(k AS VARCHAR)), 1, 6)) AS BIGINT) % {MERKLE_FINE} AS fine
      FROM rep
    ),
    pf AS (
      SELECT fine, fine % {MERKLE_COARSE} AS coarse,
             CAST(bit_xor(CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || CAST(cents AS VARCHAR)), 1, 15)) AS BIGINT)) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM ph GROUP BY 1, 2
    ),
    rf AS (
      SELECT fine, fine % {MERKLE_COARSE} AS coarse,
             CAST(bit_xor(CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || CAST(cents AS VARCHAR)), 1, 15)) AS BIGINT)) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM rh GROUP BY 1, 2
    ),
    pc AS (SELECT coarse, CAST(bit_xor(h) AS BIGINT) AS h FROM pf GROUP BY 1),
    rc AS (SELECT coarse, CAST(bit_xor(h) AS BIGINT) AS h FROM rf GROUP BY 1),
    dc AS (
      SELECT pc.coarse FROM pc JOIN rc ON pc.coarse = rc.coarse AND pc.h <> rc.h
      UNION ALL SELECT coarse FROM pc WHERE coarse NOT IN (SELECT coarse FROM rc)
      UNION ALL SELECT coarse FROM rc WHERE coarse NOT IN (SELECT coarse FROM pc)
    )
    SELECT f.fine,
           COALESCE(p.h, 0) AS primary_hash, COALESCE(r.h, 0) AS replica_hash,
           COALESCE(p.n, 0) AS primary_n, COALESCE(r.n, 0) AS replica_n
    FROM (SELECT DISTINCT fine FROM (SELECT fine FROM pf WHERE coarse IN (SELECT coarse FROM dc)
                                     UNION ALL
                                     SELECT fine FROM rf WHERE coarse IN (SELECT coarse FROM dc))) f
    LEFT JOIN pf p ON f.fine = p.fine
    LEFT JOIN rf r ON f.fine = r.fine
    WHERE COALESCE(p.h, 0) <> COALESCE(r.h, 0) OR COALESCE(p.n, 0) <> COALESCE(r.n, 0)
    ORDER BY f.fine
    """,
)
def merkle_range_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-tree anti-entropy (the replica-repair verb behind
    Cassandra repair / DynamoDB sync, and the range-granular sequel to
    table_fingerprint_checksum's single table hash): bucket hashes are
    XOR-folded 60-bit row md5s, so they are partitioning- and
    order-independent and mergeable bottom-up; level 1 compares
    {MERKLE_COARSE} coarse hashes, and ONLY diverging coarse subtrees
    descend to the {MERKLE_FINE}-bucket fine level. At 100 TB this is
    the bandwidth story: the coarse exchange is {MERKLE_COARSE} longs
    regardless of table size, and fine work is proportional to
    DIVERGENCE, not volume. The replica's divergence is md5-planted
    (value tamper ~1/997 keys, missing rows ~1/1013), so the exact
    diverging bucket set is replayable cross-engine."""
    pr = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    k_s = F.col("k").cast("string")
    tamper = (
        F.conv(F.substring(F.md5(F.concat(F.lit("tamper:"), k_s)), 1, 6), 16, 10).cast("long")
        % 997
        == 0
    ).cast("long")
    dropped = (
        F.conv(F.substring(F.md5(F.concat(F.lit("drop:"), k_s)), 1, 6), 16, 10).cast("long")
        % 1013
        != 0
    )
    rep = pr.filter(dropped).select("k", (F.col("cents") + tamper).alias("cents"))

    def fine_level(df):
        fine = (
            F.conv(F.substring(F.md5(F.concat(F.lit("mb:"), k_s)), 1, 6), 16, 10).cast("long")
            % MERKLE_FINE
        )
        h60 = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", k_s, F.col("cents").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        return (
            df.select(fine.alias("fine"), h60.alias("h60"))
            .groupBy("fine")
            .agg(F.bit_xor("h60").alias("h"), F.count(F.lit(1)).cast("long").alias("n"))
            .withColumn("coarse", F.col("fine") % MERKLE_COARSE)
        )

    pf = fine_level(pr).cache()
    rf = fine_level(rep).cache()
    pc = pf.groupBy("coarse").agg(F.bit_xor("h").alias("h"))
    rc = rf.groupBy("coarse").agg(F.bit_xor("h").alias("h"))
    dc = (
        pc.join(rc.withColumnsRenamed({"h": "rh"}), "coarse", "full")
        .filter(
            (F.col("h").isNull())
            | (F.col("rh").isNull())
            | (F.col("h") != F.col("rh"))
        )
        .select("coarse")
    )
    pfd = pf.join(F.broadcast(dc), "coarse", "left_semi")
    rfd = rf.join(F.broadcast(dc), "coarse", "left_semi")
    joined = (
        pfd.select("fine", F.col("h").alias("ph"), F.col("n").alias("pn"))
        .join(
            rfd.select("fine", F.col("h").alias("rh"), F.col("n").alias("rn")),
            "fine",
            "full",
        )
        .select(
            "fine",
            F.coalesce("ph", F.lit(0)).alias("primary_hash"),
            F.coalesce("rh", F.lit(0)).alias("replica_hash"),
            F.coalesce("pn", F.lit(0)).alias("primary_n"),
            F.coalesce("rn", F.lit(0)).alias("replica_n"),
        )
        .filter(
            (F.col("primary_hash") != F.col("replica_hash"))
            | (F.col("primary_n") != F.col("replica_n"))
        )
        .orderBy("fine")
    )
    return joined


@query(
    "orc_roundtrip_rollup",
    oracle="""
    -- ORC round-trip twin: the engine writes orders to ORC, reads it
    -- back with a pushable range predicate, and rolls up; the oracle
    -- computes the same rollup straight from the parquet source, so
    -- the hash gate proves the columnar round-trip is lossless
    -- (exact cents, exact counts, string keys intact).
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(max(o_orderkey) AS BIGINT) AS max_okey,
           CAST(epoch_us(max(o_orderdate)) AS BIGINT) AS max_odate_us
    FROM orders
    WHERE o_orderkey > 1000
    GROUP BY 1 ORDER BY 1
    """,
)
def orc_roundtrip_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a second columnar interchange format (reference scope:
    the feed connectors read whatever the supplier drops — parquet is
    the native format, ORC is the other columnar one Spark ships a
    vectorized reader for, no extra package). Orders round-trip
    through an ORC write/read with a range predicate on the read —
    Spark pushes it into the ORC scan (min/max stripe skipping;
    pinned by tests/test_plan_shapes.py) — and the rollup is
    hash-gated against the parquet source, proving losslessness of
    longs, doubles (exact cents after the 2dp round), strings AND
    timestamps across the format boundary: ``o_orderdate``
    (timestamp_ntz) rides the ORC write/read and is gated as epoch
    microseconds per group — BIGINT on both sides, so no tz/dtype
    drift can mask or fake a mismatch (round-10 ADVICE: the earlier
    column set carried no temporal type). The rollup is collected
    (groups-sized: 5 priorities) before the temp store is removed."""
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    out = tempfile.mkdtemp(prefix="pim-orc-")
    try:
        orders.write.mode("overwrite").orc(out)
        rows = (
            spark.read.orc(out)
            .filter(F.col("o_orderkey") > 1000)
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                .alias("total_cents"),
                F.max("o_orderkey").cast("long").alias("max_okey"),
                # ntz -> timestamp is a reinterpretation under the UTC
                # session tz; unix_micros then yields exact epoch µs
                F.unix_micros(F.max("o_orderdate").cast("timestamp"))
                .cast("long")
                .alias("max_odate_us"),
            )
            .orderBy("priority")
            .collect()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "priority string, n_orders bigint, total_cents bigint, max_okey bigint, "
        "max_odate_us bigint",
    ).orderBy("priority")
