"""Extended analytics surface: distribution window functions,
regression aggregates, boolean/bitwise aggregates, and edit-distance
fuzzy matching (the product-name matching kernel a PIM needs when
reconciling suppliers' catalogs).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pim_etl_spark.catalog import query
from pim_etl_spark.tuning import sorted_output
from pim_etl_spark.sources import load_table


@query(
    "percent_rank_cume_dist",
    oracle="""
    -- floor-scaled, not rounded: cume_dist values are exact k/n
    -- fractions that land on .5 rounding boundaries where HALF_UP
    -- (Spark) and HALF_EVEN (DuckDB) disagree; floor is tie-free
    SELECT c_nationkey, c_custkey,
           CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS pct_rank_micro,
           CAST(floor(cume_dist()    OVER w * 1000000) AS BIGINT) AS cume_micro
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)
    ORDER BY c_nationkey, c_custkey
    """,
)
def percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position window functions (SURVEY §2.5 extras)."""
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            "c_custkey",
            F.floor(F.percent_rank().over(w) * 1_000_000).cast("bigint").alias("pct_rank_micro"),
            F.floor(F.cume_dist().over(w) * 1_000_000).cast("bigint").alias("cume_micro"),
        )
        .orderBy("c_nationkey", "c_custkey")
    )


@query(
    "regression_aggregates",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def regression_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates: price-vs-quantity fit per flag —
    the catalog-analytics surface (slope/intercept/R²) as one
    distributed aggregation pass."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
            F.regr_count("l_extendedprice", "l_quantity").cast("bigint").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "bool_bit_aggregates",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000)   AS all_over_1k,
           bool_or(o_totalprice > 400000)  AS any_over_400k,
           bit_and(o_custkey)              AS key_bit_and,
           bit_or(o_custkey % 256)         AS key_bit_or
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def bool_bit_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean every/any and bitwise AND/OR aggregates."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.some(F.col("o_totalprice") > 400000).alias("any_over_400k"),
            F.bit_and("o_custkey").alias("key_bit_and"),
            F.bit_or(F.col("o_custkey") % 256).alias("key_bit_or"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "salted_skew_agg",
    oracle="""
    -- plain rollup: the salted two-stage plan must be value-identical
    SELECT l_suppkey,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS total,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
    """,
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigating salted aggregation (SURVEY §4 / SCALE.md): a
    hot grouping key is split across ``SALT`` reducers by a synthetic
    salt, partially aggregated, then merged in a second (tiny) stage —
    the manual form of what AQE's skew handling does for joins, needed
    when ONE group's partial state itself overwhelms a reducer.

    Stage 1 shuffles (key, salt) with map-side combine; stage 2
    shuffles only SALT rows per key. Decomposable aggs only
    (count→sum, sum→sum, max→max). Results are hash-identical to the
    plain one-stage rollup, which is exactly what the oracle checks.
    """
    SALT = 8
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("__salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT)))
    partial = salted.groupBy("l_suppkey", "__salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("l_extendedprice").alias("psum"),
        F.max("l_extendedprice").alias("pmax"),
    )
    return (
        partial.groupBy("l_suppkey")
        .agg(
            F.sum("pn").alias("n"),
            F.round(F.sum("psum"), 2).alias("total"),
            F.round(F.max("pmax"), 2).alias("max_price"),
        )
        .orderBy("l_suppkey")
    )


@query(
    "aqe_skew_join",
    oracle="""
    -- planted-skew join: ~75% of lineitem rows collapse onto one hot
    -- join key; the rollup is skew-agnostic so the oracle is a plain
    -- join+group regardless of how the engine splits the hot partition
    WITH f AS (
      SELECT CASE WHEN l_orderkey % 4 = 0 THEN l_orderkey ELSE 1 END AS jk,
             l_quantity
      FROM lineitem
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(f.l_quantity), 2) AS total_qty,
           min(o.o_orderkey) AS min_orderkey,
           max(o.o_orderkey) AS max_orderkey
    FROM f JOIN orders o ON o.o_orderkey = f.jk
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join twin of ``salted_skew_agg`` (SURVEY §4's remaining
    untested mitigation): three quarters of the fact rows share ONE
    join key, the planted hot-partition shape that melts a reducer on
    a 1000-executor shuffle join. The mitigation is AQE's runtime
    skew-join split (``spark.sql.adaptive.skewJoin``) — no salting in
    the query text; the engine re-plans the hot partition into chunks.
    tests/test_scale_features.py::test_aqe_skew_join_splits_skewed_partition
    pins the ``skew=true`` re-plan under a forced shuffle join; under
    driver defaults the tiny-SF dim side simply broadcasts, and the
    result is identical either way — which is what this oracle checks.
    """
    return skewed_join_rollup(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


def skewed_join_rollup(li: DataFrame, orders: DataFrame) -> DataFrame:
    """The planted-skew join core shared by the catalog entry and the
    AQE-split test (which feeds a multi-file landing of lineitem: AQE
    subdivides a hot reduce partition along MAP-output boundaries, so
    a single-file test scan — one mapper — is structurally unsplittable
    however skewed; a 1000-executor scan always has many mappers)."""
    fact = li.select(
        F.when(F.col("l_orderkey") % 4 == 0, F.col("l_orderkey"))
        .otherwise(F.lit(1))
        .alias("jk"),
        "l_quantity",
    )
    joined = fact.join(orders, fact["jk"] == orders["o_orderkey"])
    # NOTE deliberately no countDistinct here: a partial-distinct
    # aggregate downstream of the join re-uses the join's hash
    # partitioning, so splitting the hot partition would cost an extra
    # Exchange and AQE's cost evaluator rejects the skew split (the
    # escape hatch is spark.sql.adaptive.forceOptimizeSkewedJoin —
    # verified both ways while building this entry). min/max/sum/count
    # impose no distribution requirement, so the split is free.
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.min("o_orderkey").alias("min_orderkey"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "fuzzy_levenshtein_pairs",
    oracle="""
    -- product-name reconciliation kernel: edit distance between
    -- adjacent catalog entries (p_partkey is dense), bucketed into a
    -- match histogram
    SELECT levenshtein(a.p_name, b.p_name) AS edit_distance,
           count(*) AS n_pairs,
           min(a.p_name) AS sample_name
    FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
    GROUP BY 1 ORDER BY edit_distance
    """,
)
def fuzzy_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein fuzzy matching (cross-supplier product-name
    reconciliation — the dedup problem a PIM faces when two suppliers
    sell the same item under slightly different names).

    Adjacent pairs come from a hash self-join on ``p_partkey + 1`` —
    the same shape as ngram_jaccard_pairs — NOT a global
    ``Window.orderBy``, which would pull the whole table into one task.
    The join shuffles both sides on the key and stays fully parallel at
    any scale."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    b = part.select((F.col("p_partkey") - 1).alias("join_key"), F.col("p_name").alias("next_name"))
    return (
        part.join(b, part["p_partkey"] == b["join_key"])
        .groupBy(F.levenshtein("p_name", "next_name").alias("edit_distance"))
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.min("p_name").alias("sample_name"))
        .orderBy("edit_distance")
    )


@query(
    "mad_grouped_agg_udaf",
    oracle="""
    -- DuckDB's native mad() is the oracle for the pandas grouped-agg
    -- UDAF: median absolute deviation per nation (no Spark built-in)
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(mad(c_acctbal) AS DOUBLE), 4) AS acctbal_mad
    FROM customer
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def mad_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF surface (SURVEY §2.9): a pandas grouped-agg UDF computing
    median absolute deviation — a statistic Spark has no built-in for
    (medians resist algebraic decomposition), which is exactly when a
    custom aggregate earns its place. Arrow-batched: each group's
    column ships to Python once as a pandas Series, one scalar
    returns.

    Scale note: grouped-agg UDFs can't partial-aggregate (full groups
    must co-locate), so the shuffle carries the raw column for the
    grouped rows — fine for bounded per-group sizes (here: customers
    per nation); for billion-row groups use an approximate sketch
    (approx_percentile twice) instead.
    """
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar hints make these grouped-agg UDFs; this module's
    # postponed annotations leave them as strings, which pyspark
    # resolves against the module's ``pd``
    @pandas_udf("double")
    def _mad(v: pd.Series) -> float:
        med = v.median()
        return float((v - med).abs().median())

    # Spark refuses to mix grouped-agg pandas UDFs with JVM aggregates
    # in one agg (INVALID_PANDAS_UDF_PLACEMENT), so the count is a
    # second pandas aggregate over the same Arrow batch
    @pandas_udf("long")
    def _n(v: pd.Series) -> int:
        return len(v)

    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            _n("c_acctbal").alias("n_customers"),
            F.round(_mad("c_acctbal"), 4).alias("acctbal_mad"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "event_funnel_conversion",
    oracle="""
    -- strict sequential funnel signup → view → purchase: each later
    -- stage must happen AFTER the user's qualifying earlier stage
    WITH s1 AS (
      SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
      FROM events GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND s1.t1 IS NOT NULL AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT 1 AS step, 'signup' AS stage,
           CAST((SELECT count(*) FROM s1 WHERE t1 IS NOT NULL) AS BIGINT) AS n_users
    UNION ALL
    SELECT 2, 'view_after_signup', CAST((SELECT count(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 3, 'purchase_after_view', CAST((SELECT count(*) FROM s3) AS BIGINT)
    ORDER BY step
    """,
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel analysis (the product-analytics staple):
    signup → first view AFTER signup → first purchase AFTER that
    view, counted per stage. Each stage is a conditional-min rollup
    keyed by user_id followed by a time-ordered semi-restriction — at
    scale all three shuffles share the user_id partitioning, so AQE
    plans stages 2–3 exchange-free after the first. Strict-after
    (``>``) semantics make the funnel order-proof rather than a mere
    distinct-type count."""
    from pim_etl_spark.sources import load_table

    events = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t1")
    )
    s2 = (
        events.filter(F.col("event_type") == "view")
        .join(s1.filter(F.col("t1").isNotNull()), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.filter(F.col("t1").isNotNull()).count()
    n2 = s2.count()
    n3 = s3.count()
    return spark.createDataFrame(
        [(1, "signup", n1), (2, "view_after_signup", n2), (3, "purchase_after_view", n3)],
        "step int, stage string, n_users bigint",
    ).transform(sorted_output, "step")


@query(
    "cohort_retention_matrix",
    oracle="""
    -- weekly retention cohorts: users bucketed by first-event week,
    -- counted in every later week they were active
    WITH first_week AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
    )
    SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) // 7 AS INT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM first_week f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (the other analytics staple): bucket users by
    first-active week, then count each cohort's users in every week
    they returned. Two user-keyed aggregates + one co-partitioned
    join; the matrix itself is (weeks × weeks)-sized — model-sized
    output no matter the event volume."""
    from pim_etl_spark.sources import load_table

    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_week = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        first_week.join(activity, "user_id")
        .select(
            F.col("cohort_week").cast("timestamp_ntz").alias("cohort_week"),
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "basket_pair_affinity",
    oracle="""
    -- market-basket affinity: part pairs co-occurring in the same
    -- order, with each part's own order count for support context;
    -- all integer math, canonical pair orientation (a < b)
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_co
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    support AS (
      SELECT l_partkey, count(*) AS n_orders FROM items GROUP BY 1
    )
    SELECT p.part_a, p.part_b, CAST(p.n_co AS BIGINT) AS n_co,
           CAST(sa.n_orders AS BIGINT) AS n_orders_a,
           CAST(sb.n_orders AS BIGINT) AS n_orders_b
    FROM pairs p
    JOIN support sa ON sa.l_partkey = p.part_a
    JOIN support sb ON sb.l_partkey = p.part_b
    WHERE p.n_co >= 2
    ORDER BY n_co DESC, part_a, part_b
    LIMIT 100
    """,
)
def basket_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (the association-rules precursor):
    part pairs sharing an order, filtered to repeat pairs, each side
    annotated with its own order support. The pair self-join is keyed
    by orderkey — the shuffle carries (orderkey, partkey) pairs only,
    and the ``<`` orientation halves the blow-up; per-order item
    counts are small (TPC-H ≤ 7), so the join is linear in lineitem.
    At 100 TB the same shape holds because baskets, not catalogs,
    bound the fan-out; the n_co >= 2 floor keeps the output the
    interesting tail rather than the all-pairs long tail."""
    from pim_etl_spark.sources import load_table

    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
    support = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        pairs.join(
            support.select(
                F.col("l_partkey").alias("part_a"), F.col("n_orders").alias("n_orders_a")
            ),
            "part_a",
        )
        .join(
            support.select(
                F.col("l_partkey").alias("part_b"), F.col("n_orders").alias("n_orders_b")
            ),
            "part_b",
        )
        .select("part_a", "part_b", "n_co", "n_orders_a", "n_orders_b")
        .orderBy(F.desc("n_co"), "part_a", "part_b")
        .limit(100)
    )


@query(
    "event_transition_matrix",
    oracle="""
    -- first-order user-journey transition counts: consecutive event
    -- pairs per user in (ts, event_id) total order
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS n_transitions
    FROM ordered
    WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order journey analysis: counts of consecutive event-type
    transitions per user (the Markov-chain estimate every product
    funnel tool draws as a Sankey). One window over the user_id
    partitioning with the catalog's standard (ts, event_id) total
    order for tie-proof determinism; output is |types|² regardless of
    event volume."""
    from pyspark.sql import Window

    from pim_etl_spark.sources import load_table

    events = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("from_type", "to_type")
    )


@query(
    "price_histogram_equiwidth",
    oracle="""
    -- equi-width histogram with fixed bounds via portable floor
    -- arithmetic (width_bucket availability differs across engines)
    WITH b AS (
      SELECT least(greatest(CAST(floor(o_totalprice / 50000) AS INT), 0), 11) AS bucket,
             o_totalprice
      FROM orders
    )
    SELECT bucket,
           CAST(bucket * 50000 AS BIGINT) AS lo,
           CAST((bucket + 1) * 50000 AS BIGINT) AS hi,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS bucket_value
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def price_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (the profiling primitive behind every
    column-stats page): 50k-wide buckets over order value, clamped
    tails. One partial-aggregating shuffle keyed by bucket — output is
    bucket-count-sized regardless of volume."""
    from pim_etl_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(0)),
        F.lit(11),
    )
    return (
        orders.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            (F.col("bucket").cast("long") * 50000).alias("lo"),
            ((F.col("bucket") + 1).cast("long") * 50000).alias("hi"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("bucket_value"),
        )
        .select("bucket", "lo", "hi", "n_orders", "bucket_value")
        .orderBy("bucket")
    )


@query(
    "priority_mode_by_status",
    oracle="""
    -- per-group MODE with a total tiebreak (count desc, value asc)
    SELECT o_orderstatus, o_orderpriority AS modal_priority,
           CAST(n AS BIGINT) AS n_orders
    FROM (
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    )
    WHERE rn = 1
    ORDER BY o_orderstatus
    """,
)
def priority_mode_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value, deterministic tiebreak):
    two-level aggregate — count per (group, value), then a top-1
    window over the value counts. The window's input is
    (groups × values)-sized, never row-sized, so the second stage is
    model-sized at any scale."""
    from pyspark.sql import Window

    from pim_etl_spark.sources import load_table

    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("n"), F.asc("o_orderpriority"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "customer_rfm_segments",
    oracle="""
    -- RFM segmentation: per-customer recency (last order date),
    -- frequency (orders), monetary (2dp-exact spend); quartile codes
    -- via ntile over TOTAL orders (custkey tiebreak), rolled up per
    -- 3-digit segment
    WITH per_customer AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             sum(o_totalprice) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    coded AS (
      SELECT ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r,
             ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
             ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m,
             frequency, monetary
      FROM per_customer
    )
    SELECT CAST(r * 100 + f * 10 + m AS INT) AS rfm_code,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(frequency) AS BIGINT) AS total_orders,
           round(sum(monetary), 2) AS total_spend
    FROM coded GROUP BY 1 ORDER BY 1
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (the classic customer-value grid): quartile
    codes for recency/frequency/monetary per customer, rolled up per
    3-digit segment. The ntile windows are global but run over the
    PER-CUSTOMER aggregate (customer-count-sized, never order-sized);
    tie-proof via the custkey tiebreak. At 100 TB replace the exact
    global ntile with approx-percentile cut points computed in one
    pass and a scan-local bucket lookup — same codes, no global sort."""
    from pyspark.sql import Window

    from pim_etl_spark.sources import load_table

    per_customer = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
    )
    r = F.ntile(4).over(Window.orderBy(F.desc("last_order"), F.asc("o_custkey")))
    f = F.ntile(4).over(Window.orderBy(F.desc("frequency"), F.asc("o_custkey")))
    m = F.ntile(4).over(Window.orderBy(F.desc("monetary"), F.asc("o_custkey")))
    return (
        per_customer.select(
            (r * 100 + f * 10 + m).cast("int").alias("rfm_code"),
            "frequency",
            "monetary",
        )
        .groupBy("rfm_code")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("frequency").alias("total_orders"),
            F.round(F.sum("monetary"), 2).alias("total_spend"),
        )
        .orderBy("rfm_code")
    )


@query(
    "revenue_pareto_deciles",
    oracle="""
    -- Pareto concentration curve: parts ranked by revenue, split in
    -- revenue-ordered deciles, each decile's share of total in exact
    -- integer basis points (revenue fixed to e4 integers first, share
    -- via bigint integer division — no FP anywhere after the fix)
    WITH part_rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS rev_e4
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT rev_e4, ntile(10) OVER (ORDER BY rev_e4 DESC, l_partkey) AS decile
      FROM part_rev
    ),
    tot AS (SELECT sum(rev_e4) AS total_e4 FROM part_rev)
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_e4) AS BIGINT) AS revenue_e4,
           CAST((sum(rev_e4) * 10000) // (SELECT total_e4 FROM tot) AS BIGINT) AS share_bps
    FROM ranked GROUP BY decile ORDER BY decile
    """,
)
def revenue_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/concentration analysis (the 80/20 view every category
    manager asks for): parts ranked by revenue, revenue share per
    revenue-ordered decile in exact basis points. Revenue is fixed to
    e4 integers at the row level, so every downstream sum/division is
    exact bigint arithmetic — engine-identical by construction. The
    ntile runs over the part-count-sized aggregate, not lineitem."""
    from pyspark.sql import Window

    from pim_etl_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    rev_e4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    part_rev = li.groupBy("l_partkey").agg(F.sum(rev_e4).alias("rev_e4"))
    ranked = part_rev.select(
        "rev_e4",
        F.ntile(10).over(Window.orderBy(F.desc("rev_e4"), F.asc("l_partkey"))).alias("decile"),
    )
    total = part_rev.agg(F.sum("rev_e4").alias("total_e4"))
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_e4").alias("revenue_e4"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_parts",
            "revenue_e4",
            F.expr("(revenue_e4 * 10000) div total_e4").alias("share_bps"),
        )
        .orderBy("decile")
    )


@query(
    "trend_forecast_by_priority",
    oracle="""
    -- time-series trend + one-step forecast per order priority: fit
    -- revenue-vs-month-index by least squares over the monthly
    -- rollup, then extrapolate one month past the observed horizon.
    -- Monthly sums go through exact DECIMAL cents (NOTES.md money
    -- rule) before the regression; regr_* drift is absorbed by the
    -- same round(.,4) contract regression_aggregates established.
    WITH monthly AS (
      SELECT o_orderpriority AS priority,
             CAST(date_diff('month', TIMESTAMP '1992-01-01',
                            date_trunc('month', o_orderdate)) AS BIGINT) AS x,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS DOUBLE) AS y
      FROM orders
      GROUP BY o_orderpriority, date_trunc('month', o_orderdate)
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_months,
           round(regr_slope(y, x), 4) AS slope,
           round(regr_intercept(y, x), 4) AS intercept,
           round(regr_intercept(y, x) + regr_slope(y, x) * (max(x) + 1), 2)
             AS forecast_next_month
    FROM monthly GROUP BY priority ORDER BY priority
    """,
)
def trend_forecast_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group time-series trend forecasting: monthly revenue rollup
    → least-squares fit of revenue vs month index → one-step-ahead
    extrapolation. Two aggregations sharing the priority key (monthly
    rollup, then the regression over the months — group-cardinality ×
    horizon-sized, trivially small at any data scale); the fit itself
    is the built-in regr_* aggregate family, map-side combined."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("y")
        )
        .select(
            "priority",
            F.expr(
                "timestampdiff(MONTH, TIMESTAMP '1992-01-01', m)"
            ).cast("bigint").alias("x"),
            "y",
        )
    )
    return (
        monthly.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.round(F.regr_slope("y", "x"), 4).alias("slope"),
            F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
            F.round(
                F.regr_intercept("y", "x") + F.regr_slope("y", "x") * (F.max("x") + 1), 2
            ).alias("forecast_next_month"),
        )
        .orderBy("priority")
    )


@query(
    "iqr_outlier_fences",
    oracle="""
    -- Tukey-fence outlier audit per order status, on integer cents:
    -- the quartile interpolation carries <=2 true decimals, 1.5*IQR
    -- <=3, so round(.,4) is boundary-free and the fence comparisons
    -- against integer cents are engine-identical.
    WITH c AS (
      SELECT o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), q AS (
      SELECT status,
             quantile_cont(CAST(cents AS DOUBLE), 0.25) AS q1,
             quantile_cont(CAST(cents AS DOUBLE), 0.75) AS q3
      FROM c GROUP BY status
    )
    SELECT c.status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN CAST(c.cents AS DOUBLE) < q.q1 - 1.5 * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
           CAST(sum(CASE WHEN CAST(c.cents AS DOUBLE) > q.q3 + 1.5 * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers,
           round(any_value(q.q1 - 1.5 * (q.q3 - q.q1)), 4) AS fence_lo,
           round(any_value(q.q3 + 1.5 * (q.q3 - q.q1)), 4) AS fence_hi
    FROM c JOIN q USING (status)
    GROUP BY c.status ORDER BY c.status
    """,
)
def iqr_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (1.5×IQR) outlier detection per group — the robust
    anomaly audit for price QA. One exact-quartile aggregate
    (group-cardinality-sized, broadcast back) + one counting pass."""
    cents = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    q = cents.groupBy("status").agg(
        F.percentile(F.col("cents").cast("double"), F.lit(0.25)).alias("q1"),
        F.percentile(F.col("cents").cast("double"), F.lit(0.75)).alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        cents.join(F.broadcast(q), "status")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("cents").cast("double") < lo).cast("bigint")).alias("n_low_outliers"),
            F.sum((F.col("cents").cast("double") > hi).cast("bigint")).alias("n_high_outliers"),
            F.round(F.any_value(lo), 4).alias("fence_lo"),
            F.round(F.any_value(hi), 4).alias("fence_hi"),
        )
        .orderBy("status")
    )


@query(
    "price_histogram_equidepth",
    oracle="""
    -- equi-DEPTH histogram (quantile buckets) — the complement of the
    -- existing equi-width one: quartile boundaries from exact
    -- interpolation on cents, rows assigned by counting exceeded
    -- boundaries (integer-vs-double compares, engine-identical).
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ), b AS (
      SELECT quantile_cont(CAST(cents AS DOUBLE), 0.25) AS b1,
             quantile_cont(CAST(cents AS DOUBLE), 0.50) AS b2,
             quantile_cont(CAST(cents AS DOUBLE), 0.75) AS b3
      FROM c
    )
    SELECT (CASE WHEN CAST(cents AS DOUBLE) > b3 THEN 3
                 WHEN CAST(cents AS DOUBLE) > b2 THEN 2
                 WHEN CAST(cents AS DOUBLE) > b1 THEN 1
                 ELSE 0 END) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM c, b GROUP BY bucket ORDER BY bucket
    """,
)
def price_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucket) histogram: one exact-percentile
    scalar aggregate broadcast to a counting pass — two scans, no
    sort, no shuffle wider than the 4-row result."""
    cents = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    b = cents.agg(
        F.percentile(F.col("cents").cast("double"), F.lit(0.25)).alias("b1"),
        F.percentile(F.col("cents").cast("double"), F.lit(0.50)).alias("b2"),
        F.percentile(F.col("cents").cast("double"), F.lit(0.75)).alias("b3"),
    )
    x = F.col("cents").cast("double")
    bucket = (
        F.when(x > F.col("b3"), 3)
        .when(x > F.col("b2"), 2)
        .when(x > F.col("b1"), 1)
        .otherwise(0)
    )
    return (
        cents.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("sum_cents"))
        .orderBy("bucket")
    )


@query(
    "rolling_median_revenue",
    oracle="""
    -- rolling median (robust smoothing) of a customer's order values
    -- over the 3 most recent orders: window median on integer cents —
    -- the result is a whole or half cent, exactly representable, so
    -- no rounding is needed at all.
    SELECT o_custkey, o_orderkey,
           median(CAST(cents AS DOUBLE)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS rolling_median_cents
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_custkey % 50 = 0
    )
    ORDER BY o_custkey, o_orderkey
    """,
)
def rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling window median — the robust (outlier-insensitive)
    smoother a price-trend monitor uses where a rolling mean would
    chase spikes. Keyed window, 3-row frame, exact median on cents."""
    from pyspark.sql import Window

    # Spark rejects median() with a window FRAME — for a 3-row frame
    # the median is closed-form lag arithmetic instead:
    # median(a,b,c) = a+b+c - max - min (exact on integer cents)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    staged = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 50 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v0"),
        )
        .withColumn("v1", F.lag("v0", 1).over(w))
        .withColumn("v2", F.lag("v0", 2).over(w))
        .withColumn("rn", F.row_number().over(w))
    )
    x0, x1, x2 = (F.col(c).cast("double") for c in ("v0", "v1", "v2"))
    med3 = x0 + x1 + x2 - F.greatest(x0, x1, x2) - F.least(x0, x1, x2)
    med = (
        F.when(F.col("rn") == 1, x0)
        .when(F.col("rn") == 2, (x0 + x1) / 2)
        .otherwise(med3)
    )
    return staged.select(
        "o_custkey", "o_orderkey", med.alias("rolling_median_cents")
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "chisq_independence_cells",
    oracle="""
    -- chi-square independence audit (status x priority), emitted PER
    -- CELL: each cell's (obs-exp)^2/exp uses only +,-,*,/ on exact
    -- integer counts — correctly-rounded IEEE ops on identical
    -- operands, so the floor-scaled contribution is engine-identical.
    -- (The TOTAL is deliberately not summed here: cross-cell sum
    -- order differs between engines — NOTES.md.)
    WITH cells AS (
      SELECT o_orderstatus AS status, o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2
    ), tot AS (
      SELECT status, sum(obs) AS r FROM cells GROUP BY status
    ), tot2 AS (
      SELECT priority, sum(obs) AS c FROM cells GROUP BY priority
    ), n AS (
      SELECT sum(obs) AS n FROM cells
    )
    SELECT cells.status, cells.priority, cells.obs,
           CAST(floor(
             (CAST(cells.obs AS DOUBLE) - CAST(tot.r AS DOUBLE) * tot2.c / n.n)
             * (CAST(cells.obs AS DOUBLE) - CAST(tot.r AS DOUBLE) * tot2.c / n.n)
             / (CAST(tot.r AS DOUBLE) * tot2.c / n.n) * 10000
           ) AS BIGINT) AS chisq_contrib_e4
    FROM cells JOIN tot USING (status) JOIN tot2 USING (priority), n
    ORDER BY cells.status, cells.priority
    """,
)
def chisq_independence_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit between two categorical columns,
    per contingency cell — the statistical-dependence detector for
    feed QA (a supplier whose status distribution shifts with priority
    shows up as large contributions). One grouped count (the only
    data-sized pass); margins and expectations are cell-count-sized."""
    cells = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    r = cells.groupBy("status").agg(F.sum("obs").alias("r"))
    c = cells.groupBy("priority").agg(F.sum("obs").alias("c"))
    n = cells.agg(F.sum("obs").alias("n"))
    exp = F.col("r").cast("double") * F.col("c") / F.col("n")
    contrib = (F.col("obs").cast("double") - exp) * (F.col("obs").cast("double") - exp) / exp
    return (
        cells.join(F.broadcast(r), "status")
        .join(F.broadcast(c), "priority")
        .crossJoin(F.broadcast(n))
        .select(
            "status",
            "priority",
            "obs",
            F.floor(contrib * 10000).cast("bigint").alias("chisq_contrib_e4"),
        )
        .orderBy("status", "priority")
    )


@query(
    "missing_value_imputation",
    oracle="""
    -- group-median imputation: sizes for keys %13 are DELETED
    -- deterministically (the planted missingness), then refilled with
    -- the brand's median over the surviving values — median of
    -- integers is a whole or half, exactly representable.
    WITH planted AS (
      SELECT p_partkey, p_brand,
             CASE WHEN p_partkey % 13 = 0 THEN NULL ELSE p_size END AS size
      FROM part
    ), med AS (
      SELECT p_brand, median(CAST(size AS DOUBLE)) AS brand_median
      FROM planted WHERE size IS NOT NULL GROUP BY p_brand
    )
    SELECT p.p_partkey,
           p.size IS NULL AS was_missing,
           CASE WHEN p.size IS NULL THEN m.brand_median
                ELSE CAST(p.size AS DOUBLE) END AS imputed_size
    FROM planted p JOIN med m USING (p_brand)
    ORDER BY p.p_partkey
    """,
)
def missing_value_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median missing-value imputation — the feed-repair step
    for suppliers that omit attributes: deterministic planted
    missingness, per-brand exact median over survivors (brand-count-
    sized aggregate, broadcast back), null-aware refill."""
    planted = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.when(F.col("p_partkey") % 13 == 0, F.lit(None)).otherwise(F.col("p_size")).alias("size"),
    )
    med = (
        planted.filter(F.col("size").isNotNull())
        .groupBy("p_brand")
        .agg(F.median(F.col("size").cast("double")).alias("brand_median"))
    )
    return (
        planted.join(F.broadcast(med), "p_brand")
        .select(
            "p_partkey",
            F.col("size").isNull().alias("was_missing"),
            F.when(F.col("size").isNull(), F.col("brand_median"))
            .otherwise(F.col("size").cast("double"))
            .alias("imputed_size"),
        )
        .orderBy("p_partkey")
    )


EWMA_TAPS = 16  # dyadic half-life-1 kernel, truncated at 16 taps


def _ewma_oracle() -> str:
    num_terms = ["cents * 32768"] + [
        f"coalesce(lag(cents, {j}) OVER w, 0) * {1 << (15 - j)}" for j in range(1, EWMA_TAPS)
    ]
    den_terms = ["32768"] + [
        f"CASE WHEN lag(cents, {j}) OVER w IS NOT NULL THEN {1 << (15 - j)} ELSE 0 END"
        for j in range(1, EWMA_TAPS)
    ]
    return f"""
    -- 16-tap dyadic EWMA (weight 2^-j for the j-th most recent order):
    -- numerator and denominator are EXACT BIGINT sums, the single
    -- final division is correctly rounded on identical operands, so
    -- the doubles are bit-identical cross-engine (NOTES.md rule)
    WITH c AS (
      SELECT o_custkey, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), t AS (
      SELECT o_custkey,
             {" + ".join(num_terms)} AS num,
             {" + ".join(den_terms)} AS den,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey DESC) AS rn,
             count(*) OVER (PARTITION BY o_custkey) AS n_orders
      FROM c
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey ASC)
    )
    SELECT o_custkey, CAST(n_orders AS BIGINT) AS n_orders,
           CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ewma_cents
    FROM t WHERE rn = 1
    ORDER BY o_custkey
    """


@query("ewma_order_value", oracle=_ewma_oracle())
def ewma_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer exponentially-weighted moving average of order
    value (most recent order's smoothed level) — the classic
    time-series smoother, expressed as a FINITE dyadic kernel so it is
    cross-engine exact: weights are 2^-j over the last 16 orders,
    amounts are integer cents, so numerator and denominator are exact
    BIGINT window sums (order-insensitive, no float accumulation) and
    only the FINAL division produces a double — correctly rounded on
    identical operands, hence bit-identical in any IEEE engine. The
    truncation error vs the infinite kernel is < 2^-16 of one order's
    weight — below any reporting precision.

    Plan shape: the 16 lag() calls plus row_number plus count all
    share one Window partition (o_custkey) — Catalyst collapses them
    into a single sort per partition after ONE exchange; per-customer
    history is short, so no per-group state concern at any scale.
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey").asc())
    base = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", cents.alias("cents"))
    )
    num = F.col("cents") * F.lit(1 << 15).cast("bigint")
    den = F.lit(1 << 15).cast("bigint")
    for j in range(1, EWMA_TAPS):
        lagged = F.lag("cents", j).over(w)
        weight = F.lit(1 << (15 - j)).cast("bigint")
        num = num + F.coalesce(lagged, F.lit(0)) * weight
        den = den + F.when(lagged.isNotNull(), weight).otherwise(F.lit(0))
    wn = Window.partitionBy("o_custkey")
    wr = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey").desc())
    return (
        base.withColumn("num", num)
        .withColumn("den", den)
        .withColumn("rn", F.row_number().over(wr))
        .withColumn("n_orders", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            (F.col("num").cast("double") / F.col("den").cast("double")).alias("ewma_cents"),
        )
        .orderBy("o_custkey")
    )


@query(
    "cusum_change_point",
    oracle="""
    -- offline change-point detection per event stream: the CUSUM
    -- statistic S_t = t*total - n*prefix_t is kept n-SCALED so every
    -- value is an exact BIGINT (no fractional mean anywhere); the
    -- change point is argmax |S_t| with a deterministic tie-break.
    WITH seq AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER w AS t,
             sum(CAST(round(value * 100) AS BIGINT)) OVER w AS prefix_cents,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type) AS total_cents
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY event_id ASC)
    ), stat AS (
      SELECT event_type, t, n,
             abs(t * total_cents - n * prefix_cents) AS abs_stat
      FROM seq
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           CAST(t AS BIGINT) AS change_pos,
           CAST(abs_stat AS BIGINT) AS max_abs_stat_scaled
    FROM (
      SELECT event_type, t, n, abs_stat,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs_stat DESC, t ASC) AS rk
      FROM stat
    ) WHERE rk = 1
    ORDER BY event_type
    """,
)
def cusum_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM change-point detection per event stream — where
    does each series' level most plausibly shift? The textbook
    statistic max_t |prefix_t - t·mean| is rescaled by n (S_t =
    t·total - n·prefix_t) so it stays exact BIGINT arithmetic:
    cents <= 1e4, n·prefix < 2^44 — no float mean, no cross-engine
    accumulation-order drift, bit-exact argmax.

    Plan shape: the prefix sum, the per-group totals, and the argmax
    ranking are three window specs over the SAME partition key, so
    Catalyst runs them after ONE exchange on event_type; nothing else
    shuffles. Low group cardinality caps parallelism here — at scale
    the partition key widens to (entity, day) exactly like the
    sessionization entries, and the same plan holds.
    """
    cents = F.round(F.col("value") * 100).cast("bigint")
    wo = Window.partitionBy("event_type").orderBy(F.col("event_id").asc())
    wp = Window.partitionBy("event_type")
    seq = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", cents.alias("cents"))
        .withColumn("t", F.row_number().over(wo))
        .withColumn("prefix_cents", F.sum("cents").over(wo.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn("total_cents", F.sum("cents").over(wp))
    )
    stat = seq.withColumn(
        "abs_stat", F.abs(F.col("t") * F.col("total_cents") - F.col("n") * F.col("prefix_cents"))
    )
    wr = Window.partitionBy("event_type").orderBy(F.col("abs_stat").desc(), F.col("t").asc())
    return (
        stat.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("t").cast("bigint").alias("change_pos"),
            F.col("abs_stat").cast("bigint").alias("max_abs_stat_scaled"),
        )
        .orderBy("event_type")
    )


# Poisson(1) inverse-CDF thresholds on a 4-hex-char (16-bit) md5 slice
# (cum. pmf × 16^4 as zero-padded hex) — the deterministic multiplicity
# gate both engines evaluate identically, byte for byte. One md5 yields
# EIGHT independent 16-bit draws (slots of its 32 hex chars), so the
# hash cost is B/8 md5 evaluations per row, not B — the difference
# between 7 s and 2 s at sf0.1, and 8× less CPU at 100 TB. 16-bit
# granularity floors each threshold by < 2^-16: a ≤0.01% multiplicity
# bias, far inside bootstrap noise.
_POISSON_HEX = ["5e2d", "bc5a", "eb71", "fb23", "ff10", "ffd9", "fffa"]
_BOOT_B = 32


def _poisson_boot_oracle() -> str:
    w_case = "CASE WHEN b = -1 THEN 1 " + " ".join(
        f"WHEN h < '{t}' THEN {k}" for k, t in enumerate(_POISSON_HEX)
    ) + " ELSE 7 END"
    return f"""
    -- deterministic Poisson bootstrap: replicate b's multiplicity for a
    -- row is Poisson(1) via the md5 inverse-CDF gate (same hex
    -- thresholds the engine uses); sums stay exact DECIMAL, each mean
    -- is ONE double division, and the CI bounds are fixed ORDER
    -- STATISTICS (2nd smallest / 2nd largest of {_BOOT_B} replicate
    -- means) — no percentile interpolation to drift cross-engine.
    -- b = -1 is the sentinel replicate with weight 1: the point
    -- estimate, computed in the same pass.
    WITH exploded AS (
      SELECT o_orderpriority AS priority, t.b,
             substr(md5('boot:' || o_orderkey || ':' || (t.b // 8)),
                    CAST((t.b % 8) * 4 + 1 AS INT), 4) AS h,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
      CROSS JOIN (SELECT CAST(range AS INT) - 1 AS b
                  FROM range({_BOOT_B} + 1)) t
    ),
    weighted AS (
      SELECT priority, b, price, {w_case} AS w FROM exploded
    ),
    reps AS (
      SELECT priority, b,
             CAST(sum(w) AS BIGINT) AS nw,
             CAST(CAST(sum(price * w) AS DOUBLE) / CAST(sum(w) AS BIGINT)
                  AS DOUBLE) AS mean_b
      FROM weighted GROUP BY 1, 2
      HAVING sum(w) > 0
    ),
    ranked AS (
      SELECT priority, mean_b,
             row_number() OVER (PARTITION BY priority
                                ORDER BY mean_b, b) AS rn,
             count(*) OVER (PARTITION BY priority) AS n_reps
      FROM reps WHERE b >= 0
    )
    SELECT base.priority,
           base.nw AS n_rows,
           base.mean_b AS mean_price,
           ci.ci_lo, ci.ci_hi,
           ci.n_replicates
    FROM (SELECT priority, nw, mean_b FROM reps WHERE b = -1) base
    JOIN (
      SELECT priority,
             max(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
             max(CASE WHEN rn = n_reps - 1 THEN mean_b END) AS ci_hi,
             CAST(max(n_reps) AS BIGINT) AS n_replicates
      FROM ranked GROUP BY 1
    ) ci USING (priority)
    ORDER BY priority
    """


@query("poisson_bootstrap_ci", oracle=_poisson_boot_oracle())
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bootstrap confidence interval for the mean order
    value per priority — via the POISSON bootstrap, the resampling
    scheme that actually works on partitioned data: classical
    resampling needs n draws from the full dataset (a global
    operation), but Binomial(n, 1/n) → Poisson(1) as n grows, so each
    row independently contributes a Poisson(1) multiplicity to each
    replicate — embarrassingly parallel, single pass, no global state.

    Determinism without RNG state: the multiplicity is an inverse-CDF
    gate on md5(row, replicate) hex (the catalog's md5-gate idiom), so
    both engines draw the identical "sample". Replicate sums stay in
    exact DECIMAL (2dp money — NOTES rounding rule), each replicate
    mean is one correctly-rounded double division, and the CI bounds
    are fixed order statistics (2nd smallest / 2nd largest of 32
    replicate means ≈ a 94% interval) — no percentile interpolation,
    bit-identical cross-engine. The b = -1 sentinel replicate carries
    weight 1 everywhere: the point estimate rides the same scan.

    Scale shape: one scan, a 33× in-task explode that partial-agg
    collapses BEFORE the exchange (shuffle volume is |groups| × 33
    partial rows per task, independent of data size), one window over
    the replicate-sized frame. At 100 TB this is the only bootstrap
    you can afford; B scales the explode factor, never the shuffle.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    # Catalyst does NOT share a subexpression referenced by several
    # CASE branches (measured: a 7-branch chain re-evaluates its md5
    # per branch — 7× the hash cost). So the hashes are computed ONCE
    # per base row BELOW the explode: 4 chunk md5s sliced into all 32
    # four-hex replicate slots, materialized as an array the Generate
    # boundary turns into plain attribute data. The CASE then compares
    # an attribute — free. Slot 0 is the b = -1 sentinel replicate.
    chunks = [
        F.md5(
            F.concat(
                F.lit("boot:"),
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.lit(str(c)),
            )
        ).alias(f"h{c}")
        for c in range(_BOOT_B // 8)
    ]
    base = orders.select("priority", "price", *chunks)
    slots = F.array(
        F.lit("!sentinel"),
        *[
            F.substring(F.col(f"h{c}"), s * 4 + 1, 4)
            for c in range(_BOOT_B // 8)
            for s in range(8)
        ],
    )
    exploded = base.select(
        "priority", "price", F.posexplode(slots).alias("i", "hs")
    )
    w = F.when(F.col("i") == 0, F.lit(1))
    for k, t in enumerate(_POISSON_HEX):
        w = w.when(F.col("hs") < t, F.lit(k))
    w = w.otherwise(F.lit(7))
    reps = (
        exploded.withColumn("w", w)
        .groupBy("priority", (F.col("i") - 1).alias("b"))
        .agg(
            F.sum("w").cast("bigint").alias("nw"),
            (
                F.sum(F.col("price") * F.col("w")).cast("double")
                / F.sum("w").cast("bigint")
            ).cast("double").alias("mean_b"),
        )
        .filter(F.col("nw") > 0)
    )
    rnw = Window.partitionBy("priority").orderBy("mean_b", "b")
    cnt = Window.partitionBy("priority")
    ci = (
        reps.filter(F.col("b") >= 0)
        .withColumn("rn", F.row_number().over(rnw))
        .withColumn("n_reps", F.count(F.lit(1)).over(cnt))
        .groupBy("priority")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("ci_lo"),
            F.max(
                F.when(F.col("rn") == F.col("n_reps") - 1, F.col("mean_b"))
            ).alias("ci_hi"),
            F.max("n_reps").cast("bigint").alias("n_replicates"),
        )
    )
    base = reps.filter(F.col("b") == -1).select(
        "priority", F.col("nw").alias("n_rows"), F.col("mean_b").alias("mean_price")
    )
    return (
        base.join(ci, "priority")
        .select("priority", "n_rows", "mean_price", "ci_lo", "ci_hi", "n_replicates")
        .transform(sorted_output, "priority")
    )


@query(
    "association_rules_lift",
    oracle="""
    -- association rules over basket pairs: directional confidence and
    -- lift as FLOOR-SCALED integers (×10^4, integer division) — the
    -- NOTES rule for ratios of small integers, where round() can land
    -- exactly on .5 and the engines' rounding modes split. lift > 1e4
    -- means the pair co-occurs more than independence predicts.
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_baskets AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_co
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    support AS (
      SELECT l_partkey, count(*) AS n_orders FROM items GROUP BY 1
    )
    SELECT p.part_a, p.part_b, CAST(p.n_co AS BIGINT) AS n_co,
           CAST((p.n_co * 10000) // sa.n_orders AS BIGINT) AS conf_ab_e4,
           CAST((p.n_co * 10000) // sb.n_orders AS BIGINT) AS conf_ba_e4,
           CAST((p.n_co * nb.n * 10000) // (sa.n_orders * sb.n_orders)
                AS BIGINT) AS lift_e4
    FROM pairs p
    JOIN support sa ON sa.l_partkey = p.part_a
    JOIN support sb ON sb.l_partkey = p.part_b
    CROSS JOIN n_baskets nb
    WHERE p.n_co >= 2
    ORDER BY lift_e4 DESC, part_a, part_b
    LIMIT 100
    """,
)
def association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules from basket co-occurrence — the metric layer
    on top of ``basket_pair_affinity``: directional confidence
    (P(b|a), P(a|b)) and lift (observed/expected co-occurrence under
    independence), ranked by lift. All three are ratios of small
    integers, so they are emitted floor-scaled ×10^4 via integer
    division (exact in both engines; ``round`` on such ratios can land
    exactly on .5 where Spark HALF_UP and DuckDB HALF_EVEN disagree).

    Plan shape matches the affinity entry: the pair self-join is keyed
    on orderkey (fan-out bounded by basket size, linear in lineitem),
    supports join back by part key, and the single basket count is a
    broadcast scalar. The n_co >= 2 floor plus top-100-by-lift keeps
    the output the decision-relevant head."""
    from pim_etl_spark.sources import load_table

    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_baskets = items.select(
        F.count_distinct("l_orderkey").alias("n")
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
    support = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        pairs.join(
            support.select(
                F.col("l_partkey").alias("part_a"), F.col("n_orders").alias("n_orders_a")
            ),
            "part_a",
        )
        .join(
            support.select(
                F.col("l_partkey").alias("part_b"), F.col("n_orders").alias("n_orders_b")
            ),
            "part_b",
        )
        .join(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            "n_co",
            F.expr("n_co * 10000 div n_orders_a").cast("bigint").alias("conf_ab_e4"),
            F.expr("n_co * 10000 div n_orders_b").cast("bigint").alias("conf_ba_e4"),
            F.expr("n_co * n * 10000 div (n_orders_a * n_orders_b)")
            .cast("bigint")
            .alias("lift_e4"),
        )
        .orderBy(F.col("lift_e4").desc(), "part_a", "part_b")
        .limit(100)
    )


@query(
    "cep_pattern_error_reset",
    oracle="""
    -- MATCH_RECOGNIZE-style sequence detection as layered running-
    -- state windows: a purchase "converts" iff some view -> click ->
    -- purchase chain exists with NO error event anywhere between the
    -- view and the purchase (errors RESET the pattern). Row numbers
    -- (ts, event_id ordered) make every comparison integer-exact.
    WITH numbered AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    seq AS (
      SELECT user_id, event_type, rn,
             coalesce(max(CASE WHEN event_type = 'error' THEN rn END)
                 OVER w2, 0) AS last_err,
             coalesce(max(CASE WHEN event_type = 'view' THEN rn END)
                 OVER w2, 0) AS last_view
      FROM numbered
      WINDOW w2 AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    clicks AS (
      SELECT *,
             coalesce(max(CASE WHEN event_type = 'click'
                               AND last_view > last_err THEN rn END)
                 OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 0) AS last_valid_click
      FROM seq
    )
    SELECT user_id,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purchases,
           CAST(count(*) FILTER (WHERE event_type = 'purchase'
                                 AND last_valid_click > last_err) AS BIGINT)
               AS n_converted
    FROM clicks
    GROUP BY user_id
    HAVING count(*) FILTER (WHERE event_type = 'purchase') > 0
    ORDER BY user_id
    """,
)
def cep_pattern_error_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern matcher (the MATCH_RECOGNIZE
    capability, reference analogue: per-product event ordering in
    /root/reference/etl/transformers/midocean_transformer.py): count,
    per user, purchases completing a view → click → purchase chain
    where an intervening ``error`` event resets the pattern.

    Instead of collecting per-user event arrays (driver-sized state)
    or regex over concatenated strings (engine-dependent semantics),
    the pattern compiles to THREE layered running-state window
    functions over one (user_id) partitioning — last-error, last-view,
    last-valid-click row numbers — so a purchase converts iff
    ``last_valid_click > last_err`` at its position. One shuffle total;
    per-row state is three integers regardless of history length, the
    plan a 100 TB event stream needs (and the same windows run
    incrementally under Structured Streaming)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rn = F.row_number().over(w)
    seq = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", rn)
        .withColumn(
            "last_err",
            F.coalesce(
                F.max(F.when(F.col("event_type") == "error", rn)).over(wc), F.lit(0)
            ),
        )
        .withColumn(
            "last_view",
            F.coalesce(
                F.max(F.when(F.col("event_type") == "view", rn)).over(wc), F.lit(0)
            ),
        )
    )
    wr = Window.partitionBy("user_id").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    clicks = seq.withColumn(
        "last_valid_click",
        F.coalesce(
            F.max(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("last_view") > F.col("last_err")),
                    F.col("rn"),
                )
            ).over(wr),
            F.lit(0),
        ),
    )
    purchases = F.sum((F.col("event_type") == "purchase").cast("long"))
    return (
        clicks.groupBy("user_id")
        .agg(
            purchases.alias("n_purchases"),
            F.sum(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("last_valid_click") > F.col("last_err"))
                ).cast("long")
            ).alias("n_converted"),
        )
        .filter(F.col("n_purchases") > 0)
        .orderBy("user_id")
    )


@query(
    "cep_overlapping_matches",
    oracle="""
    -- MATCH_RECOGNIZE match-POLICY comparison on one pattern
    -- (view ->.*-> purchase), the dial cep_pattern_error_reset leaves
    -- untested: AFTER MATCH SKIP TO NEXT ROW (overlapping — every
    -- (view, purchase) pair within a 20-event lookback is its own
    -- match, so one view can serve many purchases and vice versa) vs
    -- AFTER MATCH SKIP PAST LAST ROW (greedy non-overlapping — a view
    -- is consumed by the first purchase that completes a match).
    -- Greedy reduction: a purchase completes a non-overlapping match
    -- iff some view lies strictly after the PREVIOUS purchase (proof:
    -- matches always end at purchases, so "armed since last match"
    -- == "view since last purchase").
    WITH numbered AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    state AS (
      SELECT user_id, event_type, rn,
             coalesce(max(CASE WHEN event_type = 'view' THEN rn END) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS last_view,
             coalesce(max(CASE WHEN event_type = 'purchase' THEN rn END) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_purchase,
             coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING), 0) AS views_in_window
      FROM numbered
    )
    SELECT user_id,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purchases,
           CAST(coalesce(sum(views_in_window)
               FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT)
               AS n_overlapping_matches,
           CAST(count(*) FILTER (WHERE event_type = 'purchase'
                                 AND last_view > prev_purchase) AS BIGINT)
               AS n_greedy_matches
    FROM state
    GROUP BY user_id
    HAVING count(*) FILTER (WHERE event_type = 'purchase') > 0
    ORDER BY user_id
    """,
)
def cep_overlapping_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE with OVERLAPPING match policies — the
    AFTER MATCH SKIP dial on the pattern ``view → … → purchase``:

    - SKIP TO NEXT ROW (overlapping): every (view, purchase) pair
      within a 20-event lookback is its own match; matches share rows.
      Compiles to one bounded-rows running count of views evaluated at
      each purchase — per-row state is ONE integer, no match-list
      materialization, which is why this survives 100 TB while an
      enumerate-the-matches CEP engine would emit O(V×P) rows.
    - SKIP PAST LAST ROW (greedy, non-overlapping): a completed match
      consumes its rows. The greedy automaton reduces exactly to
      "this purchase saw a view strictly after the previous purchase"
      (matches end only at purchases, so armed-since-last-match equals
      view-since-last-purchase) — one more running max, zero state
      growth.

    Both policies run in the SAME single (user_id) shuffle as layered
    window functions; the row-number ordering (ts, event_id) makes
    every comparison integer-exact cross-engine."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prior = Window.partitionBy("user_id").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, -1
    )
    lookback = Window.partitionBy("user_id").orderBy("rn").rowsBetween(-20, -1)
    is_view = F.col("event_type") == "view"
    is_purchase = F.col("event_type") == "purchase"
    state = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "last_view",
            F.coalesce(F.max(F.when(is_view, F.col("rn"))).over(prior), F.lit(0)),
        )
        .withColumn(
            "prev_purchase",
            F.coalesce(F.max(F.when(is_purchase, F.col("rn"))).over(prior), F.lit(0)),
        )
        .withColumn(
            "views_in_window",
            F.coalesce(F.sum(F.when(is_view, 1)).over(lookback), F.lit(0)),
        )
    )
    return (
        state.groupBy("user_id")
        .agg(
            F.sum(is_purchase.cast("long")).alias("n_purchases"),
            F.coalesce(
                F.sum(F.when(is_purchase, F.col("views_in_window"))), F.lit(0)
            )
            .cast("long")
            .alias("n_overlapping_matches"),
            F.sum(
                (is_purchase & (F.col("last_view") > F.col("prev_purchase"))).cast(
                    "long"
                )
            ).alias("n_greedy_matches"),
        )
        .filter(F.col("n_purchases") > 0)
        .orderBy("user_id")
    )


@query(
    "cep_quantified_pattern",
    oracle="""
    -- MATCH_RECOGNIZE with a QUANTIFIED variable-length pattern over
    -- CONTIGUOUS rows (the capability cep_overlapping_matches'
    -- any-gap pairs and cep_pattern_error_reset's reset automaton
    -- leave untested): PATTERN (V C+ P) — a view, then ONE OR MORE
    -- consecutive clicks, then a purchase, with nothing else between
    -- — plus the bounded quantifier C{2,4} in the same pass.
    -- Reduction (proof in the Spark twin's docstring): with
    -- last_view = max prior view row and last_break = max prior row
    -- of any non-view non-click type, a purchase at row rn completes
    -- V C+ P  iff  last_view > last_break AND rn - last_view >= 2;
    -- the greedy C+ length is exactly rn - last_view - 1. Matches
    -- are intrinsically non-overlapping (the purchase itself is a
    -- break), i.e. AFTER MATCH SKIP PAST LAST ROW.
    WITH numbered AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    state AS (
      SELECT user_id, event_type, rn,
             coalesce(max(CASE WHEN event_type = 'view' THEN rn END) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS last_view,
             coalesce(max(CASE WHEN event_type NOT IN ('view', 'click')
                               THEN rn END) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS last_break
      FROM numbered
    ),
    matches AS (
      SELECT user_id, event_type,
             CASE WHEN event_type = 'purchase'
                       AND last_view > last_break
                       AND rn - last_view >= 2
                  THEN rn - last_view - 1 END AS b_len
      FROM state
    )
    SELECT user_id,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purchases,
           CAST(count(b_len) AS BIGINT) AS n_matches,
           CAST(coalesce(sum(b_len), 0) AS BIGINT) AS clicks_consumed,
           CAST(coalesce(max(b_len), 0) AS BIGINT) AS max_run,
           CAST(count(*) FILTER (WHERE b_len BETWEEN 2 AND 4) AS BIGINT)
               AS n_matches_bounded
    FROM matches
    GROUP BY user_id
    HAVING count(b_len) > 0
    ORDER BY user_id
    """,
)
def cep_quantified_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE with a quantified variable-length pattern:
    ``PATTERN (V C+ P)`` over CONTIGUOUS per-user rows — a view, one
    or more consecutive clicks, then a purchase — plus the bounded
    quantifier ``C{2,4}`` evaluated in the same pass. This is the
    variable-length-match capability the two existing CEP entries
    don't cover (error_reset is a fixed automaton; overlapping_matches
    pairs rows with arbitrary gaps).

    Compilation (no match-list materialization): number rows per user,
    then two running maxima over prior rows — ``last_view`` (latest
    view) and ``last_break`` (latest row that is neither view nor
    click; purchases, errors and signups all break a click run). A
    purchase at row ``rn`` completes V C+ P iff
    ``last_view > last_break AND rn - last_view >= 2``. Proof: a view
    strictly between last_view and rn would itself be last_view; a
    break between would make last_break > last_view; so every row in
    (last_view, rn) is a click, and rn - last_view - 1 >= 1 is the
    exact GREEDY C+ run length. Matches are intrinsically
    non-overlapping — the purchase row is itself a break — giving
    AFTER MATCH SKIP PAST LAST ROW for free.

    Scale shape: ONE (user_id) hash exchange; per-row state is two
    integers however long the quantified run grows, so a 100 TB event
    log pays a single shuffle and O(1) memory per row — the reason to
    compile quantifiers to running state instead of enumerating
    variable-length matches (O(run length) rows each)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prior = Window.partitionBy("user_id").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, -1
    )
    is_view = F.col("event_type") == "view"
    is_break = ~F.col("event_type").isin("view", "click")
    is_purchase = F.col("event_type") == "purchase"
    state = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "last_view",
            F.coalesce(F.max(F.when(is_view, F.col("rn"))).over(prior), F.lit(0)),
        )
        .withColumn(
            "last_break",
            F.coalesce(F.max(F.when(is_break, F.col("rn"))).over(prior), F.lit(0)),
        )
    )
    b_len = F.when(
        is_purchase
        & (F.col("last_view") > F.col("last_break"))
        & (F.col("rn") - F.col("last_view") >= 2),
        F.col("rn") - F.col("last_view") - 1,
    )
    return (
        state.select("user_id", "event_type", b_len.alias("b_len"))
        .groupBy("user_id")
        .agg(
            F.sum(is_purchase.cast("long")).alias("n_purchases"),
            F.count("b_len").cast("long").alias("n_matches"),
            F.coalesce(F.sum("b_len"), F.lit(0)).cast("long").alias("clicks_consumed"),
            F.coalesce(F.max("b_len"), F.lit(0)).cast("long").alias("max_run"),
            F.sum(F.col("b_len").between(2, 4).cast("long")).alias("n_matches_bounded"),
        )
        .filter(F.col("n_matches") > 0)
        .orderBy("user_id")
    )


@query(
    "seasonal_index_decomposition",
    oracle="""
    -- classical multiplicative seasonal decomposition, integer-exact:
    -- per calendar month over three complete years (1995-1997), the
    -- seasonal index is month_share ÷ (1/12), floor-scaled ×10^4 from
    -- exact BIGINT cents (no division until the final floor), and the
    -- deseasonalized monthly mean divides the month total by its own
    -- index — all ratios of exact integers, bit-identical cross-engine.
    WITH m AS (
      SELECT CAST(month(o_orderdate) AS INT) AS month,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1998-01-01'
      GROUP BY 1
    ), g AS (
      SELECT sum(cents) AS total FROM m
    ), idx AS (
      SELECT m.month, m.n_orders, m.cents,
             (m.cents * 120000) // g.total AS ie4
      FROM m, g
    )
    SELECT month, n_orders,
           CAST(cents AS BIGINT) AS month_cents,
           CAST(ie4 AS BIGINT) AS seasonal_index_e4,
           CAST((cents * 10000) // ie4 AS BIGINT) AS deseasonalized_cents
    FROM idx
    ORDER BY month
    """,
)
def seasonal_index_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-index decomposition (the classical multiplicative
    model's seasonal component) over three complete years of order
    revenue: each calendar month's index is its revenue share against
    the uniform 1/12 baseline, and the deseasonalized series divides
    the month back by its own index. All arithmetic on exact BIGINT
    cents with a single floor division at the end (NOTES.md ratio
    rule) — no float accumulates, so the result is partitioning- and
    engine-independent.

    Plan: one partial-agg exchange on (month); the 1-row grand total
    broadcasts back (two scans beat shuffling the fact table by a
    constant key — SCALE.md principle)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    m = orders.groupBy(F.month("o_orderdate").cast("int").alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("month_cents"),
    )
    g = m.agg(F.sum("month_cents").alias("__total"))
    return (
        m.crossJoin(F.broadcast(g))
        .withColumn(
            "seasonal_index_e4",
            F.expr("(month_cents * 120000) DIV __total"),
        )
        .select(
            "month",
            "n_orders",
            "month_cents",
            "seasonal_index_e4",
            F.expr("(month_cents * 10000) DIV seasonal_index_e4").alias(
                "deseasonalized_cents"
            ),
        )
        .orderBy("month")
    )


@query(
    "event_path_mining",
    oracle="""
    -- 3-step clickstream path mining twin: per-user event sequences
    -- ordered by the (ts, event_id) total order (duplicate timestamps
    -- exist — NOTES.md ties rule), consecutive triples concatenated
    -- and counted corpus-wide; top 10 by (count DESC, path ASC).
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n_occurrences DESC, path ASC
    LIMIT 10
    """,
)
def event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-step path mining over clickstreams (the sequence extension of
    the 2-step transition matrix): consecutive 3-event paths per user
    via two leads on ONE user exchange, counted corpus-wide, top-10
    with a total order. At 100 TB the window runs per user partition
    and only (path, count) pairs — path-cardinality-bounded — reach
    the final exchange."""
    from pim_etl_spark.sources import load_table as _lt

    events = _lt(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(10)
    )


@query(
    "time_decayed_popularity",
    oracle="""
    -- dyadic time-decayed brand popularity: each order year's count
    -- weighs 2^(year-1992) (each year back halves), all BIGINT exact —
    -- the decayed-leaderboard pattern without a single transcendental.
    -- Top 15 by (decayed score DESC, brand ASC).
    SELECT p.p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(pow(2, year(o.o_orderdate) - 1992) AS BIGINT)) AS BIGINT)
             AS decayed_score
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    ORDER BY decayed_score DESC, brand ASC
    LIMIT 15
    """,
)
def time_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed popularity leaderboard: a brand's score halves per
    year of age (weight 2^(year−1992), exact BIGINT — the dyadic-decay
    discipline of `ewma_order_value` applied to rankings). Recency-
    weighted WITHOUT floats or transcendentals, so the leaderboard is
    deterministic under any partitioning. Broadcast part dim; one
    partial-agg exchange on brand."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.pow(F.lit(2.0), F.year("o_orderdate") - 1992).cast("long")
            )
            .cast("long")
            .alias("decayed_score"),
        )
        .transform(sorted_output, F.col("decayed_score").desc(), F.col("brand").asc())
        .limit(15)
    )


N_SYNTH_ROWS = 5000


@query(
    "synthetic_data_calibration",
    oracle=f"""
    -- twin of distribution-calibrated synthetic generation: real order
    -- prices (cents) split into exact rank deciles; {N_SYNTH_ROWS}
    -- synthetic rows land in deciles by md5-uniform (deterministic)
    -- and take the decile's floor-midpoint value. The gate pins the
    -- real bounds, the synthetic allocation, and the synthetic value
    -- sum — a generator whose marginal drifts from production data
    -- shifts a decile row.
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    ranked AS (
      SELECT cents,
             (row_number() OVER (ORDER BY cents) - 1) * 10 // count(*) OVER () AS decile
      FROM c
    ),
    bounds AS (
      SELECT decile, min(cents) AS lo, max(cents) AS hi,
             CAST(count(*) AS BIGINT) AS n_real
      FROM ranked GROUP BY decile
    ),
    synth AS (
      SELECT CAST(('0x' || substr(md5('synth:' || CAST(r.range AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS decile
      FROM range({N_SYNTH_ROWS}) r
    ),
    alloc AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_synth FROM synth GROUP BY decile
    )
    SELECT b.decile, b.n_real, b.lo AS real_lo, b.hi AS real_hi,
           a.n_synth,
           CAST(a.n_synth * ((b.lo + b.hi) // 2) AS BIGINT) AS synth_value_sum
    FROM bounds b JOIN alloc a USING (decile)
    ORDER BY b.decile
    """,
)
def synthetic_data_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic data generation calibrated to the production
    distribution (the test-data-at-scale verb): learn exact rank
    deciles from real prices, then deal deterministic md5-uniform
    synthetic rows into them, each valued at its decile's
    floor-midpoint — the generated marginal tracks production decile
    frequencies by construction, with zero RNG (replayable anywhere).
    The 10-row decile table broadcasts; generation is map-side over
    spark.range — no shuffle proportional to synthetic volume.

    Scale note: the exact global-rank decile build is the gate-exact
    twin; at 100 TB the boundaries come from `approx_quantile_sketch`
    (the declared sketch path) and everything downstream is identical.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    w_all = Window.orderBy("cents")
    ranked = orders.select(
        "cents",
        F.expr(
            "(row_number() OVER (ORDER BY cents) - 1) * 10 DIV count(*) OVER ()"
        ).alias("decile"),
    )
    bounds = ranked.groupBy("decile").agg(
        F.min("cents").alias("real_lo"),
        F.max("cents").alias("real_hi"),
        F.count(F.lit(1)).alias("n_real"),
    )
    synth = spark.range(N_SYNTH_ROWS).select(
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("synth:"), F.col("id").cast("string"))), 1, 8),
                16,
                10,
            ).cast("long")
            % 10
        ).alias("decile")
    )
    alloc = synth.groupBy("decile").agg(F.count(F.lit(1)).alias("n_synth"))
    return (
        bounds.join(alloc, "decile")
        .select(
            "decile",
            "n_real",
            "real_lo",
            "real_hi",
            "n_synth",
            (
                F.col("n_synth")
                * F.expr("(real_lo + real_hi) DIV 2")
            ).cast("long").alias("synth_value_sum"),
        )
        .orderBy("decile")
    )


@query(
    "sequential_purchase_patterns",
    oracle="""
    -- cross-ORDER sequence mining twin (the temporal sibling of
    -- same-basket affinity): brand X in an earlier order, brand Y in a
    -- strictly later order of the SAME customer; support = distinct
    -- customers exhibiting the sequence; top 10 by (support DESC,
    -- X, Y). Distinct (customer, brand, date) triples first, so a
    -- customer's repeat buys of one brand on one day can't inflate
    -- support.
    WITH buys AS (
      SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS brand,
             o.o_orderdate AS d
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT a.brand AS brand_then, b.brand AS brand_later,
           CAST(count(DISTINCT a.cust) AS BIGINT) AS n_customers
    FROM buys a JOIN buys b ON b.cust = a.cust AND b.d > a.d
    GROUP BY 1, 2
    ORDER BY n_customers DESC, brand_then, brand_later
    LIMIT 10
    """,
)
def sequential_purchase_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining across orders (X then later Y) —
    temporal, unlike `basket_pair_affinity`'s same-order pairs.

    Scale shape: a customer exhibits (X then Y) iff their FIRST X-buy
    precedes their LAST Y-buy, so the per-customer frame collapses to
    one (first_d, last_d) row per brand BEFORE the self-join — the
    join fans out over per-customer distinct brands (bounded by the
    brand domain), not (brand, day) buy rows, and emits exactly one
    row per exhibiting customer, turning the support aggregate into a
    plain count (no countDistinct exchange). The oracle keeps the
    naive buys×buys definition, so the hash gate proves the
    first/last reduction is semantics-preserving. The (brand, brand)
    aggregate is the only global exchange; fan-out stays linear in
    customers at any scale."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    spans = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.min("o_orderdate").alias("first_d"), F.max("o_orderdate").alias("last_d"))
    )
    a, b = spans.alias("a"), spans.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("b.last_d") > F.col("a.first_d")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_then"),
            F.col("b.brand").alias("brand_later"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .transform(sorted_output, F.col("n_customers").desc(), "brand_then", "brand_later")
        .limit(10)
    )


@query(
    "bayesian_smoothed_encoding",
    oracle="""
    -- m-estimate (Bayesian-smoothed) category encoding twin: a
    -- brand's encoding shrinks toward the global mean by pseudo-count
    -- m=100 — floor((S_b·10^4 + m·global_e4) / (n_b + m)) with
    -- global_e4 itself floored first, so both engines share every
    -- intermediate integer. The cold-start answer to LOO encoding:
    -- rare brands sit near the prior, popular brands near their own
    -- mean.
    WITH t AS (
      SELECT p_brand AS brand,
             CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
    ),
    g AS (
      SELECT sum(cents) * 10000 // count(*) AS global_e4 FROM t
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST((sum(cents) * 10000 + 100 * g.global_e4) // (count(*) + 100) AS BIGINT)
             AS smoothed_mean_e4
    FROM t, g
    GROUP BY brand, g.global_e4
    ORDER BY brand
    """,
)
def bayesian_smoothed_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian m-estimate category encoding (the cold-start-safe
    sibling of `target_encoding_loo`): each brand's mean price shrinks
    toward the global prior with pseudo-count m=100, all in exact
    integers with the prior floored FIRST (both engines then share
    every intermediate). The 1-row prior broadcasts into the
    per-brand aggregate — one exchange total."""
    parts = load_table(spark, sf_dir, "part").select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    g = parts.agg(
        F.expr("sum(cents) * 10000 DIV count(*)").alias("global_e4")
    )
    return (
        parts.groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").cast("long").alias("s"),
        )
        .crossJoin(F.broadcast(g))
        .select(
            "brand",
            "n_parts",
            F.expr("(s * 10000 + 100 * global_e4) DIV (n_parts + 100)").alias(
                "smoothed_mean_e4"
            ),
        )
        .orderBy("brand")
    )


@query(
    "volume_spike_detection",
    oracle="""
    -- ingest-monitoring twin: daily event volume per type vs the
    -- trailing 7-day window — ratio as the integer cross-multiple
    -- n·7·10^4 // Σ(prior 7), spike when today's count exceeds 2× the
    -- trailing mean (14·n > 2·Σ — division-free flag). Only days with
    -- a FULL 7-day history score, so the flag never fires on a cold
    -- start. The spike-day checksum pins which days fired.
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT event_type, d, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS prior7,
             count(*) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_prior
      FROM daily
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_scored_days,
           CAST(count(CASE WHEN n * 7 > 2 * prior7 THEN 1 END) AS BIGINT)
             AS n_spike_days,
           CAST(coalesce(sum(CASE WHEN n * 7 > 2 * prior7
                 THEN datediff('day', DATE '1992-01-01', d) END), 0) AS BIGINT)
             AS spike_day_checksum,
           CAST(max(n * 70000 // prior7) AS BIGINT) AS max_ratio_e4
    FROM scored
    WHERE n_prior = 7
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def volume_spike_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly monitoring (the ops verb a production
    feed pipeline alerts on): per event type, each day's count
    compares to its trailing 7-day window; the spike rule is the
    division-free cross-multiple 7·n > 2·Σprior (no float ratio can
    drift), and days without a full history never score. One window
    per type on one exchange; the spike-day checksum pins exactly
    which days fired, not just how many."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d")
    )
    daily = ev.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    w7 = (
        Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    )
    scored = daily.withColumn("prior7", F.sum("n").over(w7)).withColumn(
        "n_prior", F.count(F.lit(1)).over(w7)
    )
    spike = F.col("n") * 7 > 2 * F.col("prior7")
    return (
        scored.filter(F.col("n_prior") == 7)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_scored_days"),
            F.count(F.when(spike, 1)).alias("n_spike_days"),
            F.coalesce(
                F.sum(F.when(spike, F.datediff("d", F.lit("1992-01-01")))), F.lit(0)
            )
            .cast("long")
            .alias("spike_day_checksum"),
            F.max(F.expr("n * 70000 DIV prior7")).alias("max_ratio_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "autocorrelation_daily_orders",
    oracle="""
    -- exact-integer autocorrelation of the daily order-count series:
    -- with n days, total S, and y_t = n·c_t − S (the mean-centered
    -- series scaled by n — still exact BIGINT), lag-k ACF is
    -- num_k/den with num_k = Σ y_t·y_{t+k}, den = Σ y_t². Both sums
    -- are emitted exactly; the ratio is floor-scaled through
    -- correctly-rounded double ops (+,-,*,/ only), so both engines
    -- agree bit-for-bit.
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS c
      FROM orders GROUP BY 1
    ),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ),
    series AS (
      SELECT s.d, coalesce(daily.c, 0) AS c0
      FROM spine s LEFT JOIN daily USING (d)
    ),
    centered AS (
      SELECT d,
             (SELECT count(*) FROM series) * c0
               - (SELECT sum(c0) FROM series) AS y
      FROM series
    ),
    led AS (
      SELECT d, y,
             lead(y, 1) OVER w AS y1, lead(y, 2) OVER w AS y2,
             lead(y, 3) OVER w AS y3, lead(y, 4) OVER w AS y4,
             lead(y, 5) OVER w AS y5, lead(y, 6) OVER w AS y6,
             lead(y, 7) OVER w AS y7
      FROM centered WINDOW w AS (ORDER BY d)
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(y * y) AS BIGINT) AS den_yy,
             CAST(sum(y * y1) AS BIGINT) AS n1, CAST(sum(y * y2) AS BIGINT) AS n2,
             CAST(sum(y * y3) AS BIGINT) AS n3, CAST(sum(y * y4) AS BIGINT) AS n4,
             CAST(sum(y * y5) AS BIGINT) AS n5, CAST(sum(y * y6) AS BIGINT) AS n6,
             CAST(sum(y * y7) AS BIGINT) AS n7
      FROM led
    )
    SELECT u.lag, s.n_days, s.den_yy, u.num_yy,
           CAST(floor(CAST(u.num_yy AS DOUBLE) * 10000 / CAST(s.den_yy AS DOUBLE))
                AS BIGINT) AS acf_e4
    FROM sums s, (
      SELECT CAST(lag AS BIGINT) AS lag,
             CASE lag WHEN 1 THEN (SELECT n1 FROM sums) WHEN 2 THEN (SELECT n2 FROM sums)
                      WHEN 3 THEN (SELECT n3 FROM sums) WHEN 4 THEN (SELECT n4 FROM sums)
                      WHEN 5 THEN (SELECT n5 FROM sums) WHEN 6 THEN (SELECT n6 FROM sums)
                      WHEN 7 THEN (SELECT n7 FROM sums) END AS num_yy
      FROM range(1, 8) t(lag)
    ) u
    ORDER BY u.lag
    """,
)
def autocorrelation_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation (lags 1–7) of the daily order-count series —
    the seasonality-discovery primitive behind every forecasting
    pipeline (weekly cycles show up as a lag-7 peak). Entirely exact:
    the series is mean-centered WITHOUT division by scaling with n
    (y_t = n·c_t − S is still integer), so numerator and denominator
    of each ACF lag are exact BIGINTs; only the final floor-scaled
    ratio touches doubles, through correctly-rounded +,*,/ only.

    Scale shape: the series is CALENDAR-sized (one row per day —
    thousands of rows for decades), so the single-partition ordered
    window over it is bounded by the calendar, not the data; the only
    data-sized work is the daily groupBy rollup, one shuffle keyed on
    date. The lag products come from 7 ``lead`` columns in one window
    pass, then one global aggregate."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d")
    )
    daily = orders.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    series = spine.join(daily, "d", "left").select(
        "d", F.coalesce("c", F.lit(0)).cast("long").alias("c0")
    )
    totals = series.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("c0").alias("s")
    )
    centered = series.crossJoin(F.broadcast(totals)).select(
        "d", (F.col("n") * F.col("c0") - F.col("s")).alias("y")
    )
    w = Window.orderBy("d")  # calendar-sized series — bounded state
    led = centered.select(
        "y", *[F.lead("y", k).over(w).alias(f"y{k}") for k in range(1, 8)]
    )
    sums = led.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("den_yy"),
        *[
            F.sum(F.col("y") * F.col(f"y{k}")).cast("long").alias(f"n{k}")
            for k in range(1, 8)
        ],
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    num = F.element_at(
        F.array(*[F.col(f"n{k}") for k in range(1, 8)]), F.col("lag").cast("int")
    )
    return (
        lags.crossJoin(F.broadcast(sums))
        .select(
            "lag",
            "n_days",
            "den_yy",
            num.alias("num_yy"),
            F.floor(num.cast("double") * 10000 / F.col("den_yy").cast("double"))
            .cast("long")
            .alias("acf_e4"),
        )
        .orderBy("lag")
    )


@query(
    "cusum_excursion_band",
    oracle="""
    -- CUSUM level-shift detection on the daily order-count series:
    -- cumulative sum of (count - floor-mean) in day order, exact
    -- integers end to end; the max-|CUSUM| day estimates the
    -- changepoint and days in the top-20% excursion band are flagged
    -- (division-free rule: 10*|c| >= 8*max|c|)
    WITH daily AS (
      SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS s, count(*) AS d FROM daily),
    cu AS (
      SELECT day, n,
             CAST(sum(n - (SELECT s // d FROM tot)) OVER (ORDER BY day) AS BIGINT) AS cusum
      FROM daily
    ),
    mx AS (SELECT max(abs(cusum)) AS mc FROM cu)
    SELECT day, n, cusum,
           CASE WHEN abs(cusum) = (SELECT mc FROM mx) THEN 1 ELSE 0 END AS is_peak
    FROM cu
    WHERE 10 * abs(cusum) >= 8 * (SELECT mc FROM mx)
    ORDER BY day
    """,
)
def cusum_excursion_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection (ingest-monitoring verb, the
    sequel to volume_spike_detection's local rule): the cumulative sum
    of deviations from the global floor-mean turns a sustained level
    shift into a visible excursion, and the maximum-|CUSUM| day is the
    classic changepoint estimate. All arithmetic is exact BIGINT —
    mean as floor division, deviations and running sums integral — so
    the flagged set is identical cross-engine and under any
    partitioning. The running sum windows over the per-DAY aggregate
    (one row per day — years of data is thousands of rows however
    large the fact table), so the unpartitioned window is
    aggregate-sized, never event-sized."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = daily.agg(
        F.expr("sum(n) DIV count(*)").alias("mean_n"),
    )
    cu = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "cusum",
            F.sum(F.col("n") - F.col("mean_n")).over(
                Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .cache()
    )
    mx = cu.agg(F.max(F.abs("cusum")).alias("mc"))
    return (
        cu.crossJoin(F.broadcast(mx))
        .filter(10 * F.abs("cusum") >= 8 * F.col("mc"))
        .select(
            "day",
            "n",
            "cusum",
            (F.abs("cusum") == F.col("mc")).cast("int").alias("is_peak"),
        )
        .orderBy("day")
    )


@query(
    "theil_sen_trend",
    oracle="""
    -- Theil-Sen robust trend over the monthly order-count series:
    -- slope = LOWER median of all pairwise slopes (exact: signed
    -- integer division truncates identically in both engines),
    -- intercept = lower median of (y_i*1e6 - slope_e6*i)
    WITH monthly AS (
      SELECT (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS m,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT (b.n - a.n) * 1000000 // (b.m - a.m) AS s
      FROM monthly a JOIN monthly b ON a.m < b.m
    ),
    ms AS (
      SELECT s AS slope_e6 FROM (
        SELECT s, row_number() OVER (ORDER BY s) AS rk, count(*) OVER () AS c
        FROM slopes
      ) WHERE rk = (c + 1) // 2
    ),
    mi AS (
      SELECT v AS intercept_e6 FROM (
        SELECT n * 1000000 - (SELECT slope_e6 FROM ms) * m AS v,
               row_number() OVER (ORDER BY n * 1000000 - (SELECT slope_e6 FROM ms) * m) AS rk,
               count(*) OVER () AS c
        FROM monthly
      ) WHERE rk = (c + 1) // 2
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM monthly) AS n_months,
           (SELECT CAST(count(*) AS BIGINT) FROM slopes) AS n_pairs,
           (SELECT slope_e6 FROM ms) AS slope_e6,
           (SELECT intercept_e6 FROM mi) AS intercept_e6
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator (robust trend — up to 29% outlier
    contamination cannot move it, unlike the least-squares slope in
    trend_forecast_by_priority): the lower median of all pairwise
    slopes of the MONTHLY order-count series, then the lower median
    residual intercept at the fitted slope. Slopes stay exact scaled
    integers (signed integer division truncates identically in both
    engines, pinned in NOTES).

    Scale shape: the pairwise self-join runs on the per-month
    aggregate (84 rows → 3.5k pairs — years of data collapse before
    any pairing), never on raw orders; for per-key trends at higher
    series cardinality the same plan nests under a groupBy key. The
    lower-median picks use one window over the pair aggregate."""
    monthly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1).alias("m")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .cache()
    )
    a = monthly.select(F.col("m").alias("ma"), F.col("n").alias("na"))
    b = monthly.select(F.col("m").alias("mb"), F.col("n").alias("nb"))
    slopes = (
        a.join(b, F.col("ma") < F.col("mb"))
        .select(F.expr("(nb - na) * 1000000 DIV (mb - ma)").alias("s"))
        .cache()
    )
    w = Window.orderBy("s")
    ms = (
        slopes.withColumn("rk", F.row_number().over(w))
        .withColumn("c", F.count(F.lit(1)).over(Window.partitionBy()))
        .filter(F.col("rk") == F.expr("(c + 1) DIV 2"))
        .select(F.col("s").alias("slope_e6"))
    )
    resid = monthly.crossJoin(F.broadcast(ms)).select(
        "slope_e6", (F.col("n") * 1000000 - F.col("slope_e6") * F.col("m")).alias("v")
    )
    wi = Window.partitionBy("slope_e6").orderBy("v")
    mi = (
        resid.withColumn("rk", F.row_number().over(wi))
        .withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("slope_e6")))
        .filter(F.col("rk") == F.expr("(c + 1) DIV 2"))
        .select("slope_e6", F.col("v").alias("intercept_e6"))
    )
    return (
        monthly.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
        .crossJoin(F.broadcast(slopes.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))))
        .crossJoin(F.broadcast(mi))
        .select("n_months", "n_pairs", "slope_e6", "intercept_e6")
    )


@query(
    "peak_concurrency_sweep",
    oracle="""
    -- max concurrent open orders via the boundary sweep: +1 at each
    -- interval's open day, -1 the day after it closes, per-day net
    -- deltas, one running sum over the ~2.5k-day aggregate. Output:
    -- the top-10% concurrency band (10*c >= 9*peak), peak flagged.
    WITH iv AS (
      SELECT CAST(o_orderdate AS DATE) AS lo,
             CAST(o_orderdate AS DATE) + CAST((o_orderkey % 14 + 1) AS INTEGER) AS hi
      FROM orders
    ),
    bounds AS (
      SELECT lo AS day, 1 AS delta FROM iv
      UNION ALL
      SELECT hi + 1, -1 FROM iv
    ),
    daily AS (SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM bounds GROUP BY 1),
    run AS (
      SELECT day, CAST(sum(net) OVER (ORDER BY day) AS BIGINT) AS concurrency
      FROM daily
    ),
    mx AS (SELECT max(concurrency) AS peak FROM run)
    SELECT CAST(day AS TIMESTAMP) AS day, concurrency,
           CASE WHEN concurrency = (SELECT peak FROM mx) THEN 1 ELSE 0 END AS is_peak
    FROM run
    WHERE 10 * concurrency >= 9 * (SELECT peak FROM mx)
    ORDER BY day
    """,
)
def peak_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-concurrency / max-overlap analytics (capacity planning:
    how many orders are in flight at once) via the boundary-sweep
    identity: every interval contributes +1 at its open and −1 after
    its close, and the running sum of per-day nets IS the concurrency
    curve — no interval join at all, which is the whole trick: overlap
    counting that would be a self-theta-join becomes two scan-local
    boundary emissions and one window over the per-DAY aggregate
    (~2.5k rows however large the order table). Exact integers end to
    end; the gated band is division-free (10·c ≥ 9·peak)."""
    orders = load_table(spark, sf_dir, "orders")
    lo = F.to_date("o_orderdate")
    hi = F.date_add(lo, (F.col("o_orderkey") % 14 + 1).cast("int"))
    bounds = orders.select(lo.alias("day"), F.lit(1).alias("delta")).unionByName(
        orders.select(F.date_add(hi, 1).alias("day"), F.lit(-1).alias("delta"))
    )
    daily = bounds.groupBy("day").agg(F.sum("delta").cast("long").alias("net"))
    run = daily.withColumn(
        "concurrency",
        F.sum("net").over(Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    ).cache()
    mx = run.agg(F.max("concurrency").alias("peak"))
    return (
        run.crossJoin(F.broadcast(mx))
        .filter(10 * F.col("concurrency") >= 9 * F.col("peak"))
        .select(
            F.col("day").cast("timestamp_ntz").alias("day"),
            "concurrency",
            (F.col("concurrency") == F.col("peak")).cast("int").alias("is_peak"),
        )
        .orderBy("day")
    )


@query(
    "yoy_growth_report",
    oracle="""
    -- the BI staple: monthly revenue with month-over-month and
    -- year-over-year growth in signed basis points (exact cents,
    -- truncating division — identical in both engines)
    WITH monthly AS (
      SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    seq AS (
      SELECT y, m, rev_cents,
             lag(rev_cents, 1) OVER (ORDER BY y, m) AS prev_m,
             lag(rev_cents, 12) OVER (ORDER BY y, m) AS prev_y
      FROM monthly
    )
    SELECT y, m, rev_cents,
           (rev_cents - prev_m) * 10000 // prev_m AS mom_bp,
           (rev_cents - prev_y) * 10000 // prev_y AS yoy_bp
    FROM seq ORDER BY y, m
    """,
)
def yoy_growth_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month / year-over-year growth report — revenue in
    exact BIGINT cents, growth in signed truncating basis points, two
    lag windows over the per-MONTH aggregate (84 rows at any scale;
    the window never sees fact rows). First month / first year emit
    NULL growth rather than fabricated baselines."""
    monthly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("rev_cents")
        )
    )
    w = Window.orderBy("y", "m")
    seq = monthly.select(
        "y",
        "m",
        "rev_cents",
        F.lag("rev_cents", 1).over(w).alias("prev_m"),
        F.lag("rev_cents", 12).over(w).alias("prev_y"),
    )
    return seq.select(
        "y",
        "m",
        "rev_cents",
        F.expr("(rev_cents - prev_m) * 10000 DIV prev_m").alias("mom_bp"),
        F.expr("(rev_cents - prev_y) * 10000 DIV prev_y").alias("yoy_bp"),
    ).orderBy("y", "m")


APRIORI_MIN_SUPPORT = 20


@query(
    "apriori_triple_itemsets",
    oracle=f"""
    -- A-priori frequent 3-itemsets over per-order BRAND baskets:
    -- frequent pairs (support >= {APRIORI_MIN_SUPPORT}) generate
    -- candidate triples by the classic prefix join (pairs sharing the
    -- first item whose two second items also form a frequent pair),
    -- then one pass counts true triple support
    WITH basket AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
      SELECT a.item AS i1, b.item AS i2, CAST(count(*) AS BIGINT) AS supp
      FROM basket a JOIN basket b ON a.okey = b.okey AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= {APRIORI_MIN_SUPPORT}
    ),
    cand AS (
      SELECT p.i1, p.i2, q.i2 AS i3
      FROM pairs p JOIN pairs q ON p.i1 = q.i1 AND p.i2 < q.i2
      WHERE EXISTS (SELECT 1 FROM pairs r WHERE r.i1 = p.i2 AND r.i2 = q.i2)
    ),
    tri AS (
      SELECT c.i1, c.i2, c.i3, CAST(count(*) AS BIGINT) AS supp
      FROM cand c
      JOIN basket a ON a.item = c.i1
      JOIN basket b ON b.okey = a.okey AND b.item = c.i2
      JOIN basket d ON d.okey = a.okey AND d.item = c.i3
      GROUP BY 1, 2, 3 HAVING count(*) >= {APRIORI_MIN_SUPPORT}
    )
    SELECT i1, i2, i3, supp FROM tri ORDER BY i1, i2, i3
    """,
)
def apriori_triple_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemset mining with A-priori candidate pruning — the
    step after basket_pair_affinity: triples are only COUNTED when all
    three of their sub-pairs are already frequent (the anti-monotone
    support property), so the expensive 3-way basket join runs on the
    pruned candidate list, never on all item triples. That pruning IS
    the scale story: candidate volume is bounded by frequent-pair
    density, not item-count choose 3. Baskets are distinct brands per
    order (bounded basket size), supports exact integers."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    parts = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    basket = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("item"))
        .distinct()
        .cache()
    )
    a = basket.alias("a")
    b = basket.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("i1"), F.col("b.item").alias("i2"))
        .agg(F.count(F.lit(1)).cast("long").alias("supp"))
        .filter(F.col("supp") >= APRIORI_MIN_SUPPORT)
        .cache()
    )
    p = pairs.alias("p")
    q = pairs.alias("q")
    r = pairs.select(F.col("i1").alias("ri1"), F.col("i2").alias("ri2"))
    cand = (
        p.join(q, (F.col("p.i1") == F.col("q.i1")) & (F.col("p.i2") < F.col("q.i2")))
        .select(F.col("p.i1").alias("i1"), F.col("p.i2").alias("i2"), F.col("q.i2").alias("i3"))
        .join(
            r,
            (F.col("i2") == F.col("ri1")) & (F.col("i3") == F.col("ri2")),
            "left_semi",
        )
    )
    # the three-way basket intersection, okey-keyed END TO END: build
    # per-order frequent-pair occurrences first (basket self-join on
    # okey, pruned by the frequent-pair set), then extend each by a
    # third same-order item and prune to the A-priori candidates. The
    # previous layout started from broadcast(cand).join(basket, "i1")
    # — an item-only join whose intermediate is |basket|·|cand|/|items|
    # rows (~51M at sf0.1) before the okey keys kick in; keying every
    # join on okey bounds the intermediates by per-order pair counts
    # (the volume the pair-support stage already materializes) —
    # measured 5.49 s → 0.91 s with an identical triple set.
    fp = pairs.select("i1", "i2")
    x = basket.alias("x")
    y = basket.alias("y")
    z = basket.alias("z")
    opairs = (
        x.join(y, (F.col("x.okey") == F.col("y.okey")) & (F.col("x.item") < F.col("y.item")))
        .select(
            F.col("x.okey").alias("pokey"),
            F.col("x.item").alias("i1"),
            F.col("y.item").alias("i2"),
        )
        .join(F.broadcast(fp), ["i1", "i2"], "left_semi")
    )
    tri = (
        opairs.join(z, (F.col("pokey") == F.col("z.okey")) & (F.col("z.item") > F.col("i2")))
        .select("i1", "i2", F.col("z.item").alias("i3"))
        .join(F.broadcast(cand), ["i1", "i2", "i3"], "left_semi")
        .groupBy("i1", "i2", "i3")
        .agg(F.count(F.lit(1)).cast("long").alias("supp"))
        .filter(F.col("supp") >= APRIORI_MIN_SUPPORT)
    )
    return tri.select("i1", "i2", "i3", "supp").transform(sorted_output, "i1", "i2", "i3")


@query(
    "hazard_rate_table",
    oracle="""
    -- survival-analysis ingredients (discrete-time hazard table) for
    -- order fulfilment: duration = days from order date to the
    -- order's LAST line shipment; at_risk(d) = orders still open at d,
    -- events(d) = orders closing exactly at d; hazard floor-scaled.
    -- All integers — the Kaplan-Meier product is deliberately NOT
    -- taken (cumulative float products drift cross-engine); the
    -- hazard column is the per-day ingredient it would multiply.
    WITH dur AS (
      SELECT o.o_orderkey,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(max(l.l_shipdate) AS DATE)) AS d
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, o.o_orderdate
    ),
    ev AS (SELECT d, CAST(count(*) AS BIGINT) AS n_events FROM dur GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dur),
    tab AS (
      SELECT d, n_events,
             (SELECT n FROM tot)
               - COALESCE(CAST(sum(n_events) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
               AS n_at_risk
      FROM ev
    )
    SELECT CAST(d AS BIGINT) AS d, n_at_risk, n_events,
           n_events * 1000000 // n_at_risk AS hazard_e6
    FROM tab ORDER BY d
    """,
)
def hazard_rate_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival table for order fulfilment (duration =
    order date → last line shipment): per duration day the at-risk
    count, event count, and floor-scaled hazard — the exact integer
    ingredients of a Kaplan-Meier curve, stopping short of the
    cumulative float product that would drift cross-engine. The
    at-risk series is one window over the per-DAY event aggregate
    (duration cardinality ≈ 130 days at any SF), after one
    order-grain aggregate of the fact join — the standard
    survival-at-scale shape (events aggregate first; nothing windows
    over raw rows). The synthetic ship dates aren't anchored to their
    order dates, so durations span the whole date domain (and can be
    negative) — the duration cardinality stays bounded by the
    ~2.5k-day domain span at any SF, which is the property the plan
    relies on."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    dur = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.datediff(F.to_date("last_ship"), F.to_date("o_orderdate")).alias("d")
        )
    )
    ev = dur.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    tot = dur.agg(F.count(F.lit(1)).cast("long").alias("n"))
    prior = F.coalesce(
        F.sum("n_events").over(
            Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    ).cast("long")
    return (
        ev.crossJoin(F.broadcast(tot))
        .withColumn("n_at_risk", F.col("n") - prior)
        .select(
            F.col("d").cast("long").alias("d"),
            "n_at_risk",
            "n_events",
            F.expr("n_events * 1000000 DIV n_at_risk").alias("hazard_e6"),
        )
        .orderBy("d")
    )


@query(
    "subject_access_report",
    oracle="""
    -- GDPR/DSAR: for 5 md5-selected data subjects, everything the
    -- warehouse holds about them, summarized per table with row
    -- counts, exact money totals, and an XOR content checksum — the
    -- per-subject evidence bundle an erasure would have to cover
    WITH subjects AS (
      SELECT c_custkey, c_name FROM customer
      ORDER BY md5('dsar:' || CAST(c_custkey AS VARCHAR)) LIMIT 5
    ),
    o AS (
      SELECT s.c_custkey, 'orders' AS tbl,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_total,
             CAST(bit_xor(CAST(('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)) AS BIGINT) AS row_checksum
      FROM subjects s JOIN orders o ON o.o_custkey = s.c_custkey
      GROUP BY 1
    ),
    l AS (
      SELECT s.c_custkey, 'lineitem' AS tbl,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents_total,
             CAST(bit_xor(CAST(('0x' || substr(md5(CAST(l.l_orderkey AS VARCHAR) || '|' || CAST(l.l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT)) AS BIGINT) AS row_checksum
      FROM subjects s
      JOIN orders o ON o.o_custkey = s.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
    )
    SELECT s.c_custkey, s.c_name, u.tbl, u.n_rows, u.cents_total, u.row_checksum
    FROM subjects s JOIN (SELECT * FROM o UNION ALL SELECT * FROM l) u
      ON s.c_custkey = u.c_custkey
    ORDER BY s.c_custkey, u.tbl
    """,
)
def subject_access_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-subject access report (GDPR art. 15 / DSAR): for a
    deterministic sample of data subjects, every table's holdings
    keyed back to them — row counts, exact money totals, and an
    XOR-fold row checksum per (subject, table) that an erasure run
    (delete-by-ids, pipeline/gold.py) can be verified against. The
    subject list broadcasts; each table contributes one semi-joined
    aggregate — per-subject cost is index-lookup-shaped, not a full
    scan per subject."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    subjects = (
        cust.withColumn(
            "pick", F.md5(F.concat(F.lit("dsar:"), F.col("c_custkey").cast("string")))
        )
        .orderBy("pick")
        .limit(5)
        .select("c_custkey", "c_name")
        .cache()
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o_h = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10).cast("long")
    o = (
        orders.join(F.broadcast(subjects.select("c_custkey")), orders.o_custkey == F.col("c_custkey"))
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents_total"),
            F.bit_xor(o_h).alias("row_checksum"),
        )
        .select("c_custkey", F.lit("orders").alias("tbl"), "n_rows", "cents_total", "row_checksum")
    )
    l_h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    l = (
        orders.join(F.broadcast(subjects.select("c_custkey")), orders.o_custkey == F.col("c_custkey"))
        .select("c_custkey", "o_orderkey")
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long").alias("cents_total"),
            F.bit_xor(l_h).alias("row_checksum"),
        )
        .select("c_custkey", F.lit("lineitem").alias("tbl"), "n_rows", "cents_total", "row_checksum")
    )
    return (
        subjects.join(o.unionByName(l), "c_custkey")
        .select("c_custkey", "c_name", "tbl", "n_rows", "cents_total", "row_checksum")
        .transform(sorted_output, "c_custkey", "tbl")
    )


@query(
    "max_drawdown_series",
    oracle="""
    -- maximum drawdown of the daily demand-deviation series (the
    -- CUSUM curve, which genuinely oscillates): dd_t = running_max(c)
    -- - c_t, all exact integers; output the worst drawdown, its
    -- (first) trough day, and the peak level it fell from
    WITH daily AS (
      SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS s, count(*) AS d FROM daily),
    cu AS (
      SELECT day,
             CAST(sum(n - (SELECT s // d FROM tot)) OVER (ORDER BY day) AS BIGINT) AS c
      FROM daily
    ),
    dd AS (
      SELECT day, c,
             CAST(max(c) OVER (ORDER BY day) AS BIGINT) AS peak,
             CAST(max(c) OVER (ORDER BY day) - c AS BIGINT) AS drawdown
      FROM cu
    ),
    mx AS (SELECT max(drawdown) AS mdd FROM dd)
    SELECT CAST((SELECT mdd FROM mx) AS BIGINT) AS max_drawdown,
           CAST(min(day) AS TIMESTAMP) AS trough_day,
           CAST(min_by(peak, day) AS BIGINT) AS peak_level
    FROM dd WHERE drawdown = (SELECT mdd FROM mx)
    """,
)
def max_drawdown_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown — the worst peak-to-trough fall of a series
    (risk metric for balances, capacity headroom, SLO budgets) —
    computed on the daily demand-deviation (CUSUM) curve: one running
    max window subtracted from the level, one global max, all exact
    BIGINT on the per-day aggregate. First trough day wins ties
    (min day), with the peak level it fell from (min_by day). The
    pattern generalizes to any per-key series by partitioning both
    windows."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = daily.agg(F.expr("sum(n) DIV count(*)").alias("mean_n"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("c", F.sum(F.col("n") - F.col("mean_n")).over(w).cast("long"))
        .withColumn("peak", F.max("c").over(w).cast("long"))
        .withColumn("drawdown", (F.col("peak") - F.col("c")).cast("long"))
        .cache()
    )
    mx = dd.agg(F.max("drawdown").alias("mdd"))
    return (
        dd.crossJoin(F.broadcast(mx))
        .filter(F.col("drawdown") == F.col("mdd"))
        .groupBy()
        .agg(
            F.max("mdd").cast("long").alias("max_drawdown"),
            F.min("day").cast("timestamp_ntz").alias("trough_day"),
            F.min_by("peak", "day").cast("long").alias("peak_level"),
        )
    )


ALLOC_SEATS = 100


@query(
    "largest_remainder_allocation",
    oracle=f"""
    -- proportional quota allocation (Hamilton / largest-remainder):
    -- {ALLOC_SEATS} seats split by per-nation revenue cents; floor
    -- shares first, leftover seats to the largest remainders (ties:
    -- smaller nation name). Conservation (sum = {ALLOC_SEATS}) holds
    -- by construction and the oracle pins every seat.
    WITH rev AS (
      SELECT n_name AS nation,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1
    ),
    tot AS (SELECT sum(cents) AS t FROM rev),
    quota AS (
      SELECT nation, cents,
             cents * {ALLOC_SEATS} // (SELECT t FROM tot) AS floor_seats,
             cents * {ALLOC_SEATS} % (SELECT t FROM tot) AS remainder
      FROM rev
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY remainder DESC, nation ASC) AS rk,
             (SELECT {ALLOC_SEATS} - sum(floor_seats) FROM quota) AS leftover
      FROM quota
    )
    SELECT nation, cents,
           CAST(floor_seats AS BIGINT) AS floor_seats,
           CAST(floor_seats + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS seats
    FROM ranked
    ORDER BY seats DESC, nation
    """,
)
def largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional allocation by the largest-remainder (Hamilton)
    method — the quota-splitting verb behind sampling budgets, shard
    assignments, and ad-delivery pacing: integer floor shares first,
    then the leftover units go to the largest fractional remainders
    (deterministic tie-break). Everything is exact integer arithmetic
    (remainders compared as modulos — no float shares), conservation
    is structural, and the ranking window runs over the 25-row
    per-nation aggregate."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents"))
    )
    tot = rev.agg(F.sum("cents").alias("t"))
    quota = rev.crossJoin(F.broadcast(tot)).select(
        "nation",
        "cents",
        F.expr(f"cents * {ALLOC_SEATS} DIV t").alias("floor_seats"),
        F.expr(f"cents * {ALLOC_SEATS} % t").alias("remainder"),
    )
    leftover = quota.agg(
        (F.lit(ALLOC_SEATS) - F.sum("floor_seats")).cast("long").alias("leftover")
    )
    ranked = quota.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("remainder"), F.asc("nation")))
    ).crossJoin(F.broadcast(leftover))
    return (
        ranked.select(
            "nation",
            "cents",
            F.col("floor_seats").cast("long").alias("floor_seats"),
            (
                F.col("floor_seats")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("seats"),
        )
        .orderBy(F.desc("seats"), F.asc("nation"))
    )
