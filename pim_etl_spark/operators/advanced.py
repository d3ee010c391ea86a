"""Second-wave operator coverage: array predicates (P10), pivot,
cube, as-of resolution (J6), map projections (§7.4 risk 6), sliding
windows (§2.8), positional explode, permissive casts (N5), and
statistics aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pim_etl_spark.catalog import query
from pim_etl_spark.sources import load_table
from pim_etl_spark.tuning import sorted_output


@query(
    "exists_array_predicate",
    oracle="""
    SELECT l_orderkey, len(qs) AS n_items
    FROM (SELECT l_orderkey, list(l_quantity) AS qs FROM lineitem GROUP BY l_orderkey)
    WHERE len(list_filter(qs, q -> q >= 49)) > 0
    ORDER BY l_orderkey
    """,
)
def exists_array_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate inside an array (SURVEY P10: find products where
    ``categories.name == X`` — an exists() over an array of structs)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_list("l_quantity").alias("qs"))
        .filter(F.exists(F.col("qs"), lambda q: q >= 49))
        .select("l_orderkey", F.size("qs").alias("n_items"))
        .orderBy("l_orderkey")
    )


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders GROUP BY o_orderpriority ORDER BY priority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot with an explicit value list (keeps the plan to a
    single aggregation pass — no second scan to discover pivot values,
    which matters when the fact table is 100 TB)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
        .orderBy("priority")
    )


@query(
    "cube_lineitem_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (SURVEY §2.4 note): 2^n grouping combos in
    one pass via Catalyst's Expand."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@query(
    "asof_last_event_before_cutoff",
    oracle="""
    SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
    FROM (
      SELECT user_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
    ) WHERE rn = 1
    ORDER BY user_id
    """,
)
def asof_last_event_before_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of resolution (SURVEY J6): latest row per key before a fixed
    point in time — the price-validity / stock-arrival pattern. The
    filter prunes before the window, and WindowGroupLimit keeps only
    one candidate per key ahead of the shuffle."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id")
    )


@query(
    "map_build_and_project",
    oracle="""
    -- the oracle computes the projections directly; the Spark side
    -- builds a MapType column and projects element_at (SURVEY §7.4
    -- risk 6: maps are exposed via scalar projections for hashing)
    SELECT source,
           count(*) FILTER (WHERE lang = 'en') AS n_en,
           count(*) FILTER (WHERE lang = 'fr') AS n_fr,
           count(DISTINCT lang) AS n_langs
    FROM documents GROUP BY source ORDER BY source
    """,
)
def map_build_and_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build lang→count maps per source (F15 map_from_entries shape,
    the multilingual-map model of unified.jsonc:25-33), then project
    scalar lookups out of the map."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    maps = per_lang.groupBy("source").agg(
        F.map_from_entries(F.collect_list(F.struct("lang", "n"))).alias("lang_counts")
    )
    return maps.select(
        "source",
        F.coalesce(F.element_at(F.col("lang_counts"), "en"), F.lit(0)).alias("n_en"),
        F.coalesce(F.element_at(F.col("lang_counts"), "fr"), F.lit(0)).alias("n_fr"),
        F.size("lang_counts").cast("long").alias("n_langs"),
    ).orderBy("source")


@query(
    "multilingual_text_maps",
    oracle="""
    -- oracle computes the per-language projections directly; the
    -- Spark side materializes the unified {lang: text} MapType column
    -- (unified.jsonc:25-33) and projects element_at lookups out of it
    SELECT source,
           min(CASE WHEN lang = 'en' THEN substring(text, 1, 16) END) AS name_en,
           min(CASE WHEN lang = 'de' THEN substring(text, 1, 16) END) AS name_de,
           count(DISTINCT lang) AS n_langs
    FROM documents GROUP BY source ORDER BY source
    """,
)
def multilingual_text_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual text-map round trip (SURVEY §7.4 risk 6 / the
    silver layer's names/descriptions model): fold per-language rows
    into a ``{lang: text}`` map per key, then project per-language
    scalars back out with element_at — absent languages stay null."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("source", "lang").agg(
        F.min(F.substring("text", 1, 16)).alias("nm")
    )
    maps = per_lang.groupBy("source").agg(
        F.map_from_entries(F.array_sort(F.collect_list(F.struct("lang", "nm")))).alias("names")
    )
    return maps.select(
        "source",
        F.element_at(F.col("names"), "en").alias("name_en"),
        F.element_at(F.col("names"), "de").alias("name_de"),
        F.size("names").cast("long").alias("n_langs"),
    ).orderBy("source")


@query(
    "sliding_window_counts",
    oracle="""
    -- 1-hour windows sliding every 30 minutes: each event lands in 2
    SELECT ws AS window_start, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM (
      SELECT unnest([
               CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP),
               CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800) AS TIMESTAMP)
             ]) AS ws, value
      FROM events
    )
    GROUP BY ws ORDER BY ws
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows in batch form (SURVEY §2.8):
    ``window(ts, '1 hour', '30 minutes')`` — each event contributes to
    two overlapping windows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


@query(
    "posexplode_tokens",
    oracle="""
    SELECT pos, count(*) AS n, min(token) AS first_token
    FROM (
      SELECT unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS token
      FROM (SELECT string_split(p_name, ' ') AS toks FROM part)
    )
    GROUP BY pos ORDER BY pos
    """,
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (UDTF-equivalent surface, SURVEY §2.9):
    token position statistics via posexplode."""
    return (
        load_table(spark, sf_dir, "part")
        .select(F.posexplode(F.split(F.col("p_name"), " ")).alias("pos0", "token"))
        .select((F.col("pos0") + 1).cast("long").alias("pos"), "token")
        .groupBy("pos")
        .agg(F.count(F.lit(1)).alias("n"), F.min("token").alias("first_token"))
        .orderBy("pos")
    )


@query(
    "try_cast_permissive",
    oracle="""
    -- mixed numeric/garbage strings: TRY_CAST nulls the garbage
    SELECT o_orderstatus,
           count(*) AS n,
           -- outer CASTs: DuckDB sum(BIGINT) is HUGEINT, Spark's is BIGINT
           CAST(sum(CASE WHEN TRY_CAST(mixed AS BIGINT) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
           CAST(sum(TRY_CAST(mixed AS BIGINT)) AS BIGINT) AS total_parsed
    FROM (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 5 = 0 THEN 'N/A'
                  ELSE CAST(o_orderkey AS VARCHAR) END AS mixed
      FROM orders
    )
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def try_cast_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive parsing with error quarantine accounting (SURVEY N5:
    skip bad record, count error — etl/base.py:121-133) as try_cast +
    null-side accounting; no row-at-a-time control flow."""
    orders = load_table(spark, sf_dir, "orders")
    mixed = F.when(F.col("o_orderkey") % 5 == 0, F.lit("N/A")).otherwise(
        F.col("o_orderkey").cast("string")
    )
    parsed = mixed.try_cast("bigint")
    return (
        orders.select("o_orderstatus", parsed.alias("parsed"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("parsed").isNull(), 1).otherwise(0)).alias("n_bad"),
            F.sum("parsed").alias("total_parsed"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "stats_aggregates",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS price_stddev,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(quantile_cont(l_discount, 0.5), 6) AS median_discount
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev / correlation / interpolated
    median (both engines use linear-interpolation quantiles)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.percentile("l_discount", 0.5), 6).alias("median_discount"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "grouping_sets_explicit",
    oracle="""
    SELECT r_name, c_mktsegment, count(*) AS n
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
    """,
)
def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SURVEY §2.4 note): independent
    aggregation shapes in one Expand pass, via the SQL surface."""
    from pim_etl_spark.sources import load_table as _lt

    _lt(spark, sf_dir, "customer").createOrReplaceTempView("gs_customer")
    _lt(spark, sf_dir, "nation").createOrReplaceTempView("gs_nation")
    _lt(spark, sf_dir, "region").createOrReplaceTempView("gs_region")
    return spark.sql(
        """
        SELECT r_name, c_mktsegment, count(*) AS n
        FROM gs_customer
        JOIN gs_nation ON c_nationkey = n_nationkey
        JOIN gs_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
        """
    )


@query(
    "array_slice_position_ops",
    oracle="""
    WITH arr AS (
      SELECT l_orderkey,
             list_sort(list(l_partkey)) AS parts
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(parts) AS n_parts,
           -- serialized: driver canonicalizer can't hash raw list cells
           -- coalesce: slicing past the end is NULL in DuckDB but an
           -- empty array (→ '') in Spark
           coalesce(array_to_string(parts[2:3], ','), '') AS middle_two,
           CAST(list_position(parts, parts[1]) AS INT) AS first_pos,
           list_contains(parts, parts[len(parts)]) AS has_last
    FROM arr ORDER BY l_orderkey
    """,
)
def array_slice_position_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array slicing / position / membership over re-nested arrays
    (SURVEY §2.7 array surface)."""
    arr = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("l_partkey")).alias("parts"))
    )
    return arr.select(
        "l_orderkey",
        F.size("parts").cast("long").alias("n_parts"),
        F.array_join(F.transform(F.slice("parts", 2, 2), lambda x: x.cast("string")), ",").alias(
            "middle_two"
        ),
        F.array_position(F.col("parts"), F.col("parts")[0]).cast("int").alias("first_pos"),
        F.array_contains(F.col("parts"), F.element_at(F.col("parts"), -1)).alias("has_last"),
    ).orderBy("l_orderkey")


@query(
    "map_keys_values_ops",
    oracle="""
    SELECT source,
           -- serialized: driver canonicalizer can't hash raw list cells
           array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs,
           count(DISTINCT lang) AS n_langs,
           count(*) AS total_docs
    FROM documents GROUP BY source ORDER BY source
    """,
)
def map_keys_values_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_keys / map_values projections out of a built MapType column
    (SURVEY §7.4 risk 6 — maps exposed via scalar/array projections)."""
    per_lang = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    maps = per_lang.groupBy("source").agg(
        F.map_from_entries(F.collect_list(F.struct("lang", "n"))).alias("m")
    )
    return maps.select(
        "source",
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("langs"),
        F.size("m").cast("long").alias("n_langs"),
        F.aggregate(F.map_values("m"), F.lit(0).cast("long"), lambda a, x: a + x).alias("total_docs"),
    ).orderBy("source")


@query(
    "approx_quantile_sketch",
    oracle="""
    -- sketch values differ per engine (GK/KLL variants), so the
    -- checked output is the exact interpolated quantile plus a 5%
    -- relative-error predicate each engine evaluates against ITS OWN
    -- sketch — the approx_distinct_counts pattern for quantiles
    SELECT l_returnflag,
           count(*) AS n,
           abs(approx_quantile(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5))
             <= 0.05 * quantile_cont(l_extendedprice, 0.5) AS p50_within_5pct,
           abs(approx_quantile(l_extendedprice, 0.95) - quantile_cont(l_extendedprice, 0.95))
             <= 0.05 * quantile_cont(l_extendedprice, 0.95) AS p95_within_5pct
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def approx_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald-Khanna sketch): the single-pass
    mergeable path for percentile dashboards over 100 TB — exact
    interpolated quantiles cost a sort per group, the sketch is one
    scan with bounded state. Hashed output = wide-margin 5% sketch
    bounds only: raw interpolated quantiles carry FP-jitter onto .xx5
    rounding boundaries (NOTES.md trap), and sketch values differ per
    engine; the exact median already hashes in stats_aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    # BOTH percentiles per flavor come from ONE aggregate buffer (array
    # form): the exact side sorts each group once instead of once per
    # quantile — it dominates this query's cost (the sketch is cheap;
    # the exact twin exists only to evaluate the error bound)
    both = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95))).alias("ex"),
            F.percentile_approx(
                "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), 10000
            ).alias("ap"),
        )
    )
    ex = lambda i: F.col("ex")[i]  # noqa: E731
    ap = lambda i: F.col("ap")[i]  # noqa: E731
    return (
        both.select(
            "l_returnflag",
            "n",
            (F.abs(ap(0) - ex(0)) <= 0.05 * ex(0)).alias("p50_within_5pct"),
            (F.abs(ap(1) - ex(1)) <= 0.05 * ex(1)).alias("p95_within_5pct"),
        )
        .transform(sorted_output, "l_returnflag")
    )


@query(
    "lateral_top2_per_customer",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice
                  FROM orders
                  WHERE o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey ASC
                  LIMIT 2) o
    ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey
    """,
)
def lateral_top2_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (top-2 orders per customer) — the
    per-row-subquery surface; Catalyst decorrelates it into a ranked
    window join rather than executing per-customer subqueries."""
    from pim_etl_spark.sources import load_table as _lt

    _lt(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    _lt(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM lat_customer c,
             LATERAL (SELECT o_orderkey, o_totalprice
                      FROM lat_orders
                      WHERE o_custkey = c.c_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC
                      LIMIT 2) o
        ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey
        """
    )


@query(
    "approx_distinct_counts",
    oracle="""
    -- sketch values differ per engine (HLL++ vs DuckDB's HLL), so the
    -- checked output is the exact count plus a tolerance predicate each
    -- engine evaluates against ITS OWN sketch — deterministic on both.
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
             <= 0.1 * count(DISTINCT l_partkey) AS approx_within_10pct
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def approx_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++): the catalog-stats scale path.

    Sketch estimates differ across engines, so the hashed output is the
    exact count and a 10%-relative-error bound on the sketch — both
    engines' HLL variants sit ~2% at this cardinality, so the boolean
    is stable; the raw estimate stays unit-tested locally."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            (
                F.abs(F.approx_count_distinct("l_partkey") - F.countDistinct("l_partkey"))
                <= 0.1 * F.countDistinct("l_partkey")
            ).alias("approx_within_10pct"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "string_agg_rollup",
    oracle="""
    -- ordered string aggregation (LISTAGG / string_agg): the unified
    -- schema's denormalized display strings (e.g. colors_available)
    SELECT n_name,
           string_agg(c_name, '|' ORDER BY c_name) AS members,
           CAST(count(*) AS BIGINT) AS n_members
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def string_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation per group. Spark-side this is
    collect_list → array_sort → array_join, which keeps the
    aggregation two-phase (partial collect map-side); the explicit
    sort makes the concatenation order deterministic across any
    partitioning — never rely on collect_list arrival order."""
    cust = load_table(spark, sf_dir, "customer").select("c_name", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias("members"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .orderBy("n_name")
    )


@query(
    "gap_fill_forward",
    oracle="""
    -- time-series gap fill: per-user daily date spine, forward-fill
    -- missing days with the last observed value (sensor/stock
    -- densification — the read-side twin of the stock snapshot feed)
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 2) AS v
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1
    ), spine AS (
      -- list-returning generate_series + unnest: the table-function
      -- form can't take lateral column args in DuckDB
      SELECT user_id,
             CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ), j AS (
      SELECT s.user_id, s.d, daily.v
      FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
    )
    -- d output as TIMESTAMP: Spark DATE collects to pandas object
    -- cells while DuckDB DATE is datetime64 — timestamp on both sides
    -- keeps the driver canonicalizer's dtype kinds aligned
    SELECT user_id, CAST(d AS TIMESTAMP) AS day_ts,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           CASE WHEN v IS NULL THEN 1 ELSE 0 END AS was_gap
    FROM j ORDER BY user_id, day_ts
    """,
)
def gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily densification with forward fill: per-user date spine via
    sequence()+explode (generated where the user's rows already live —
    no extra shuffle for the spine), left join of observed days, then
    last(ignorenulls) over an unbounded-preceding window. The fill
    window shuffles (user, day, value) triples only; at 100 TB the
    spine explode is the cheap side and the window partitions by the
    entity key, so skew follows entity activity."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d"), "value"
    )
    daily = ev.groupBy("user_id", "d").agg(F.round(F.sum("value"), 2).alias("v"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select("user_id", F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    joined = spine.join(daily, ["user_id", "d"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.col("d").cast("timestamp_ntz").alias("day_ts"),
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        F.col("v").isNull().cast("int").alias("was_gap"),
    ).orderBy("user_id", "day_ts")


@query(
    "exact_percentiles",
    oracle="""
    -- EXACT distributed percentiles (the precise twin of the KLL/
    -- t-digest approx entry): linear interpolation semantics match
    -- between Spark percentile() and DuckDB quantile_cont
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25,
           round(quantile_cont(l_quantity, 0.50), 4) AS p50,
           round(quantile_cont(l_quantity, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (``percentile``, not approx): the
    aggregate buffers per-group value multisets, so unlike every other
    agg here it is NOT map-side reducible — memory scales with group
    row count. That is exactly why the approx sketch twin
    (approx_quantile_sketch) exists; this entry is the ground truth
    the sketch is judged against, and at 100 TB you run IT only on
    samples or small groups."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(l_quantity, 0.50)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("p75"),
            F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("price_p95"),
        )
        .transform(sorted_output, "l_returnflag")
    )


@query(
    "windowed_distinct_counts",
    oracle="""
    -- running DISTINCT count over a window: how many distinct event
    -- types has each user produced so far
    SELECT user_id, event_id,
           CAST(count(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS distinct_types_so_far
    FROM events
    ORDER BY user_id, event_id
    """,
)
def windowed_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct count per key. Spark does not allow
    count(DISTINCT) as a window function; the idiom is
    size(collect_set() OVER w) — the set state is bounded by the
    distinct-value cardinality of the column (a handful of event
    types), NOT the window length, so it is safe exactly when the
    counted domain is small. Tie-broken on event_id for a total order
    (duplicate timestamps exist in the data)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.size(F.collect_set("event_type").over(w)).cast("long").alias("distinct_types_so_far"),
        )
        .transform(sorted_output, "user_id", "event_id")
    )


@query(
    "heavy_hitters_sketch",
    oracle="""
    -- exact heavy hitters (freq > n/64) over a planted-skew key: the
    -- engine must reach the identical set + exact counts via the
    -- two-pass sketch (per-partition Misra-Gries candidates -> exact
    -- count of candidates only); a sketch that loses a hot item or a
    -- wrong decrement bound drops a row immediately
    WITH base AS (
      SELECT CASE WHEN l_orderkey % 5 = 0
                  THEN 'HOT-' || CAST(l_linenumber AS VARCHAR)
                  ELSE 'c-' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
             END AS item
      FROM lineitem
    ),
    tot AS (SELECT count(*) AS n FROM base)
    SELECT item, CAST(count(*) AS BIGINT) AS n_rows,
           round(100.0 * CAST(count(*) AS DOUBLE) / (SELECT n FROM tot), 4) AS pct
    FROM base GROUP BY item
    HAVING count(*) > (SELECT CAST(n AS DOUBLE) FROM tot) / 64.0
    ORDER BY item
    """,
)
def heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass heavy hitters over a high-cardinality key (round 5):
    pass 1 builds a bounded Misra-Gries summary PER PARTITION
    (mapInPandas, Arrow-batched — ≤256 counters of state regardless of
    partition size); pass 2 exactly counts ONLY the surviving
    candidates (a broadcast semi-join).

    This is the 100 TB shape for "which items dominate": an exact
    groupBy on a mostly-unique key shuffles every row; here the
    full-cardinality shuffle never happens — per-partition summaries
    are ≤256 rows each, and the exact pass counts a candidate set of
    at most 256 × partitions keys. The MG merge guarantee (any item
    with global freq > n/(k+1) survives in the partition where it is
    densest) makes the final exact-verified output deterministic and
    identical to the brute-force truth, which the oracle pins.

    The key is planted-skew: every 5th order contributes 'HOT-<line>'
    (7 hot keys ≈ 1.6–5.7% each), everything else is a unique cold
    key — the cardinality profile that makes sketching necessary.
    """
    import pandas as pd

    K = 256  # per-partition counter capacity (≫ 64 target → wide margin)

    li = load_table(spark, sf_dir, "lineitem")
    item = F.when(
        F.col("l_orderkey") % 5 == 0,
        F.concat(F.lit("HOT-"), F.col("l_linenumber").cast("string")),
    ).otherwise(
        F.concat(
            F.lit("c-"),
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        )
    )
    items = li.select(item.alias("item"))

    def mg_summaries(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for it, c in pdf["item"].value_counts().items():
                counters[it] = counters.get(it, 0) + int(c)
            if len(counters) > K:
                # batch Misra-Gries decrement: subtract the (K+1)-th
                # largest count from everyone, drop the non-positive —
                # at most K counters survive, and any item's count is
                # underestimated by at most (partition rows)/(K+1)
                vals = sorted(counters.values(), reverse=True)
                d = vals[K]
                counters = {i: c - d for i, c in counters.items() if c > d}
        yield pd.DataFrame(
            {"item": list(counters.keys()), "mg_count": list(counters.values())}
        )

    candidates = (
        items.mapInPandas(mg_summaries, "item string, mg_count long")
        .select("item")
        .distinct()
    )
    n_total = items.count()
    exact = (
        items.join(F.broadcast(candidates), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > n_total / 64.0)
    )
    return exact.select(
        "item",
        "n_rows",
        F.round(F.lit(100.0) * F.col("n_rows").cast("double") / n_total, 4).alias("pct"),
    ).orderBy("item")


@query(
    "table_profile_summary",
    oracle="""
    -- column-level data profile (the ANALYZE/profiling tool a
    -- pipeline runs before trusting a feed): null count, exact
    -- distinct, min/max/mean per numeric column — one row per column
    WITH agg AS (
      SELECT count(*) AS n,
             count(l_quantity) AS c1, count(DISTINCT l_quantity) AS d1,
             min(l_quantity) AS lo1, max(l_quantity) AS hi1, avg(l_quantity) AS m1,
             count(l_extendedprice) AS c2, count(DISTINCT l_extendedprice) AS d2,
             min(l_extendedprice) AS lo2, max(l_extendedprice) AS hi2, avg(l_extendedprice) AS m2,
             count(l_discount) AS c3, count(DISTINCT l_discount) AS d3,
             min(l_discount) AS lo3, max(l_discount) AS hi3, avg(l_discount) AS m3,
             count(l_tax) AS c4, count(DISTINCT l_tax) AS d4,
             min(l_tax) AS lo4, max(l_tax) AS hi4, avg(l_tax) AS m4
      FROM lineitem
    )
    SELECT 'l_quantity' AS col, CAST(n - c1 AS BIGINT) AS n_nulls,
           CAST(d1 AS BIGINT) AS n_distinct, CAST(lo1 AS DOUBLE) AS min_val,
           CAST(hi1 AS DOUBLE) AS max_val, round(m1, 4) AS mean_val FROM agg
    UNION ALL
    SELECT 'l_extendedprice', CAST(n - c2 AS BIGINT), CAST(d2 AS BIGINT),
           CAST(lo2 AS DOUBLE), CAST(hi2 AS DOUBLE), round(m2, 4) FROM agg
    UNION ALL
    SELECT 'l_discount', CAST(n - c3 AS BIGINT), CAST(d3 AS BIGINT),
           CAST(lo3 AS DOUBLE), CAST(hi3 AS DOUBLE), round(m3, 4) FROM agg
    UNION ALL
    SELECT 'l_tax', CAST(n - c4 AS BIGINT), CAST(d4 AS BIGINT),
           CAST(lo4 AS DOUBLE), CAST(hi4 AS DOUBLE), round(m4, 4) FROM agg
    ORDER BY col
    """,
)
def table_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiling (round 5): null counts, exact
    distincts, min/max/mean for every profiled column computed in ONE
    aggregate over ONE scan, then unpivoted to a row per column — the
    feed-trust report a pipeline runs on arrival (the reference's
    validation step reads per-field presence the same way).

    Scale shape: all measures are partial-aggregatable in a single
    pass; the multiple count(DISTINCT) trigger Spark's expand-rewrite
    (one shuffle keyed by (gid, value)), which is the engine-native
    plan for multi-distinct — never one scan per column."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"c_{c}"),
            F.countDistinct(c).alias(f"d_{c}"),
            F.min(c).cast("double").alias(f"lo_{c}"),
            F.max(c).cast("double").alias(f"hi_{c}"),
            F.round(F.avg(c), 4).alias(f"m_{c}"),
        ]
    one = li.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                (F.col("n") - F.col(f"c_{c}")).alias("n_nulls"),
                F.col(f"d_{c}").alias("n_distinct"),
                F.col(f"lo_{c}").alias("min_val"),
                F.col(f"hi_{c}").alias("max_val"),
                F.col(f"m_{c}").alias("mean_val"),
            )
            for c in cols
        ]
    )
    return (
        one.select(F.explode(per_col).alias("p"))
        .select("p.*")
        .transform(sorted_output, "col")
    )


@query(
    "hierarchy_ancestor_rollup",
    oracle="""
    -- recursive-CTE hierarchy walk (the BOM/org-chart/category-tree
    -- query class): every doc climbs its binary-ancestor chain
    -- (parent = id // 2) to the root; per-depth path counts and id
    -- sums are exact. Both engines execute a native WITH RECURSIVE.
    WITH RECURSIVE anc(doc_id, anc_id, depth) AS (
      SELECT doc_id, doc_id, 0 FROM documents
      UNION ALL
      SELECT a.doc_id, a.anc_id // 2, a.depth + 1 FROM anc a WHERE a.anc_id > 0
    )
    SELECT depth, CAST(count(*) AS BIGINT) AS n_paths,
           CAST(sum(anc_id) AS BIGINT) AS sum_anc_ids
    FROM anc GROUP BY depth ORDER BY depth
    """,
)
def hierarchy_ancestor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive hierarchy traversal via Spark 4's native
    ``WITH RECURSIVE`` (round 5) — the declarative answer to
    BOM explosion / category-tree / org-chart queries that previously
    needed an iterative driver loop (the `min_label_components` shape).
    A deterministic binary tree over doc ids (parent = id DIV 2)
    stands in for the hierarchy; each recursion step is one
    distributed self-extension of the frontier and terminates at the
    root (acyclic by construction — Spark's recursive CTE requires
    UNION ALL, so cyclic graphs need the label-propagation operator
    instead).

    Scale note: the per-step frontier is one narrow (doc_id, anc_id,
    depth) projection — O(nodes) rows per level, log-depth levels; no
    driver-side iteration, no collected state."""
    docs = load_table(spark, sf_dir, "documents")
    import uuid as _uuid

    view = f"docs_tree_{_uuid.uuid4().hex[:8]}"
    docs.select("doc_id").createOrReplaceTempView(view)
    return spark.sql(f"""
        WITH RECURSIVE anc(doc_id, anc_id, depth) AS (
          SELECT doc_id, doc_id, 0 FROM {view}
          UNION ALL
          SELECT a.doc_id, a.anc_id DIV 2, a.depth + 1 FROM anc a WHERE a.anc_id > 0
        )
        SELECT depth, CAST(count(*) AS BIGINT) AS n_paths,
               CAST(sum(anc_id) AS BIGINT) AS sum_anc_ids
        FROM anc GROUP BY depth ORDER BY depth
    """)


@query(
    "hll_mergeable_rollup",
    oracle="""
    -- sketch bytes differ per engine, so the hash-gated output is the
    -- EXACT hierarchy (nations, distinct ordering customers per
    -- region) plus a 2%-relative-error predicate the Spark side
    -- evaluates against its own merged sketch (the
    -- approx_quantile_sketch pattern). The oracle pins the flag at 1:
    -- a union that loses registers or an estimate outside the
    -- datasketches HLL error envelope fails the gate.
    SELECT r.r_name,
           CAST(count(DISTINCT n.n_nationkey) AS BIGINT) AS n_nations,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS exact_customers,
           CAST(1 AS INT) AS est_within_2pct
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
)
def hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Spark 4 Apache DataSketches HLL): build
    ONE HLL sketch of distinct ordering customers per nation, then
    roll nations up to regions by UNIONING THE SKETCHES — never
    re-touching row data. This is the 100 TB cardinality pattern:
    count-distinct does not decompose (you cannot sum per-nation
    distincts in general), but sketches do — a daily job sketches each
    partition once, and any ad-hoc rollup (region, continent, global)
    is a byte-level merge of kilobyte sketches.

    The hash-gated columns are the exact twin (region customer counts
    — computable exactly here because each customer belongs to one
    nation, so region = disjoint union) and a 2% relative-error flag
    on the merged estimate. The sketch is built at lgK=14 (~0.8% RSE,
    16 KB — still a trivially mergeable kilobyte object) so the 2%
    gate sits at ~2.5σ: the round-11 sf0.1 parity sweep caught the
    default lgK=12 (~1.6% RSE) missing the envelope on one region by
    2.01% — a bound asserted at 1.3σ of headroom is a coin flip per
    dataset, and the fix is a bigger sketch, not a looser claim
    (measured at sf0.1: lgK=14 worst region error 0.64%).
    Plan: one shuffle to (nation) partials, then a 25-row sketch merge
    — the rollup itself moves no data."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_nation = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.hll_sketch_agg("o_custkey", 14).alias("sk"),
            F.count_distinct("o_custkey").alias("exact_n"),
        )
    )
    per_region = (
        per_nation.join(
            F.broadcast(nation), per_nation.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nations"),
            # exact region count = sum of disjoint per-nation exacts
            # (a customer has exactly one nation)
            F.sum("exact_n").cast("bigint").alias("exact_customers"),
            F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias("est"),
        )
    )
    return per_region.select(
        "r_name",
        "n_nations",
        "exact_customers",
        # integer-exact 2% envelope: |est - exact| * 50 <= exact
        (
            F.abs(F.col("est") - F.col("exact_customers")) * 50
            <= F.col("exact_customers")
        )
        .cast("int")
        .alias("est_within_2pct"),
    ).orderBy("r_name")


@query(
    "theta_audience_overlap",
    oracle="""
    -- sketch bytes differ per engine, so the hash gate carries the
    -- EXACT per-region audience sets (1996 buyers, 1997 buyers, both,
    -- churned = 1996-only) plus envelope flags the Spark side
    -- evaluates against its own theta estimates (the
    -- hll_mergeable_rollup pattern). At the driver gate's SFs the
    -- per-region cardinalities sit below the lgk=14 sketch's exact-
    -- mode threshold (flags pin at 1 exactly); at scratch sf1 they
    -- exceed it and the flags pin the estimate inside a 2.6-sigma
    -- envelope; losing retained hashes in the intersection/difference
    -- set algebra fails the gate at every scale.
    WITH buyers AS (
      SELECT r.r_name, o.o_custkey,
             max(CASE WHEN year(o.o_orderdate) = 1996 THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN year(o.o_orderdate) = 1997 THEN 1 ELSE 0 END) AS in_b
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE year(o.o_orderdate) IN (1996, 1997)
      GROUP BY r.r_name, o.o_custkey
    )
    SELECT r_name,
           CAST(sum(in_a) AS BIGINT) AS exact_1996,
           CAST(sum(in_b) AS BIGINT) AS exact_1997,
           CAST(sum(in_a * in_b) AS BIGINT) AS exact_both,
           CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS exact_churned,
           CAST(1 AS INT) AS est_within_2pct,
           CAST(1 AS INT) AS setops_within_5pct
    FROM buyers
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap analytics via Apache DataSketches THETA
    sketches (Spark 4 builtins) — the set-operation complement of
    `hll_mergeable_rollup`: HLL unions merge, but only theta supports
    INTERSECTION and DIFFERENCE, the "bought in 1996 AND 1997" /
    "churned after 1996" questions. At 100 TB this is the pattern that
    replaces a customer-level self-join across two year-long scans: a
    daily job sketches each partition once, and any cross-period
    overlap is kilobyte-level set algebra on the stored sketches.

    One shuffle builds per-(region, customer) period flags; the
    second-level agg (25 rows) builds both period sketches AND the
    exact twin from the same frame. Hash-gated columns are the exact
    audience sizes plus envelope flags on the sketch estimates (2% on
    the period estimates, 5% on intersection/difference, whose
    relative error is amplified by the inclusion-exclusion algebra).
    Sketches run at lgk=14: at scratch sf1 the per-region audiences
    (~23 k) exceed the default k=4096 exact-mode threshold and the
    estimate's 1.56% RSE left the 2% envelope only 1.3 sigma of
    headroom (one region missed — caught by the round-12 sf1 parity
    sweep); k=16384 (0.78% RSE, ~2.6 sigma) restores the margin while
    staying a 128 KB mergeable object."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    buyers = (
        orders.filter(F.year("o_orderdate").isin(1996, 1997))
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "o_custkey")
        .agg(
            F.max((F.year("o_orderdate") == 1996).cast("int")).alias("in_a"),
            F.max((F.year("o_orderdate") == 1997).cast("int")).alias("in_b"),
        )
    )
    per_region = buyers.groupBy("r_name").agg(
        F.sum("in_a").cast("bigint").alias("exact_1996"),
        F.sum("in_b").cast("bigint").alias("exact_1997"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("exact_both"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).cast("bigint").alias("exact_churned"),
        # lgk=14 (k=16384, RSE 1/sqrt(k) ~ 0.78%) instead of the default
        # lgk=12 (k=4096, ~1.56%): the sf1 sweep caught AMERICA's 1996
        # audience (23 421 customers) leaving the default sketch's
        # exact mode and missing the 2% envelope with only ~1.3 sigma
        # of headroom — the identical under-margined-envelope class the
        # round-11 sf0.1 sweep caught in hll_mergeable_rollup, one
        # decade further out. A 128 KB mergeable object at 2.6 sigma
        # is the right trade; the envelope CLAIM stays at 2%/5%.
        F.expr("theta_sketch_agg(CASE WHEN in_a = 1 THEN o_custkey END, 14)").alias("sk_a"),
        F.expr("theta_sketch_agg(CASE WHEN in_b = 1 THEN o_custkey END, 14)").alias("sk_b"),
    )
    est_a = F.expr("theta_sketch_estimate(sk_a)")
    est_b = F.expr("theta_sketch_estimate(sk_b)")
    est_both = F.expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))")
    est_churn = F.expr("theta_sketch_estimate(theta_difference(sk_a, sk_b))")
    within = lambda est, exact, mult: (  # noqa: E731
        F.abs(est - F.col(exact)) * mult <= F.col(exact)
    )
    return per_region.select(
        "r_name",
        "exact_1996",
        "exact_1997",
        "exact_both",
        "exact_churned",
        (within(est_a, "exact_1996", 50) & within(est_b, "exact_1997", 50))
        .cast("int")
        .alias("est_within_2pct"),
        (within(est_both, "exact_both", 20) & within(est_churn, "exact_churned", 20))
        .cast("int")
        .alias("setops_within_5pct"),
    ).transform(sorted_output, "r_name")


@query(
    "kll_mergeable_quantiles",
    oracle="""
    -- the third mergeable-sketch class (HLL = union cardinality,
    -- theta = set ops, KLL = QUANTILES): sketch bytes differ per
    -- engine, so the hash gate carries the exact per-region order
    -- counts (KLL tracks n exactly through merges — a union that
    -- drops rows fails on n alone) plus rank-envelope flags the Spark
    -- side computes exactly by re-counting rows <= the sketch's
    -- answer: the returned median/p90 must sit within 2.5% rank error
    -- (k=200 KLL guarantees ~1.65% at 99% confidence).
    SELECT r.r_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(1 AS INT) AS med_rank_ok,
           CAST(1 AS INT) AS p90_rank_ok
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
)
def kll_mergeable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketches (Spark 4 DataSketches KLL),
    completing the sketch trifecta with `hll_mergeable_rollup` (union
    cardinality) and `theta_audience_overlap` (set operations): build
    one KLL sketch of order totals (integer cents) per NATION, merge
    nations into regions at the byte level, then answer median/p90
    without re-touching row data. This is the 100 TB percentile
    pattern — exact percentiles need a full sort per query, but
    per-partition KLL sketches merge associatively, so any rollup
    level answers from kilobytes.

    The gate: per-region n from the MERGED sketch must equal the exact
    count (KLL carries n exactly — merges that drop rows fail here),
    and the sketch's median/p90 answers are validated by an exact
    rank re-count (rows <= answer within 2.5% of target rank)."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    base = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "r_name",
            "c_nationkey",
            (F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    per_nation = base.groupBy("r_name", "c_nationkey").agg(
        F.expr("kll_sketch_agg_bigint(cents)").alias("psk")
    )
    per_region = per_nation.groupBy("r_name").agg(
        F.expr("kll_merge_agg_bigint(psk)").alias("sk")
    )
    answers = per_region.select(
        "r_name",
        F.expr("kll_sketch_get_n_bigint(sk)").alias("n_orders"),
        F.expr("kll_sketch_get_quantile_bigint(sk, 0.5)").alias("med_est"),
        F.expr("kll_sketch_get_quantile_bigint(sk, 0.9)").alias("p90_est"),
    )
    ranked = (
        base.join(F.broadcast(answers), "r_name")
        .groupBy("r_name")
        .agg(
            F.first("n_orders").alias("n_orders"),
            F.sum((F.col("cents") <= F.col("med_est")).cast("long")).alias("rank_med"),
            F.sum((F.col("cents") <= F.col("p90_est")).cast("long")).alias("rank_p90"),
        )
    )
    return ranked.select(
        "r_name",
        "n_orders",
        # |rank/n - target| <= 0.025, integer-exact: |1000*rank - target_permille*n| <= 25*n
        (F.abs(F.col("rank_med") * 1000 - 500 * F.col("n_orders")) <= 25 * F.col("n_orders"))
        .cast("int")
        .alias("med_rank_ok"),
        (F.abs(F.col("rank_p90") * 1000 - 900 * F.col("n_orders")) <= 25 * F.col("n_orders"))
        .cast("int")
        .alias("p90_rank_ok"),
    ).orderBy("r_name")


@query(
    "arrow_grouped_trimmed_mean",
    oracle="""
    -- exact twin of the Arrow-native grouped aggregate: per order
    -- status, drop the lowest and highest n//10 cent values and take
    -- the floor-mean of the kept multiset. Rank ties share a cent
    -- value, so which duplicate is trimmed cannot change the kept
    -- multiset — the trim is total-order-free by construction.
    WITH c AS (
      SELECT o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), r AS (
      SELECT status, cents,
             row_number() OVER (PARTITION BY status ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY status) AS n
      FROM c
    )
    SELECT status,
           CAST(any_value(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(cents) // count(*) AS BIGINT) AS trimmed_mean_cents
    FROM r
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY status
    ORDER BY status
    """,
)
def arrow_grouped_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped 10%-trimmed mean via ``applyInArrow`` — the Arrow-NATIVE
    custom-aggregate surface (Spark 4): the group's columns arrive as a
    ``pyarrow.Table`` with zero pandas materialization, the kernel runs
    vectorized numpy on the Arrow buffer, and one row returns per
    group. Same Arrow batch transfer as a pandas UDF but without the
    pandas conversion cost on either side — the right escape hatch
    when the custom logic is array arithmetic, not DataFrame logic
    (the pandas variant of this surface is ``mad_grouped_agg_udaf``).

    All arithmetic in integer cents (NOTES.md money rule): the trim
    bound and floor-mean are exact, so the result is bit-identical
    cross-engine and independent of partitioning."""
    import pyarrow as pa

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )

    # NOTE: deliberately no type hints — under `from __future__ import
    # annotations` PySpark's infer_group_arrow_eval_type_from_func
    # fails to resolve them and applyInArrow hits an UnboundLocalError
    # (group_ops.py:936); hint-less funcs take the default eval type.
    def trimmed(key, table):
        import numpy as np

        cents = np.sort(table.column("cents").to_numpy())
        n = len(cents)
        k = n // 10
        kept = cents[k : n - k]
        return pa.table(
            {
                "status": pa.array([key[0]], pa.string()),
                "n_rows": pa.array([n], pa.int64()),
                "n_kept": pa.array([len(kept)], pa.int64()),
                "trimmed_mean_cents": pa.array(
                    [int(kept.sum()) // len(kept)], pa.int64()
                ),
            }
        )

    return (
        orders.groupBy("status")
        .applyInArrow(
            trimmed,
            schema="status string, n_rows bigint, n_kept bigint, trimmed_mean_cents bigint",
        )
        .orderBy("status")
    )


@query(
    "linear_interpolation_gapfill",
    oracle="""
    -- exact-integer LINEAR interpolation twin (the fill family's
    -- second member next to forward-fill): per-user daily spine, each
    -- gap day valued by the weighted form
    -- (vp·(dn−d) + vn·(d−dp))·100 // (dn−dp) — numerator is a
    -- positive weighted sum (values are non-negative cents), so floor
    -- and truncate agree and both engines produce identical integers.
    -- The per-user checksum over all gap days pins every interpolated
    -- value.
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1
    ), spine AS (
      SELECT user_id,
             CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ), j AS (
      SELECT s.user_id, s.d, daily.v,
             datediff('day', DATE '1992-01-01', s.d) AS di
      FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
    ), n AS (
      SELECT user_id, d, v, di,
             last_value(v IGNORE NULLS) OVER wp AS vp,
             last_value(CASE WHEN v IS NOT NULL THEN di END IGNORE NULLS) OVER wp AS dp,
             first_value(v IGNORE NULLS) OVER wn AS vn,
             first_value(CASE WHEN v IS NOT NULL THEN di END IGNORE NULLS) OVER wn AS dn
      FROM j
      WINDOW wp AS (PARTITION BY user_id ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY d
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(count(CASE WHEN v IS NULL THEN 1 END) AS BIGINT) AS n_gaps,
           CAST(coalesce(sum(CASE WHEN v IS NULL
                 THEN (vp * (dn - di) + vn * (di - dp)) * 100 // (dn - dp)
               END), 0) AS BIGINT) AS interp_checksum_e2
    FROM n
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def linear_interpolation_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation densification — the fill-family member
    `gap_fill_forward` (last-observation-carried-forward) doesn't
    cover: every missing day takes the straight line between its two
    observed neighbors, computed in exact integer cents with the
    positive-weighted-numerator division (floor == truncate, so the
    result is engine- and partitioning-independent; NOTES.md negative
    DIV trap avoided by construction). Neighbor discovery is two
    ignore-nulls windows on the SAME user exchange as the spine."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = ev.groupBy("user_id", "d").agg(F.sum("cents").cast("long").alias("v"))
    bounds = daily.groupBy("user_id").agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("d")
    )
    j = spine.join(daily, ["user_id", "d"], "left").withColumn(
        "di", F.datediff("d", F.lit("1992-01-01"))
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_di = F.when(F.col("v").isNotNull(), F.col("di"))
    n = (
        j.withColumn("vp", F.last("v", ignorenulls=True).over(wp))
        .withColumn("dp", F.last(obs_di, ignorenulls=True).over(wp))
        .withColumn("vn", F.first("v", ignorenulls=True).over(wn))
        .withColumn("dn", F.first(obs_di, ignorenulls=True).over(wn))
    )
    gap_interp = F.when(
        F.col("v").isNull(),
        F.expr("(vp * (dn - di) + vn * (di - dp)) * 100 DIV (dn - dp)"),
    )
    return (
        n.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.count(F.when(F.col("v").isNull(), 1)).alias("n_gaps"),
            F.coalesce(F.sum(gap_interp), F.lit(0))
            .cast("long")
            .alias("interp_checksum_e2"),
        )
        .orderBy("user_id")
    )


@query(
    "interval_overlap_bin_join",
    oracle="""
    -- plan-independent twin of the BINNED interval join: plain
    -- BETWEEN theta-join (DuckDB's IEJoin handles it), aggregated to
    -- priority level. The engine must reach identical totals through
    -- its bin decomposition — a point double-counted across bins or
    -- an interval truncated at a bin edge breaks the checksum.
    WITH iv AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_orderdate AS DATE) AS lo,
             CAST(o_orderdate AS DATE) + CAST((o_orderkey % 30 + 1) AS INTEGER) AS hi
      FROM orders
    ),
    pt AS (SELECT CAST(l_shipdate AS DATE) AS p FROM lineitem),
    m AS (
      SELECT iv.o_orderkey, iv.o_orderpriority, count(*) AS n_pts
      FROM iv JOIN pt ON pt.p BETWEEN iv.lo AND iv.hi
      GROUP BY 1, 2
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_intervals_hit,
           CAST(sum(n_pts) AS BIGINT) AS total_hits,
           CAST(sum(o_orderkey * n_pts) AS BIGINT) AS hit_checksum
    FROM m GROUP BY 1 ORDER BY 1
    """,
)
def interval_overlap_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-scale interval⋈point overlap via FIXED-WIDTH BINNING —
    the manual form of the range-join optimization (Databricks'
    RANGE_JOIN hint, DuckDB's IEJoin): intervals are exploded to the
    epoch-day bins they overlap (bounded fan-out: max interval 31
    days < one 32-day bin width ⇒ ≤2 bins each), points key into
    exactly ONE bin, and the join becomes an EQUI-join on bin id plus
    a residual BETWEEN filter. No theta-join, no cross product — the
    plan Spark would otherwise produce for an inequality-only join is
    BroadcastNestedLoopJoin, which dies at scale.

    Each (interval, point) pair meets in exactly one bin (the point's
    own), so no post-join dedup is needed — the decomposition is
    exact, which the oracle's plain BETWEEN twin verifies through the
    per-priority hit checksum.

    Scale shape, two levels: (1) the point side PRE-AGGREGATES to
    (day, count) before joining — the time domain is bounded (~2.5k
    distinct days however large the fact table), so the join touches
    weighted day rows, never raw points: the true match volume here is
    ~interval_count × interval_length points (half a BILLION raw
    pairs at sf0.1 — the first cut of this entry materialized exactly
    that and took 275 s; the day rollup computes identical totals in
    ~1 s because matches become day_rows × intervals with counts as
    weights). (2) the bin equi-join replaces the theta-join: bounded
    interval replication (≤2 bins at width 32 > max length 31), a
    residual BETWEEN keeps correctness under any width. When the
    point domain ISN'T collapsible (high-cardinality join attributes),
    drop level 1 and size bins so per-bin fan-in × fan-out stays
    bounded — and salt hot bins."""
    orders = load_table(spark, sf_dir, "orders")
    epoch = F.lit("1970-01-01")
    iv = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.datediff(F.to_date("o_orderdate"), epoch).alias("lo_day"),
        (
            F.datediff(F.to_date("o_orderdate"), epoch)
            + (F.col("o_orderkey") % 30 + 1).cast("int")
        ).alias("hi_day"),
    )
    iv_binned = iv.select(
        "o_orderkey",
        "o_orderpriority",
        "lo_day",
        "hi_day",
        F.explode(
            F.sequence(F.expr("lo_day DIV 32"), F.expr("hi_day DIV 32"))
        ).alias("bin"),
    )
    pt_day = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.datediff(F.to_date("l_shipdate"), epoch).alias("p_day"))
        .groupBy("p_day")
        .agg(F.count(F.lit(1)).alias("n_on_day"))
        .withColumn("bin", F.expr("p_day DIV 32"))
    )
    hits = (
        iv_binned.join(F.broadcast(pt_day), "bin")
        .filter(F.col("p_day").between(F.col("lo_day"), F.col("hi_day")))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.sum("n_on_day").alias("n_pts"))
    )
    return (
        hits.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_intervals_hit"),
            F.sum("n_pts").alias("total_hits"),
            F.sum(F.col("o_orderkey") * F.col("n_pts")).alias("hit_checksum"),
        )
        .orderBy("o_orderpriority")
    )


GRID_R = 400  # neighbor radius; grid cell edge = R so 3x3 cells cover it


@query(
    "spatial_grid_neighbor_join",
    oracle=f"""
    -- spatial self-join via grid binning: md5-deterministic points on
    -- a 100k x 100k integer plane; pairs within euclidean distance
    -- {GRID_R} found by expanding ONE side to its 3x3 cell
    -- neighborhood (cell edge = radius), exact squared-distance
    -- verify — each qualifying pair materializes exactly once
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5('px:' || CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT) % 100000 AS x,
             CAST(('0x' || substr(md5('py:' || CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT) % 100000 AS y
      FROM customer
    ),
    cells AS (
      SELECT id, x, y, x // {GRID_R} AS cx, y // {GRID_R} AS cy FROM pts
    ),
    expanded AS (
      SELECT id, x, y, cx + dx.d AS cx, cy + dy.d AS cy
      FROM cells, (SELECT unnest(range(-1, 2)) AS d) dx, (SELECT unnest(range(-1, 2)) AS d) dy
    )
    SELECT a.id AS id_a, b.id AS id_b,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
    FROM cells a JOIN expanded b ON a.cx = b.cx AND a.cy = b.cy AND a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {GRID_R * GRID_R}
    ORDER BY id_a, id_b
    """,
)
def spatial_grid_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance self-join via grid binning — the spatial sibling of
    LSH bucketing: bin points into cells of edge = radius, expand ONE
    side to its 3×3 neighborhood, equi-join on the cell key, verify
    with the exact integer squared distance. No all-pairs anywhere:
    candidates are bounded by local density × 9, the equi-join
    shuffles on cell keys like any aggregation, and skewed hot cells
    respond to the same salting/AQE tools as any hot key. This is how
    geo dedup / store-proximity / point-cluster jobs run at 100 TB
    (an H3/S2 cell id is this integer cell key with better geometry).
    Points are md5-derived from customer keys (deterministic plane,
    exactly replayable cross-engine)."""
    pts = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("px:"), F.col("c_custkey").cast("string"))), 1, 6),
                16,
                10,
            ).cast("long")
            % 100000
        ).alias("x"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("py:"), F.col("c_custkey").cast("string"))), 1, 6),
                16,
                10,
            ).cast("long")
            % 100000
        ).alias("y"),
    )
    cells = pts.select(
        "*",
        F.expr(f"x DIV {GRID_R}").alias("cx"),
        F.expr(f"y DIV {GRID_R}").alias("cy"),
    ).cache()
    d = spark.range(-1, 2).select(F.col("id").cast("long").alias("d"))
    expanded = (
        cells.crossJoin(F.broadcast(d.select(F.col("d").alias("dx"))))
        .crossJoin(F.broadcast(d.select(F.col("d").alias("dy"))))
        .select(
            F.col("id").alias("id_b"),
            F.col("x").alias("xb"),
            F.col("y").alias("yb"),
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    dist2 = (F.col("x") - F.col("xb")) * (F.col("x") - F.col("xb")) + (
        F.col("y") - F.col("yb")
    ) * (F.col("y") - F.col("yb"))
    return (
        cells.join(expanded, ["cx", "cy"])
        .filter(F.col("id") < F.col("id_b"))
        .filter(dist2 <= GRID_R * GRID_R)
        .select(F.col("id").alias("id_a"), "id_b", dist2.alias("dist2"))
        .orderBy("id_a", "id_b")
    )


DBSCAN_MINPTS = 3  # core = at least this many neighbors within GRID_R


@query(
    "grid_dbscan_clusters",
    oracle=f"""
    -- DBSCAN over the md5 plane via the grid join: neighbor counts
    -- from radius-{GRID_R} pairs, core = >= {DBSCAN_MINPTS} neighbors,
    -- clusters = 3 unrolled min-label rounds over the core-core
    -- graph (both engines run the SAME recurrence), border points
    -- adopt the min core-neighbor label; noise omitted
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5('px:' || CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT) % 40000 AS x,
             CAST(('0x' || substr(md5('py:' || CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT) % 40000 AS y
      FROM customer
    ),
    cells AS (SELECT id, x, y, x // {GRID_R} AS cx, y // {GRID_R} AS cy FROM pts),
    expanded AS (
      SELECT id, x, y, cx + dx.d AS cx, cy + dy.d AS cy
      FROM cells, (SELECT unnest(range(-1, 2)) AS d) dx, (SELECT unnest(range(-1, 2)) AS d) dy
    ),
    prs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM cells a JOIN expanded b ON a.cx = b.cx AND a.cy = b.cy AND a.id < b.id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {GRID_R * GRID_R}
    ),
    sym AS (SELECT id_a AS u, id_b AS v FROM prs UNION ALL SELECT id_b, id_a FROM prs),
    nc AS (SELECT u AS id, count(*) AS n_nb FROM sym GROUP BY 1),
    core AS (SELECT id FROM nc WHERE n_nb >= {DBSCAN_MINPTS}),
    ce AS (
      SELECT s.u, s.v FROM sym s
      JOIN core c1 ON s.u = c1.id JOIN core c2 ON s.v = c2.id
      UNION ALL SELECT id, id FROM core
    ),
    l0 AS (SELECT id, id AS lbl FROM core),
    l1 AS (SELECT e.u AS id, min(p.lbl) AS lbl FROM ce e JOIN l0 p ON e.v = p.id GROUP BY 1),
    l2 AS (SELECT e.u AS id, min(p.lbl) AS lbl FROM ce e JOIN l1 p ON e.v = p.id GROUP BY 1),
    l3 AS (SELECT e.u AS id, min(p.lbl) AS lbl FROM ce e JOIN l2 p ON e.v = p.id GROUP BY 1),
    border AS (
      SELECT s.u AS id, min(l.lbl) AS lbl
      FROM sym s JOIN l3 l ON s.v = l.id
      WHERE s.u NOT IN (SELECT id FROM core)
      GROUP BY 1
    )
    SELECT id, 'core' AS role, lbl AS cluster FROM l3
    UNION ALL
    SELECT id, 'border', lbl FROM border
    ORDER BY id
    """,
)
def grid_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (density clustering) built from parts this engine
    already proves at scale: the grid-binned radius join supplies
    neighbor counts (no all-pairs), core points are density-qualified
    ({DBSCAN_MINPTS}+ neighbors within {GRID_R}), clusters are
    connected components of the core-core graph (3 rounds of
    ``min_label_components``, ids-only shuffles), and border points adopt their minimum
    core-neighbor label — noise stays unlabeled, which is DBSCAN's
    whole point over k-means. Both engines run the identical fixed
    recurrence, so labels agree even before convergence. Scale: every
    stage is a cell-key equi-join or an ids-only aggregate; density
    skew concentrates in hot CELLS, which are ordinary hot keys."""
    pts = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("px:"), F.col("c_custkey").cast("string"))), 1, 6),
                16,
                10,
            ).cast("long")
            % 40000
        ).alias("x"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("py:"), F.col("c_custkey").cast("string"))), 1, 6),
                16,
                10,
            ).cast("long")
            % 40000
        ).alias("y"),
    )
    cells = pts.select(
        "*",
        F.expr(f"x DIV {GRID_R}").alias("cx"),
        F.expr(f"y DIV {GRID_R}").alias("cy"),
    ).cache()
    d = spark.range(-1, 2).select(F.col("id").cast("long").alias("d"))
    expanded = (
        cells.crossJoin(F.broadcast(d.select(F.col("d").alias("dx"))))
        .crossJoin(F.broadcast(d.select(F.col("d").alias("dy"))))
        .select(
            F.col("id").alias("id_b"),
            F.col("x").alias("xb"),
            F.col("y").alias("yb"),
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    dist2 = (F.col("x") - F.col("xb")) * (F.col("x") - F.col("xb")) + (
        F.col("y") - F.col("yb")
    ) * (F.col("y") - F.col("yb"))
    prs = (
        cells.join(expanded, ["cx", "cy"])
        .filter(F.col("id") < F.col("id_b"))
        .filter(dist2 <= GRID_R * GRID_R)
        .select(F.col("id").alias("id_a"), "id_b")
    )
    sym = (
        prs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(prs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .cache()
    )
    core = (
        sym.groupBy(F.col("u").alias("id"))
        .agg(F.count(F.lit(1)).alias("n_nb"))
        .filter(F.col("n_nb") >= DBSCAN_MINPTS)
        .select("id")
        .cache()
    )
    core_edges = (
        sym.filter(F.col("u") < F.col("v"))
        .join(core.withColumnRenamed("id", "u"), "u", "left_semi")
        .join(core.withColumnRenamed("id", "v"), "v", "left_semi")
        .select("u", "v")
    )
    # imported here, not at module top: this module registers its
    # catalog entries before graph's, and a top-level import would
    # register graph's first
    from pim_etl_spark.operators.graph import min_label_components

    lbl = min_label_components(core_edges, core, 3)
    border = (
        sym.join(core.withColumnRenamed("id", "u"), "u", "left_anti")
        .join(lbl.withColumnRenamed("id", "v"), "v")
        .groupBy(F.col("u").alias("id"))
        .agg(F.min("lbl").alias("lbl"))
    )
    return (
        lbl.select("id", F.lit("core").alias("role"), F.col("lbl").alias("cluster"))
        .unionByName(border.select("id", F.lit("border").alias("role"), F.col("lbl").alias("cluster")))
        .transform(sorted_output, "id")
    )


@query(
    "selfjoin_size_sketch",
    oracle="""
    -- join-size / F2 estimation, the original CountMin inner-product
    -- application: exact second frequency moment of l_partkey
    -- (= the self-join size Sum cnt(k)^2) vs the sketch estimate
    -- min over 4 rows of Sum_b cell[r][b]^2 — one-sided (est >= exact)
    WITH tc AS (
      SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1
    ),
    hashed AS (
      SELECT k, n, r,
             CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 4)) AS BIGINT) % 64 AS bucket
      FROM tc, (SELECT unnest(range(4)) AS r)
    ),
    cells AS (SELECT r, bucket, CAST(sum(n) AS BIGINT) AS cell FROM hashed GROUP BY 1, 2),
    per_row AS (SELECT r, CAST(sum(cell * cell) AS BIGINT) AS est FROM cells GROUP BY 1),
    exact AS (SELECT CAST(sum(n * n) AS BIGINT) AS exact_f2 FROM tc)
    SELECT (SELECT exact_f2 FROM exact) AS exact_f2,
           CAST(min(est) AS BIGINT) AS est_f2,
           CAST(min(est) - (SELECT exact_f2 FROM exact) AS BIGINT) AS overestimate
    FROM per_row
    """,
)
def selfjoin_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation by sketch inner product — what a
    cost-based optimizer consults before picking a join strategy: the
    self-join size on l_partkey (the second frequency moment,
    Σ cnt(k)² — the original AMS/CountMin application) estimated as
    the min over 4 hash rows of the cell-wise sum of squares, against
    the exact value. The estimate is one-sided (≥ exact, gated), and
    the sketch is 4×64 longs that merge by cell-wise addition however
    large the fact table — per-partition grids combine in one partial
    aggregate, the property that makes sketch-based join planning
    feasible on 100 TB inputs where exact key histograms would
    themselves be a shuffle."""
    tc = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    hashed = tc.select(
        "k", "n", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("r")
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("r").cast("string"), F.lit(":"), F.col("k").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 64,
    )
    cells = hashed.groupBy("r", "bucket").agg(F.sum("n").cast("long").alias("cell"))
    per_row = cells.groupBy("r").agg(F.sum(F.col("cell") * F.col("cell")).cast("long").alias("est"))
    exact = tc.agg(F.sum(F.col("n") * F.col("n")).cast("long").alias("exact_f2"))
    return (
        per_row.agg(F.min("est").cast("long").alias("est_f2"))
        .crossJoin(F.broadcast(exact))
        .select(
            "exact_f2",
            "est_f2",
            (F.col("est_f2") - F.col("exact_f2")).cast("long").alias("overestimate"),
        )
    )
