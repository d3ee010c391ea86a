"""Silver layer: the supplier transform to the unified product
(SURVEY §2.2 P1–P7, §2.3 J1–J4, §2.7 N1–N5).

Re-expresses the reference's per-row Python transform
(etl/transformers/midocean_transformer.py:125-188) as one declarative
DataFrame pipeline:

- dict lookups → broadcast hash joins (pricelist ⋈ variants on sku,
  printdata ⋈ products on master_code)
- per-variant loops → explode → columnar transforms → collect_list
  re-nest (one shuffle, keyed by master_code)
- technique-code dict → literal decode table, inner join drops
  unknown codes (midocean_transformer.py:29-95 semantics)
- print options attached product-agnostically via a broadcast
  cross join (midocean_transformer.py:428-475 at :464 — every product
  carries the full technique pricelist, position="various")

At 100 TB: the only wide shuffle is the master_code re-nest join (two
co-partitioned exchanges: the product rows and the exploded-variant
rows); all side feeds (pricelist/printdata/printprices) are broadcast,
and the output is written partitioned by supplier_id.

Considered and rejected: carrying the ~20 product-level columns through
the variant explode to merge the two exchanges into one. That
duplicates every product scalar once per variant (~10×) across the
exchange, shipping strictly more bytes than exchanging products once —
the join-after-agg shape wins whenever variants-per-product > 1.

Intentional deviation from the reference: product-level ``status`` is
DERIVED (discontinued iff every variant is discontinued) where
transform_products in the reference hardcodes ACTIVE
(midocean_transformer.py:186) — a product whose variants are all dead
should not report active; the per-variant statuses match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pim_etl_spark import functions as pf

SUPPLIER_ID = "midocean"
SUPPLIER_NAME = "MidOcean"

# Supplier technique code → canonical technique (shape of the
# reference's ~60-code mapping, midocean_transformer.py:29-95; unknown
# codes — e.g. the fixture's "XX" — are dropped by the inner join).
TECHNIQUE_DECODE = [
    ("L1", "laser_engraving"),
    ("S2", "screen_print"),
    ("E1", "embroidery"),
    ("D4", "digital_print"),
    ("P3", "pad_print"),
    ("T6", "transfer_print"),
    ("DM", "doming"),
    ("DB", "debossing"),
    ("SB", "sublimation"),
]


def technique_decode_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(TECHNIQUE_DECODE, "technique_id string, technique string")


def parse_pricelist(pricelist_raw: DataFrame) -> DataFrame:
    """Pricelist feed → typed prices (F1 EU-decimal parse, F7 date)."""
    return pricelist_raw.select(
        "sku",
        pf.parse_eu_decimal("price").alias("amount"),
        F.col("currency"),
        F.col("valid_until"),
    )


def parse_printprices(pp_raw: DataFrame) -> DataFrame:
    """Print-pricelist feed → typed tier rows (F1/F2 parses)."""
    return pp_raw.select(
        "technique_id",
        "description",
        "pricing_type",
        pf.parse_eu_decimal("setup").alias("setup_cost"),
        pf.parse_thousands_int("minimum_quantity").cast("int").alias("min_quantity"),
        pf.parse_eu_decimal("price").alias("amount"),
        F.when(F.col("next_price") == "", None)
        .otherwise(pf.parse_eu_decimal("next_price"))
        .alias("next_colour_price"),
        pf.parse_eu_decimal("area_from").alias("area_from"),
        pf.parse_thousands_int("area_to").cast("double").alias("area_to"),
        "range_id",
    )


def _variant_images() -> F.Column:
    """P6: keep image assets only; prettify subtype (F5)."""
    imgs = F.filter(F.col("v.digital_assets"), lambda a: a["type"] == "image")
    return F.transform(
        imgs,
        lambda a: F.struct(
            a["url"].alias("url"),
            a["url_highress"].alias("url_high_res"),
            a["subtype"].alias("subtype"),
            pf.prettify_subtype(a["subtype"]).alias("description"),
        ),
    )


def build_variants(
    products_raw: DataFrame, pricelist: DataFrame, skew_salt_threshold: int | None = None
) -> DataFrame:
    """N1: explode variants, join prices per SKU (J1, broadcast),
    filter/prettify images (P6), derive status (P4), re-nest.

    Returns (master_code, variants array) — one shuffle on master_code.
    ``skew_salt_threshold`` routes masters above that variant count
    through the salted two-level re-nest
    (operators.nested.renest_skew_aware — round 5, VERDICT r4 #5):
    identical output, bounded per-task aggregation state for
    pathological 10⁵-variant masters."""
    exploded = products_raw.select("master_code", F.explode("variants").alias("v"))
    with_price = exploded.join(F.broadcast(pricelist), exploded["v.sku"] == pricelist["sku"], "left")
    variant = F.struct(
        F.col("v.variant_id").alias("variant_id"),
        F.col("v.sku").alias("sku"),
        pf.derive_status(F.col("v.discontinued_date"), F.col("v.plc_status_description")).alias("status"),
        F.col("v.color_code").alias("color_code"),
        F.col("v.color_description").alias("color_name"),
        F.col("v.color_group").alias("color_group"),
        F.col("v.gtin").alias("gtin"),
        # missing SKU in pricelist ⇒ empty price list (J1 left-join intent)
        F.when(F.col("amount").isNull(), F.array().cast("array<struct<amount:double,currency:string,price_type:string,min_quantity:int,max_quantity:int,valid_until:string>>"))
        .otherwise(
            F.array(
                F.struct(
                    F.col("amount").alias("amount"),
                    F.col("currency").alias("currency"),
                    F.lit("list").alias("price_type"),
                    F.lit(1).alias("min_quantity"),
                    F.lit(None).cast("int").alias("max_quantity"),
                    F.col("valid_until").alias("valid_until"),
                )
            )
        ).alias("prices"),
        _variant_images().alias("images"),
    )
    flat = with_price.select("master_code", variant.alias("variant"))
    if skew_salt_threshold is not None:
        from pim_etl_spark.operators.nested import renest_skew_aware

        return renest_skew_aware(
            flat, ["master_code"], "variant", out_col="variants",
            hot_threshold=skew_salt_threshold,
        )
    return flat.groupBy("master_code").agg(
        F.array_sort(F.collect_list("variant")).alias("variants")
    )


def build_print_positions(printdata_raw: DataFrame, decode: DataFrame) -> DataFrame:
    """N4/J2/J3: decode technique codes (unknowns dropped), group into
    PrintPosition structs per master. Two narrow shuffles on
    (master_code, position) then master_code; printdata ≪ products so
    the result joins back broadcast."""
    decoded = printdata_raw.join(F.broadcast(decode), "technique_id", "inner")
    per_position = (
        decoded.groupBy("master_code", "position_id")
        .agg(
            F.first("print_position_type").alias("position_type"),
            F.first("max_print_size_width").alias("max_width"),
            F.first("max_print_size_height").alias("max_height"),
            F.first("print_size_unit").alias("size_unit"),
            F.array_sort(F.collect_set("technique")).alias("techniques"),
            F.array_sort(F.collect_set("image_blank")).alias("images"),
        )
    )
    position = F.struct(
        F.col("position_id"),
        F.col("position_type"),
        F.col("max_width"),
        F.col("max_height"),
        F.col("size_unit"),
        F.col("techniques"),
        F.col("images"),
    )
    return per_position.groupBy("master_code").agg(
        F.array_sort(F.collect_list(position)).alias("print_positions")
    )


def build_print_options(printprices: DataFrame, decode: DataFrame) -> DataFrame:
    """J4/N3: flatten technique→scale tiers into Price rows, re-nest
    per technique, and collapse to ONE row holding the full options
    array — broadcast-cross-joined onto every product (the reference
    attaches the entire technique pricelist product-agnostically,
    position='various', midocean_transformer.py:464).

    Scales from ALL area ranges flatten into each option's price list
    (midocean_transformer.py:446-460 iterates every var_costs range) —
    tiers sort by (min_quantity, amount) so the duplicate quantity
    bands the multi-range feed produces stay deterministic."""
    decoded = printprices.join(F.broadcast(decode), "technique_id", "inner")
    price = F.struct(
        F.col("amount"),
        F.lit("GBP").alias("currency"),
        F.lit("print").alias("price_type"),
        F.col("min_quantity"),
        F.lit(None).cast("int").alias("max_quantity"),
        F.lit(None).cast("string").alias("valid_until"),
    )
    tier_cmp = lambda l, r: F.when(  # noqa: E731 — (min qty, amount) ascending
        l["min_quantity"] < r["min_quantity"], -1
    ).when(l["min_quantity"] > r["min_quantity"], 1).when(
        l["amount"] < r["amount"], -1
    ).when(l["amount"] > r["amount"], 1).otherwise(0)
    per_technique = (
        decoded.groupBy("technique_id", "technique")
        .agg(
            F.first("setup_cost").alias("setup_cost"),
            F.array_sort(F.collect_list(price), tier_cmp).alias("prices"),
        )
    )
    option = F.struct(
        F.col("technique"),
        F.col("technique_id"),
        F.lit("various").alias("position"),
        F.col("setup_cost"),
        F.col("prices"),
    )
    return per_technique.select(option.alias("option")).groupBy().agg(
        F.array_sort(F.collect_list("option")).alias("print_options")
    )


def parse_stock(stock_raw: DataFrame) -> DataFrame:
    """Stock feed → typed per-SKU stock rows (SURVEY S9 — the
    reference declares the stock source but its generator is dead
    code, etl/extractors/midocean_extractor.py:59-63; the feed shape
    exists and is built here for real)."""
    return stock_raw.select(
        "sku",
        F.col("qty").alias("quantity"),
        pf.parse_feed_date("first_arrival_date").alias("first_arrival_date"),
        F.col("first_arrival_qty"),
        pf.parse_feed_date("next_arrival_date").alias("next_arrival_date"),
        F.col("next_arrival_qty"),
        F.to_timestamp(F.col("modified_at")).alias("stock_modified_at"),
    )


def attach_stock(unified: DataFrame, stock: DataFrame) -> DataFrame:
    """Attach per-SKU StockInfo to each variant (the unified schema's
    stock struct, schemas/unified_product_schema.py StockInfo):
    explode variants → broadcast join stock on sku → re-nest.

    One shuffle on product_id for the re-nest; stock is broadcast.
    """
    exploded = unified.select("product_id", F.explode("variants").alias("v"))
    joined = exploded.join(F.broadcast(stock), exploded["v.sku"] == stock["sku"], "left")
    with_stock = joined.select(
        "product_id",
        F.col("v").withField(
            "stock",
            F.when(
                F.col("quantity").isNull(), F.lit(None)
            ).otherwise(
                F.struct(
                    F.col("quantity"),
                    F.col("first_arrival_date"),
                    F.col("first_arrival_qty"),
                    F.col("next_arrival_date"),
                    F.col("next_arrival_qty"),
                    # unified.jsonc:244-256 locations array; the
                    # midocean feed is single-warehouse so it carries
                    # one implicit MAIN location holding the full qty
                    # (dialects with real warehouse rows — ralawise —
                    # fill this with per-location entries)
                    F.array(
                        F.struct(
                            F.lit("MAIN").alias("id"),
                            F.lit("Main warehouse").alias("name"),
                            F.col("quantity").cast("long").alias("qty"),
                        )
                    ).alias("locations"),
                    # unified nextIncoming [{date, qty}]: the feed's
                    # first/next arrival pairs as a date-sorted array,
                    # null pairs dropped
                    F.filter(
                        F.array_sort(
                            F.array(
                                F.struct(
                                    F.col("first_arrival_date").alias("date"),
                                    F.col("first_arrival_qty").alias("qty"),
                                ),
                                F.struct(
                                    F.col("next_arrival_date").alias("date"),
                                    F.col("next_arrival_qty").alias("qty"),
                                ),
                            )
                        ),
                        lambda e: e["date"].isNotNull(),
                    ).alias("next_incoming"),
                )
            ),
        ).alias("v"),
    )
    renested = with_stock.groupBy("product_id").agg(
        F.array_sort(F.collect_list("v")).alias("variants_with_stock")
    )
    return (
        unified.join(renested, "product_id", "left")
        .drop("variants")
        .withColumnRenamed("variants_with_stock", "variants")
    )


def build_localized_text(products_raw: DataFrame, localized_raw: DataFrame) -> DataFrame:
    """Fold per-language feed fetches into the unified multilingual
    maps (unified.jsonc:25-33 ``{"{lang}": "string"}`` model).

    The base feed's textual fields are the 'en' entries; each localized
    row (one per master_code × language, the shape a
    language-parameterized API fetch lands) contributes its language.
    One map_from_entries per field; the localized feed is tiny relative
    to the product feed (L langs × masters) and joins broadcast."""
    base = products_raw.select(
        "master_code",
        F.lit("en").alias("language"),
        "product_name",
        "short_description",
        "long_description",
    )
    # localized rows win over the base on the same (master, lang) —
    # a translated 'en' re-fetch supersedes the original landing
    merged = base.withColumn("__pri", F.lit(0)).unionByName(
        localized_raw.select(
            "master_code", "language", "product_name", "short_description", "long_description"
        ).withColumn("__pri", F.lit(1))
    )
    w = Window.partitionBy("master_code", "language").orderBy(F.col("__pri").desc())
    latest = merged.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)

    def lang_map(col: str):
        entries = F.array_sort(
            F.collect_list(F.struct(F.col("language"), F.col(col).alias("v")))
        )
        return F.map_from_entries(F.filter(entries, lambda e: e["v"].isNotNull()))

    return latest.groupBy("master_code").agg(
        lang_map("product_name").alias("names"),
        lang_map("short_description").alias("short_descriptions"),
        lang_map("long_description").alias("long_descriptions"),
    )


def build_sustainability(sustainability_raw: DataFrame) -> DataFrame:
    """Sustainability feed → unified sustainabilityInfo struct
    (unified.jsonc:196-227): eco flag, recycled %, LCA CO2 total +
    per-stage breakdown, DERIVED per-stage percentages (the feed
    ships absolute kg; the unified model also carries the split as
    percent-of-total), social-audit array. All scan-side expressions."""
    kg = lambda c: F.struct(  # noqa: E731
        pf.parse_eu_decimal(c).alias("value"), F.lit("kg").alias("unit")
    )
    total = pf.parse_eu_decimal("co2_total")
    pct = lambda c: F.round(pf.parse_eu_decimal(c) / total * 100, 2)  # noqa: E731
    audits = F.filter(
        F.split(F.coalesce(F.col("social_audits"), F.lit("")), ","), lambda a: a != ""
    )
    return sustainability_raw.select(
        "master_code",
        F.struct(
            pf.yes_no_bool("eco").alias("eco"),
            F.col("recycled_content_pct").cast("int").alias("recycled_content_pct"),
            kg("co2_total").alias("co2_total"),
            F.struct(
                kg("co2_material").alias("material_production"),
                kg("co2_packaging").alias("packaging"),
                kg("co2_transport").alias("transport"),
                kg("co2_eol").alias("eol"),
            ).alias("lca_co2_breakdown"),
            F.struct(
                pct("co2_material").alias("material_production"),
                pct("co2_packaging").alias("packaging"),
                pct("co2_transport").alias("transport"),
                pct("co2_eol").alias("eol"),
            ).alias("lca_co2_percent"),
            audits.alias("social_audits"),
            F.col("green_points").cast("int").alias("green_points"),
        ).alias("sustainability"),
    )


def transform_products(
    products_raw: DataFrame,
    pricelist_raw: DataFrame,
    printdata_raw: DataFrame,
    printprices_raw: DataFrame,
    spark: SparkSession,
    localized_raw: DataFrame | None = None,
    sustainability_raw: DataFrame | None = None,
) -> DataFrame:
    """The full master projection (P1): raw feeds → unified products.

    ``localized_raw`` (optional, MO_PRODUCTS_I18N shape) carries the
    extra-language API fetches; without it the multilingual maps hold
    the base feed's single 'en' entry.
    """
    decode = technique_decode_df(spark)
    pricelist = parse_pricelist(pricelist_raw)
    printprices = parse_printprices(printprices_raw)

    variants = build_variants(products_raw, pricelist)
    positions = build_print_positions(printdata_raw, decode)
    options = build_print_options(printprices, decode)

    first_var = F.try_element_at(F.col("variants"), F.lit(1))

    # N2: product_class (level 1) + first variant's 3 category levels
    raw_cats = F.array(
        F.struct(F.col("product_class").alias("name"), F.lit(1).alias("level")),
        F.struct(F.col("rv1.category_level1").alias("name"), F.lit(1).alias("level")),
        F.struct(F.col("rv1.category_level2").alias("name"), F.lit(2).alias("level")),
        F.struct(F.col("rv1.category_level3").alias("name"), F.lit(3).alias("level")),
    )
    categories = F.array_distinct(F.filter(raw_cats, lambda c: c["name"].isNotNull() & (c["name"] != "")))

    dims = F.when(
        F.col("length").isNull() & F.col("width").isNull() & F.col("height").isNull(),
        F.lit(None),
    ).otherwise(
        F.struct(
            F.col("length").cast("double").alias("length"),
            F.col("width").cast("double").alias("width"),
            F.col("height").cast("double").alias("height"),
            F.lower(F.coalesce(F.col("length_unit"), F.col("width_unit"), F.col("height_unit"))).alias(
                "unit"
            ),
        )
    )
    # P3: gross-weight fallback to net
    weight = F.when(
        F.coalesce(F.col("gross_weight"), F.col("net_weight")).isNull(), F.lit(None)
    ).otherwise(
        F.struct(
            F.coalesce(F.col("gross_weight").cast("double"), F.col("net_weight").cast("double")).alias(
                "value"
            ),
            F.coalesce(F.col("gross_weight_unit"), F.col("net_weight_unit")).alias("unit"),
        )
    )

    # unified packaging block (unified.jsonc:137-161): inner carton is
    # qty-only in this feed; outer carton carries the full logistics
    # dims/weight/volume (sample data :29-40, EU-string numerics)
    carton_dims = F.when(pf.parse_eu_decimal("carton_length").isNull(), F.lit(None)).otherwise(
        F.struct(
            pf.parse_eu_decimal("carton_length").alias("length"),
            pf.parse_eu_decimal("carton_width").alias("width"),
            pf.parse_eu_decimal("carton_height").alias("height"),
            F.lower(
                F.coalesce(
                    F.col("carton_length_unit"),
                    F.col("carton_width_unit"),
                    F.col("carton_height_unit"),
                )
            ).alias("unit"),
        )
    )
    packaging = F.struct(
        F.struct(
            pf.parse_thousands_int("inner_carton_quantity").cast("int").alias("qty"),
        ).alias("inner_carton"),
        F.struct(
            pf.parse_thousands_int("outer_carton_quantity").cast("int").alias("qty"),
            carton_dims.alias("dimensions"),
            F.when(pf.parse_eu_decimal("carton_gross_weight").isNull(), F.lit(None))
            .otherwise(
                F.struct(
                    pf.parse_eu_decimal("carton_gross_weight").alias("gross"),
                    F.col("carton_gross_weight_unit").alias("unit"),
                )
            )
            .alias("weight"),
            F.when(pf.parse_eu_decimal("carton_volume").isNull(), F.lit(None))
            .otherwise(
                F.struct(
                    pf.parse_eu_decimal("carton_volume").alias("value"),
                    F.col("carton_volume_unit").alias("unit"),
                )
            )
            .alias("volume"),
        ).alias("outer_carton"),
    )

    text_maps = {
        "names": "product_name",
        "short_descriptions": "short_description",
        "long_descriptions": "long_description",
    }
    enriched = (
        products_raw.withColumnRenamed("variants", "raw_variants")
        .join(variants, "master_code", "left")
        .join(F.broadcast(positions), "master_code", "left")
    )
    if localized_raw is not None:
        enriched = enriched.join(
            F.broadcast(build_localized_text(products_raw, localized_raw)), "master_code", "left"
        )
        text_cols = [F.col(m) for m in text_maps]
    else:
        # single-language feed: each map holds the base 'en' entry, built
        # in the projection (NULL without a master_code, the key the
        # localized maps join on)
        text_cols = [
            F.when(
                F.col("master_code").isNotNull(), F.create_map(F.lit("en"), F.col(src))
            ).alias(m)
            for m, src in text_maps.items()
        ]
    enriched = enriched.crossJoin(F.broadcast(options))
    if sustainability_raw is not None:
        enriched = enriched.join(
            F.broadcast(build_sustainability(sustainability_raw)), "master_code", "left"
        )
    else:
        enriched = enriched.withColumn(
            "sustainability",
            F.lit(None).cast(
                "struct<eco:boolean,recycled_content_pct:int,"
                "co2_total:struct<value:double,unit:string>,"
                "lca_co2_breakdown:struct<"
                "material_production:struct<value:double,unit:string>,"
                "packaging:struct<value:double,unit:string>,"
                "transport:struct<value:double,unit:string>,"
                "eol:struct<value:double,unit:string>>,"
                "lca_co2_percent:struct<material_production:double,"
                "packaging:double,transport:double,eol:double>,"
                "social_audits:array<string>,green_points:int>"
            ),
        )
    enriched = (
        enriched
        # categories come from the first RAW variant (N2); price/image
        # summaries from the first transformed variant (P7)
        .withColumn("rv1", F.try_element_at(F.col("raw_variants"), F.lit(1)))
        .withColumn("v1", F.try_element_at(F.col("variants"), F.lit(1)))
    )

    all_discontinued = F.forall(F.col("variants"), lambda v: v["status"] == "discontinued")

    return enriched.select(
        pf.synth_product_id(SUPPLIER_ID, F.col("master_code")).alias("product_id"),
        F.lit(SUPPLIER_ID).alias("supplier_id"),
        F.lit(SUPPLIER_NAME).alias("supplier_name"),
        F.col("master_code").alias("supplier_product_code"),
        F.col("product_name").alias("name"),
        # multilingual maps (unified.jsonc:25-33 {lang: string} model),
        # fed by the language-parameterized fetches when landed
        *text_cols,
        F.col("short_description"),
        F.col("long_description"),
        F.col("brand"),
        F.col("material"),
        F.col("country_of_origin"),
        F.col("commodity_code").alias("tariff_code"),
        F.when(all_discontinued, "discontinued").otherwise("active").alias("status"),
        pf.yes_no_bool("printable").alias("is_printable"),
        F.col("number_of_print_positions").cast("int").alias("n_print_positions"),
        dims.alias("dimensions"),
        weight.alias("weight"),
        pf.parse_thousands_int("outer_carton_quantity").cast("int").alias("carton_quantity"),
        packaging.alias("packaging"),
        F.col("sustainability"),
        # §7.5 fidelity: base price = first variant's first price
        F.try_element_at(first_var["prices"], F.lit(1))["amount"].alias("base_price"),
        categories.alias("categories"),
        F.col("variants"),
        first_var["images"].alias("main_images"),
        F.col("print_positions"),
        F.col("print_options"),
        F.map_from_arrays(
            F.array(F.lit("master_id"), F.lit("type_of_products"), F.lit("dimensions_raw")),
            F.array(F.col("master_id"), F.col("type_of_products"), F.col("dimensions")),
        ).alias("extra_data"),
        F.col("timestamp").alias("feed_timestamp"),
    )
