"""Bronze layer: feed ingestion (SURVEY §2.1 S1–S10).

The reference line-scans pretty-printed JSONC sample files with string
markers (etl/extractors/midocean_extractor.py:95-138) — an approach
that silently yields nothing on reformatted files (SURVEY §7.1 step 4
note). Here the intent is rebuilt properly: whole-document parse with
a declared schema, JSONC-tolerant (full-line ``//`` comments and
trailing commas stripped — the reference's trailing-comma fixup,
midocean_extractor.py:105-106, generalized), distributed via
``spark.read.text(wholetext)`` so each feed file is one task.

HTTP extraction (S6–S8) is out of oracle scope (SURVEY §7.3): feeds
are landed files; a fetcher would simply write the payload beside
these readers.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructField, StructType

# the JSONC dialect: full-line ``//`` comments and trailing commas
_COMMENT_LINE = r"(?m)^\s*//.*$"
_TRAILING_COMMA = r",(\s*[\}\]])"


def read_jsonc(spark: SparkSession, path: str, schema: StructType, element_array: bool = True) -> DataFrame:
    """Parse a JSONC feed document into rows of ``schema``.

    - strips full-line ``//`` comments (inline ``//`` is never stripped:
      URLs contain it — the reference's files only use full-line comments)
    - strips trailing commas before ``]``/``}``
    - ``element_array=True``: document is a JSON array → one row per element
    """
    raw = spark.read.text(path, wholetext=True)
    cleaned = F.regexp_replace(F.col("value"), _COMMENT_LINE, "")
    cleaned = F.regexp_replace(cleaned, _TRAILING_COMMA, r"$1")
    if element_array:
        parsed = F.from_json(cleaned, ArrayType(schema))
        return raw.select(F.explode(parsed).alias("row")).select("row.*")
    parsed = F.from_json(cleaned, schema)
    return raw.select(parsed.alias("row")).select("row.*")


def first_json_record(path: str):
    """The first element of a landed JSONC array document, parsed on the
    driver with ``json`` after ``read_jsonc``'s comment and
    trailing-comma cleanup; ``None`` for an empty array. Reads doubling
    prefixes of the file until that element parses, so a large feed is
    not read whole. Raises ``ValueError`` when the document is not a
    JSON array or its first element does not parse."""
    size = 1 << 16
    text = ""
    with open(path, encoding="utf-8") as fh:
        while True:
            chunk = fh.read(size)
            text += chunk
            body = re.sub(_TRAILING_COMMA, r"\1", re.sub(_COMMENT_LINE, "", text)).lstrip()
            if body and not body.startswith("["):
                raise ValueError(f"not a JSON array: {body[:40]!r}")
            rest = body[1:].lstrip()
            if rest.startswith("]"):
                return None
            try:
                return json.JSONDecoder().raw_decode(rest)[0]
            except ValueError:
                if not chunk:
                    raise
            size *= 2


def read_feed(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Read a landed feed: parquet (preferred at scale) or JSON/JSONC."""
    if path.endswith((".json", ".jsonc")):
        return read_jsonc(spark, path, schema)
    return spark.read.schema(schema).parquet(path)


def flatten_printprice_document(nested: DataFrame) -> DataFrame:
    """Triple-nested print-pricelist flatten (SURVEY N3): the feed's
    ``techniques[] → var_costs[] → scales[]`` document becomes one row
    per (technique, range, scale) — the MO_PRINTPRICES shape — via
    chained explodes (reference flattens with three nested loops,
    etl/transformers/midocean_transformer.py:444-460).

    Expected input schema (one row per feed document):
      techniques: array<struct<technique_id, description, pricing_type,
        setup, setup_repeat, next_colour_cost_indicator,
        var_costs: array<struct<range_id, area_from, area_to,
          scales: array<struct<minimum_quantity, price, next_price>>>>>>
    """
    t = nested.select(F.explode("techniques").alias("t"))
    v = t.select("t", F.explode("t.var_costs").alias("v"))
    s = v.select("t", "v", F.explode("v.scales").alias("s"))
    return s.select(
        F.col("t.technique_id").alias("technique_id"),
        F.col("t.description").alias("description"),
        F.col("t.pricing_type").alias("pricing_type"),
        F.col("t.setup").alias("setup"),
        F.col("t.setup_repeat").alias("setup_repeat"),
        F.col("t.next_colour_cost_indicator").alias("next_colour_cost_indicator"),
        F.col("v.range_id").alias("range_id"),
        F.col("v.area_from").alias("area_from"),
        F.col("v.area_to").alias("area_to"),
        F.col("s.minimum_quantity").alias("minimum_quantity"),
        F.col("s.price").alias("price"),
        F.col("s.next_price").alias("next_price"),
    )


def read_json_lines_permissive(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Line-delimited JSON with PERMISSIVE corrupt-record capture
    (SURVEY §4: per-record error quarantine as a reader feature):
    malformed lines land in ``_corrupt_record`` instead of failing the
    batch; split downstream with ``with_corrupt_quarantine`` semantics.
    """
    from pyspark.sql.types import StringType as _S

    schema_with_corrupt = StructType(
        [*schema.fields, StructField("_corrupt_record", _S(), True)]
    )
    df = (
        spark.read.schema(schema_with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    # Spark refuses corrupt-column-only queries on the raw scan
    # (SPARK-23824-style restriction) — cache the parsed batch; at
    # 100 TB land the parsed output to bronze parquet instead.
    return df.cache()


def with_corrupt_quarantine(
    df: DataFrame, required: tuple[str, ...]
) -> tuple[DataFrame, DataFrame]:
    """Per-record error isolation (SURVEY N5, etl/base.py:121-133):
    split rows failing required-field checks into a quarantine side
    output instead of aborting the batch. Returns (good, quarantined).
    """
    valid = F.lit(True)
    for c in required:
        valid = valid & F.col(c).isNotNull() & (F.col(c) != "")
    flagged = df.withColumn("__valid", valid)
    good = flagged.filter(F.col("__valid")).drop("__valid")
    bad = flagged.filter(~F.col("__valid")).drop("__valid")
    return good, bad


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    corrupt_col: str = "_corrupt",
    header: bool = False,
):
    """CSV ingestion with corrupt-record routing (the CSV face of the
    JSONC quarantine): PERMISSIVE parse against an EXPLICIT schema,
    malformed lines land whole in ``corrupt_col`` instead of failing
    the job or silently disappearing (DROPMALFORMED's sin). Returns
    (good_rows, quarantined_rows). The cache is required: Spark
    disallows queries whose only reference is the internal
    corrupt-record column on an uncached relation."""
    df = (
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(f"{schema_ddl}, {corrupt_col} string")
        .csv(path)
    ).cache()
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    return good, bad


def ledger_fingerprints(df: DataFrame, unit_col: str, row_repr) -> DataFrame:
    """Per-ingestion-unit content fingerprint: XOR-folded 60-bit md5
    over a canonical row rendering — content-ADDRESSED, so a feed
    re-delivered under a different name/path still dedups, and a
    changed file (same name, new content) correctly re-processes.
    One aggregate per unit; order/partitioning independent."""
    h60 = F.conv(F.substring(F.md5(row_repr), 1, 15), 16, 10).cast("long")
    return df.groupBy(F.col(unit_col).alias("unit")).agg(
        F.bit_xor(h60).alias("content_fp"),
        F.count(F.lit(1)).alias("n_rows"),
    )
