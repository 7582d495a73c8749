"""Product-catalog CSV sources.

Reference behavior (re-expressed, not copied): the reference scans catalog
CSVs line-by-line with a regex, tags header/malformed lines, reports and
drops them, strips quote characters, and emits ``(id, title+" "+description+
" "+manufacturer)`` (reference Utils.scala:10-25,51-79). Here the same
surface is a declarative CSV scan with an explicit schema, PERMISSIVE mode
and a corrupt-record channel, plus ``concat_ws`` for the text column --
Catalyst prunes/pushes down through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("manufacturer", T.StringType(), True),
        # price as STRING + try_cast downstream: the reference's regex
        # accepts any price text (and discards it, Utils.scala:54-57); a
        # DoubleType here would mark the whole record corrupt instead.
        T.StructField("price", T.StringType(), True),
        T.StructField("_corrupt", T.StringType(), True),
    ]
)

GOLD_SCHEMA = T.StructType(
    [
        T.StructField("a_id", T.StringType(), False),
        T.StructField("b_id", T.StringType(), False),
    ]
)

# Reference regex parse (Utils.scala:10): ^(.+),"(.+)",(.*),(.*),(.*)
_STRICT_PATTERN = r'^(.+),"(.+)",(.*),(.*),(.*)$'


def read_catalog_csv(
    spark: SparkSession,
    path: str,
    title_col: str = "title",
    strict_reference_parse: bool = False,
    report_bad_lines: bool = False,
) -> DataFrame:
    """Read a product catalog CSV -> DataFrame(id, title, description,
    manufacturer, price, text) with ``text = concat_ws(' ', title,
    description, manufacturer)`` and all quote chars stripped.

    ``title_col`` names the raw header's title column ("title" for the
    Amazon-style file, "name" for the Google-style file).

    ``strict_reference_parse`` reproduces the reference's regex parse
    exactly (greedy first field, quoted second field, last three fields
    split on the final two commas), which differs from RFC-4180 CSV when
    descriptions contain commas.
    """
    if strict_reference_parse:
        lines = spark.read.text(path)
        parsed = lines.select(
            *[
                F.regexp_extract("value", _STRICT_PATTERN, i).alias(c)
                for i, c in enumerate(
                    ["id", title_col, "description", "manufacturer", "price"], start=1
                )
            ],
        )
        # header: first captured field is literally '"id"' (quotes included);
        # malformed: regex does not match (all groups empty)
        df = parsed.where((F.col("id") != "") & (F.col("id") != '"id"'))
        if report_bad_lines:
            bad = parsed.where(F.col("id") == "").count()
            if bad:
                print(f"{bad} lines failed strict parse in {path}")
    else:
        raw = (
            spark.read.schema(CATALOG_SCHEMA)
            .option("header", "true")
            .option("quote", '"')
            .option("escape", '"')
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(path)
        )
        if report_bad_lines:
            n_bad = raw.where(F.col("_corrupt").isNotNull()).count()
            if n_bad:
                print(f"{n_bad} corrupt lines dropped from {path}")
        df = raw.where(F.col("_corrupt").isNull()).drop("_corrupt")
        df = df.withColumnRenamed("title", title_col) if title_col != "title" else df

    strip = lambda c: F.regexp_replace(F.coalesce(F.col(c), F.lit("")), '"', "")  # noqa: E731
    return df.select(
        strip("id").alias("id"),
        strip(title_col).alias("title"),
        strip("description").alias("description"),
        strip("manufacturer").alias("manufacturer"),
        strip("price").try_cast("double").alias("price"),
        F.concat_ws(
            " ", strip(title_col), strip("description"), strip("manufacturer")
        ).alias("text"),
    )


def read_gold_pairs_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read the labeled perfect-mapping CSV -> DataFrame(a_id, b_id).

    Replaces the reference's stringly-typed ``"aID gID" -> "gold"`` pairs
    (Utils.scala:37-49,62-70) with two proper key columns.
    """
    df = (
        spark.read.schema(GOLD_SCHEMA)
        .option("header", "true")
        .option("quote", '"')
        .csv(path)
    )
    return df.select(
        F.regexp_replace("a_id", '"', "").alias("a_id"),
        F.regexp_replace("b_id", '"', "").alias("b_id"),
    ).where(F.col("a_id") != "idAmazon")

