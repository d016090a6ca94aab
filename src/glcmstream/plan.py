"""Batch logical-plan builders: pages derivation + GLCM featurization.

Plan-construction discipline (SURVEY.md §4.2): Catalyst cannot see through
pandas UDFs, so filters/projections are applied *before* the featurize
stage and the UDF stages stay pure and late. All UDFs are Arrow-vectorized
pandas UDFs — no per-row Python (BASELINE.json:15).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (DoubleType, StringType, StructField,
                               StructType)

from . import config, kernel
from .session import trim_zip_finders

FEATURE_SCHEMA = StructType(
    [StructField(n, DoubleType()) for n in config.HARALICK_FEATURES])

RENDER_SCHEMA = StructType(
    [StructField(f"{n}_mean", DoubleType())
     for n in config.HARALICK_FEATURES]
    + [StructField("contrast_p95", DoubleType())])

# epoch µs of 2026-01-01T00:00:00Z — base event time for derived pages
PAGES_BASE_US = 1_767_225_600_000_000


@pandas_udf(FEATURE_SCHEMA)
def glcm_features_udf(html: pd.Series) -> pd.DataFrame:
    """html bytes -> struct of six Haralick features (A1→A2→A4→A5)."""
    trim_zip_finders()
    feats = kernel.featurize_htmls(html.tolist())
    return pd.DataFrame(feats)


@pandas_udf(RENDER_SCHEMA)
def rendertile_udf(html: pd.Series) -> pd.DataFrame:
    """Sliding-window rendertile summary stats per document (A6)."""
    trim_zip_finders()
    stats = kernel.rendertile_stats(html.tolist())
    return pd.DataFrame(stats)


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """html -> extracted text (A10, byte-identity invariant)."""
    trim_zip_finders()
    return pd.Series(kernel.extract_texts(html.tolist()))


def with_host(df: DataFrame, url_col: str = "url") -> Column | DataFrame:
    """host key extraction — built-in parse_url, JVM-side."""
    return df.withColumn("host", F.try_parse_url(F.col(url_col), F.lit("HOST")))


def featurize(pages: DataFrame, parallelism: int | None = None) -> DataFrame:
    """pages -> per-document Haralick feature columns + host key.

    Column-pruning note: `html` is consumed here and dropped immediately;
    downstream aggregates never carry the binary payload through a shuffle.

    parallelism: optional round-robin repartition before the UDF stage.
    Spark packs input splits by *bytes*, but GLCM cost is per *row* — with
    small fixture files a whole table can land in 1-2 splits and serialize
    the python workers. At real Common-Crawl page sizes (50-100 KiB html)
    byte-packing matches row cost and this knob stays None.
    """
    out = pages.repartition(parallelism) if parallelism else pages
    out = with_host(out)
    out = out.withColumn("f", glcm_features_udf("html")).drop("html")
    for name in config.HARALICK_FEATURES:
        out = out.withColumn(name, F.col(f"f.{name}"))
    return out.drop("f")


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a deterministic `pages` table (BASELINE.json:15 shape) from
    the driver's `documents` fixture with *built-in expressions only*, so
    DuckDB oracle twins can derive the identical table in SQL.

    host_id: doc_id%5<2 -> host 0 (a deliberate 40% hot key, exercising the
    skew path), else doc_id%16. ~10% of docs (doc_id%10==3) are re-crawled
    37 minutes later with identical text.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    host_id = F.when(F.col("doc_id") % 5 < 2, F.lit(0)) \
               .otherwise(F.col("doc_id") % 16)
    base = docs.select(
        F.concat(F.lit("https://host"),
                 F.lpad(host_id.cast("string"), 4, "0"),
                 F.lit(".example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_micros(
            F.lit(PAGES_BASE_US) + F.col("doc_id") * 2_000_000
        ).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><head><title>doc "),
                          F.col("doc_id").cast("string"),
                          F.lit("</title></head><body><p>"),
                          F.col("text"),
                          F.lit("</p></body></html>")), "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))
    recrawl = base.filter(F.col("doc_id") % 10 == 3).withColumn(
        "warc_ts", F.timestamp_micros(
            F.unix_micros(F.col("warc_ts")) + 37 * 60 * 1_000_000))
    return base.unionByName(recrawl)


# DuckDB twin of pages_from_documents, used as a CTE prefix in oracle SQL.
PAGES_SQL_CTE = """
pages AS (
  SELECT 'https://host'
         || lpad(CAST(CASE WHEN doc_id % 5 < 2 THEN 0
                           ELSE doc_id % 16 END AS VARCHAR), 4, '0')
         || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
         make_timestamp(1767225600000000 + doc_id * 2000000) AS warc_ts,
         text, lang, doc_id
  FROM documents
  UNION ALL
  SELECT 'https://host'
         || lpad(CAST(CASE WHEN doc_id % 5 < 2 THEN 0
                           ELSE doc_id % 16 END AS VARCHAR), 4, '0')
         || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
         make_timestamp(1767225600000000 + doc_id * 2000000
                        + 2220000000) AS warc_ts,
         text, lang, doc_id
  FROM documents WHERE doc_id % 10 = 3
)
"""
