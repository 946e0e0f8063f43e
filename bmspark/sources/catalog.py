"""Catalog shim — Iceberg tables with a hive-parquet fallback.

The north_rule targets Iceberg tables; this sandbox has no Iceberg
runtime jar and no network to fetch one (verified, SURVEY.md §1.3), so
the shim exposes ONE table API and two backends:

- ``iceberg``: ``writeTo(...).partitionedBy(days(ts), bucket(N, key))``
  via Spark's DataSourceV2 — used verbatim when the catalog jar is on the
  classpath (set BMSPARK_CATALOG=iceberg and configure
  spark.sql.catalog.<name> as usual).
- ``parquet`` (default here): hive-partitioned parquet + the JSON lineage
  manifest from bmspark.plans.lineage standing in for Iceberg's snapshot
  metadata (same commit-marker semantics: manifest == committed).

Partitioning policy for the 10^12-doc design point, either backend:
``(dt = days(warc_ts)) × (domain_bucket = bucket(B, domain))`` — bounded
partition count (days × B), hot domains spread over hash buckets, time
pruning for typical queries.

Pipeline sinks do not write through this shim: ``run_pipeline``
partitions them by ``PipelineSpec.partition_cols`` (``dt``). Routing
sinks here would change the sink layout, so the shim stays on the keep
list in docs/SCALE.md until a change decides that.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BACKEND = os.environ.get("BMSPARK_CATALOG", "parquet")
DOMAIN_BUCKETS = int(os.environ.get("BMSPARK_DOMAIN_BUCKETS", "16"))


def with_partition_cols(df: DataFrame, ts: str = "warc_ts", key: str = "domain") -> DataFrame:
    """Materialize the partition columns the fallback layout needs (the
    Iceberg backend derives them with hidden partitioning instead)."""
    out = df
    if "dt" not in df.columns:
        out = out.withColumn("dt", F.to_date(ts))
    key_col = (
        F.col(key)
        if key in df.columns
        else F.regexp_extract("url", r"https?://([^/]+)", 1)
    )
    return out.withColumn(
        "domain_bucket", F.pmod(F.xxhash64(key_col), F.lit(DOMAIN_BUCKETS)).cast("int")
    )


def iceberg_plan_string(identifier: str, buckets: int = DOMAIN_BUCKETS) -> str:
    """Canonical DDL for the Iceberg layout the writer builds — the
    jar-free, assertable statement of the north_rule partitioning
    (days(warc_ts) time pruning × bucket(domain) hot-domain spreading).
    With a configured catalog, ``spark.sql(iceberg_plan_string(...))``
    creates the identical table that ``iceberg_writer(...).create()``
    would."""
    return (
        f"CREATE TABLE {identifier} USING iceberg "
        f"PARTITIONED BY (days(warc_ts), bucket({buckets}, domain))"
    )


def iceberg_writer(df: DataFrame, identifier: str):
    """The DataSourceV2 writeTo plan for the Iceberg backend — split out
    so the plan CONSTRUCTION is unit-testable without the catalog jar
    (tests/test_catalog.py); execution needs a configured Iceberg
    catalog on the classpath."""
    return df.writeTo(identifier).using("iceberg").partitionedBy(
        F.days(F.col("warc_ts")), F.bucket(DOMAIN_BUCKETS, F.col("domain"))
    )


def write_table(df: DataFrame, identifier: str, mode: str = "overwrite") -> None:
    """identifier: catalog table name (iceberg) or path (parquet)."""
    if BACKEND == "iceberg":
        writer = iceberg_writer(df, identifier)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    (
        with_partition_cols(df)
        .write.mode(mode)
        .partitionBy("dt", "domain_bucket")
        .parquet(identifier)
    )


def read_table(spark: SparkSession, identifier: str) -> DataFrame:
    if BACKEND == "iceberg":
        return spark.read.table(identifier)
    return spark.read.parquet(identifier)
