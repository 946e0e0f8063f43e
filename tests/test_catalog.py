"""Catalog shim (SURVEY.md S11, §1.3): partitioned table writes with the
bucket(domain) × days(warc_ts) policy, and partition pruning reaching the
scan on read."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bmspark import fixtures
from bmspark.sources import catalog


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cat") / "pages_tbl")
    pages = fixtures.synth_pages(spark, 1000, partitions=8)
    catalog.write_table(pages, path)
    return path, pages


def test_partition_layout(table, tmp_path):
    import os

    path, _ = table
    dts = [d for d in os.listdir(path) if d.startswith("dt=")]
    assert len(dts) >= 3  # 72-hour window → ≥3 days
    buckets = [b for b in os.listdir(os.path.join(path, dts[0])) if b.startswith("domain_bucket=")]
    assert 1 <= len(buckets) <= catalog.DOMAIN_BUCKETS


def test_roundtrip_row_fidelity(spark, table):
    path, pages = table
    got = catalog.read_table(spark, path)
    assert got.count() == 1000
    assert got.select("url").exceptAll(pages.select("url")).isEmpty()


def test_partition_pruning_on_read(spark, table):
    path, _ = table
    df = catalog.read_table(spark, path).filter(F.col("dt") == "2024-01-02")
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters:")[1][:200]
    assert "dt" in seg, seg


def test_bucket_pruning_on_domain_point_lookup(spark, table):
    """Point lookups on a domain can prune to one bucket by computing the
    bucket id driver-side — the parquet fallback's stand-in for Iceberg
    bucket-transform pruning."""
    path, pages = table
    domain = "domain00.test"
    bucket = (
        pages.select(F.pmod(F.xxhash64(F.lit(domain)), F.lit(catalog.DOMAIN_BUCKETS)).cast("int").alias("b"))
        .first()["b"]
    )
    df = catalog.read_table(spark, path).filter(
        (F.col("domain_bucket") == bucket)
        & (F.regexp_extract("url", r"https?://([^/]+)", 1) == domain)
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "domain_bucket" in plan.split("PartitionFilters:")[1][:200]
    want = pages.filter(F.regexp_extract("url", r"https?://([^/]+)", 1) == domain).count()
    assert df.count() == want


def test_iceberg_writer_plan_constructs(spark):
    """The Iceberg writeTo plan (days(warc_ts) × bucket(domain) hidden
    partitioning) must CONSTRUCT without the catalog jar — guards the
    north_rule storage claim in a jar-less sandbox; execution is gated on
    a configured Iceberg catalog."""
    from bmspark import fixtures
    from bmspark.sources import catalog as cat

    pages = fixtures.synth_pages(spark, 10, partitions=1)
    writer = cat.iceberg_writer(pages, "demo.pages")
    assert writer is not None
    # the transform expressions carry the intended partitioning
    import pyspark.sql.functions as F

    days_expr = str(F.days(F.col("warc_ts")))
    bucket_expr = str(F.bucket(cat.DOMAIN_BUCKETS, F.col("domain")))
    assert "days" in days_expr.lower() and "warc_ts" in days_expr
    assert "bucket" in bucket_expr.lower() and "domain" in bucket_expr
    # executing without a catalog must raise cleanly (not silently no-op)
    import pytest as _pytest

    with _pytest.raises(Exception):
        writer.createOrReplace()

    # the canonical DDL twin carries the exact north_rule layout and is
    # parseable SQL (shape-level evidence while the jar is absent):
    # Catalyst must fail at CATALOG RESOLUTION, not at parsing — i.e. the
    # statement is syntactically valid and names the intended transforms
    ddl = cat.iceberg_plan_string("demo.pages")
    assert ddl == (
        "CREATE TABLE demo.pages USING iceberg "
        f"PARTITIONED BY (days(warc_ts), bucket({cat.DOMAIN_BUCKETS}, domain))"
    )
    plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(ddl)
    s = plan.toString()
    assert "days(warc_ts)" in s and f"bucket({cat.DOMAIN_BUCKETS}, domain)" in s
