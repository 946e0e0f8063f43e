"""Metamonitor listener (reference: metamonitor.go — the pipeline
exporting its own counters) + salted aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from bmspark import fixtures
from bmspark.operators import skew
from bmspark.streaming import monitor


def test_listener_records_per_batch_counters(spark, tmp_path):
    listener = monitor.MetricsTableListener(str(tmp_path / "metrics"))
    spark.streams.addListener(listener)
    try:
        src = str(tmp_path / "src")
        fixtures.synth_pages(spark, 300, partitions=3).write.parquet(src)
        q = (
            spark.readStream.schema(fixtures.PAGES_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("mon_test")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener callbacks are async; wait for them to drain
        import time

        for _ in range(40):
            prog = [r for r in listener.rows if r["event"] == "progress"]
            if sum(r["num_input_rows"] for r in prog) >= 300 and any(
                r["event"] == "started" for r in listener.rows
            ):
                break
            time.sleep(0.5)
        prog = [r for r in listener.rows if r["event"] == "progress"]
        assert sum(r["num_input_rows"] for r in prog) == 300
        assert all("processed_rows_per_sec" in r for r in prog)
        # and it reads back as a table (the metamonitor's query surface)
        got = spark.read.json(str(tmp_path / "metrics" / "metrics.jsonl"))
        assert got.filter(F.col("event") == "progress").count() == len(prog)
    finally:
        spark.streams.removeListener(listener)


def test_salted_agg_with_chosen_buckets_equals_plain(spark):
    pages = fixtures.synth_pages(spark, 2000, partitions=8).withColumn(
        "domain", F.regexp_extract("url", r"https?://([^/]+)", 1)
    )
    salted = skew.salted_agg(
        pages, keys=["domain"],
        aggs=[F.count(F.lit(1)).alias("n")],
        unique="url", buckets=12,
    )
    plain = pages.groupBy("domain").agg(F.count(F.lit(1)).alias("n"))
    assert salted.exceptAll(plain).isEmpty() and plain.exceptAll(salted).isEmpty()


def test_salted_agg_avg_decomposition_and_overrides(spark):
    """avg over a salted aggregation: decompose into sum+count partials,
    divide after the final merge — equals plain avg exactly. Also covers
    final_merge overrides for non-conventional column names."""
    from pyspark.sql import functions as F

    from bmspark import fixtures
    from bmspark.operators import skew

    pages = fixtures.synth_pages(spark, 1500, partitions=6).withColumn(
        "n_chars", F.length("text")
    )
    salted = skew.salted_agg(
        pages,
        keys=["lang"],
        aggs=[
            F.sum("n_chars").alias("total_chars"),
            # avg ignores NULLs, so the count partial must too
            F.count("n_chars").alias("rows"),
            F.max("n_chars").alias("biggest"),
        ],
        unique="url",
        buckets=8,
        final_merge={"total_chars": "sum", "rows": "sum", "biggest": "max"},
    ).select(
        "lang",
        (F.col("total_chars") / F.col("rows")).alias("avg_chars"),
        "biggest",
    )
    plain = pages.groupBy("lang").agg(
        F.avg("n_chars").alias("avg_chars"), F.max("n_chars").alias("biggest")
    )
    diff = salted.join(plain, on="lang", how="full").filter(
        (F.abs(salted["avg_chars"] - plain["avg_chars"]) > 1e-9)
        | (salted["biggest"] != plain["biggest"])
    )
    assert diff.isEmpty()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="final merge"):
        skew.salted_agg(
            pages, keys=["lang"],
            aggs=[F.sum("n_chars").alias("weird_name")], unique="url",
        )
