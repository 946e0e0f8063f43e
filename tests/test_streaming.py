"""Streaming DAG tests (SURVEY.md §2.8): on the same input, every
streaming sink must hold the same rows (compared by url) and the same
column names as the multi-mode batch sink of the same name (one router,
two execution modes), and restarts on a checkpoint must neither skip nor
repeat rows."""

from __future__ import annotations

import pytest
from conftest import check_routed_equality
from pyspark.sql import functions as F

from bmspark import fixtures
from bmspark.plans import spec
from bmspark.streaming import runner

ROUTES = [
    ("sink_en", "lang = 'en'"),
    ("sink_romance", "lang IN ('fr','es')"),
    ("sink_other", "lang NOT IN ('en','fr','es')"),
]


@pytest.fixture(scope="module")
def staged_pages(spark, tmp_path_factory):
    """Pages written as MULTIPLE parquet files — the streaming file
    source replays them as micro-batches (replay.go pacing analog)."""
    src = str(tmp_path_factory.mktemp("stream_src"))
    pages = fixtures.synth_pages(spark, 800, partitions=8)
    pages.write.mode("overwrite").parquet(src)
    return src, pages


def test_stream_router_equals_batch_router(spark, staged_pages, tmp_path_factory):
    src, pages = staged_pages
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q = runner.run_streaming_pipeline(
        spark, src, fixtures.PAGES_SCHEMA, out, ckpt, ROUTES, max_files_per_trigger=3
    )
    q.awaitTermination(120)

    from bmspark.functions import parse as parse_fns

    parsed = parse_fns.with_parsed(pages).select(
        "url", "lang", F.col("parsed.parse_ok").alias("parse_ok")
    )
    for name, pred in ROUTES:
        want = parsed.filter(F.col("parse_ok") & F.expr(pred)).count()
        got = spark.read.parquet(f"{out}/{name}").count()
        assert got == want, name
    want_dl = parsed.filter(~F.col("parse_ok")).count()
    assert spark.read.parquet(f"{out}/deadletter").count() == want_dl
    # routed-row equality across modes
    names = [r[0] for r in ROUTES] + ["deadletter"]
    checks = check_routed_equality(spark, pages, {n: f"{out}/{n}" for n in names})
    assert all(checks.values()), checks
    # each streaming sink == the multi-mode batch sink of the same name:
    # same column names (decoded fields, html only in the deadletter) plus
    # the batch_id partition column, and the same url set
    batch = spec.run_pipeline(spark, spec.PipelineSpec(
        source_path=src, out_dir=str(tmp_path_factory.mktemp("batch_out")),
        routes=[spec.RouteRule(*r) for r in ROUTES],
    ))
    for name in names:
        got = spark.read.parquet(f"{out}/{name}")
        want = spark.read.parquet(batch.paths[name])
        assert sorted(got.columns) == sorted(want.columns + ["batch_id"]), name
        assert got.select("url").exceptAll(want.select("url")).isEmpty(), name
        assert want.select("url").exceptAll(got.select("url")).isEmpty(), name


def test_stream_checkpoint_resume_no_reprocess(spark, staged_pages, tmp_path_factory):
    """Restarting an availableNow query on the same checkpoint must not
    re-append already-processed files (exactly-once progress)."""
    src, pages = staged_pages
    out = str(tmp_path_factory.mktemp("resume_out"))
    ckpt = str(tmp_path_factory.mktemp("resume_ckpt"))
    q1 = runner.run_streaming_pipeline(
        spark, src, fixtures.PAGES_SCHEMA, out, ckpt, ROUTES
    )
    q1.awaitTermination(120)
    n1 = spark.read.parquet(f"{out}/sink_en").count()
    q2 = runner.run_streaming_pipeline(
        spark, src, fixtures.PAGES_SCHEMA, out, ckpt, ROUTES
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/sink_en").count() == n1


def test_stream_replayed_batch_adds_no_rows(spark, staged_pages, tmp_path_factory):
    """foreachBatch is at-least-once: a micro-batch whose commit was lost
    (a crash after its sink writes) runs again on restart, with the same
    batch_id. It must rewrite its own output, not add rows to it."""
    import os

    src, _ = staged_pages
    out = str(tmp_path_factory.mktemp("replay_out"))
    ckpt = str(tmp_path_factory.mktemp("replay_ckpt"))
    names = [r[0] for r in ROUTES] + ["deadletter"]

    def drain():
        q = runner.run_streaming_pipeline(
            spark, src, fixtures.PAGES_SCHEMA, out, ckpt, ROUTES,
            max_files_per_trigger=3,
        )
        q.awaitTermination(120)
        return sum(int(p.numInputRows) for p in q.recentProgress)

    drain()
    first = {n: spark.read.parquet(f"{out}/{n}").count() for n in names}
    assert sum(first.values()) == 800
    # lose the last batch's commit: the restart replays that batch
    last = max(int(f) for f in os.listdir(f"{ckpt}/commits") if f.isdigit())
    assert last >= 1
    os.remove(f"{ckpt}/commits/{last}")
    os.remove(f"{ckpt}/commits/.{last}.crc")  # else the restart fails on the orphan checksum
    assert drain() > 0  # the restart replayed the batch
    for n in names:
        sink = spark.read.parquet(f"{out}/{n}")
        assert sink.count() == first[n], n
        assert sink.select("url").distinct().count() == first[n], n


def test_daemon_mode_processing_time_trigger(spark, staged_pages, tmp_path_factory):
    """T7 daemon form: a processingTime trigger runs the router as an
    always-on process (the reference's native mode). Drive it for a few
    micro-batches, stop it cleanly, and check the processed rows routed
    correctly — the timed-stop smoke for `--daemon-interval`."""
    import time

    src, pages = staged_pages
    out = str(tmp_path_factory.mktemp("daemon_out"))
    ckpt = str(tmp_path_factory.mktemp("daemon_ckpt"))
    q = runner.run_streaming_pipeline(
        spark, src, fixtures.PAGES_SCHEMA, out, ckpt, ROUTES,
        max_files_per_trigger=4, trigger_interval="1 seconds",
    )
    try:
        # generous deadline: the drain needs ~10 s uncontended, but this
        # hypervisor can starve a 1-second trigger under parallel load
        # (observed flake at 50 s); the loop exits early when drained
        deadline = time.monotonic() + 150
        # wait until the backlog drains (all 8 source files processed)
        while time.monotonic() < deadline:
            processed = sum(
                int(p.numInputRows) for p in q.recentProgress
            )
            if processed >= 800 and not q.status["isDataAvailable"]:
                break
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination(30)
    names = [r[0] for r in ROUTES] + ["deadletter"]
    checks = check_routed_equality(spark, pages, {n: f"{out}/{n}" for n in names})
    assert all(checks.values()), checks
