"""Incremental (file-CDC) ingest: only new files processed per tick;
union of ticks ≡ full recompute; idle ticks are no-ops."""

from __future__ import annotations

from conftest import check_routed_equality
from pyspark.sql import functions as F

from bmspark import fixtures
from bmspark.plans import incremental, spec, ticks


def test_incremental_ticks_equal_full_recompute(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    batch1 = fixtures.synth_pages(spark, 600, partitions=3)
    batch1.write.mode("overwrite").parquet(src)
    s = spec.PipelineSpec(source_path=src, out_dir=out, routes=spec.DEFAULT_ROUTES)

    r1 = incremental.incremental_run(spark, s)
    assert r1 is not None and r1.input_count == 600

    # idle tick: nothing new → no-op, state unchanged
    assert incremental.incremental_run(spark, s) is None
    assert len(ticks.read_state(out, incremental.STATE_FILE)["runs"]) == 1

    # new data arrives (rows 600..999 — disjoint ids, same generator)
    import pandas as pd

    batch2 = spark.createDataFrame(
        pd.DataFrame([fixtures.make_page(i) for i in range(600, 1000)]),
        schema=fixtures.PAGES_SCHEMA,
    ).repartition(2)
    batch2.write.mode("append").parquet(src)

    r2 = incremental.incremental_run(spark, s)
    assert r2 is not None and r2.input_count == 400
    state = ticks.read_state(out, incremental.STATE_FILE)
    assert len(state["runs"]) == 2
    assert state["runs"][1]["n_new_files"] >= 1

    # union over ticks per sink == full recompute on all 1000 rows
    full_out = str(tmp_path / "full")
    full = spec.run_pipeline(
        spark,
        spec.PipelineSpec(source_path=src, out_dir=full_out, routes=spec.DEFAULT_ROUTES),
    )
    for sink in ["sink_en", "sink_romance", "sink_other", "deadletter"]:
        inc_df = incremental.read_sink_union(spark, s, sink).select("url")
        full_df = spark.read.parquet(f"{full_out}/{sink}").select("url")
        assert inc_df.exceptAll(full_df).isEmpty(), sink
        assert full_df.exceptAll(inc_df).isEmpty(), sink
    inc_total = sum(r2.counts.values()) - r2.counts.get("agg_hourly", 0) + (
        sum(r1.counts.values()) - r1.counts.get("agg_hourly", 0)
    )
    full_total = sum(v for k, v in full.counts.items() if k != "agg_hourly")
    assert inc_total == full_total == 1000


def test_incremental_single_pass_mode(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    fixtures.synth_pages(spark, 300, partitions=2).write.parquet(src)
    s = spec.PipelineSpec(
        source_path=src, out_dir=out, routes=spec.DEFAULT_ROUTES,
        route_mode="single_pass",
    )
    r = incremental.incremental_run(spark, s)
    assert r.input_count == 300
    en = incremental.read_sink_union(spark, s, "sink_en")
    assert en.count() == r.counts["sink_en"]


def test_tick_retry_after_crash_sees_late_files(spark, tmp_path):
    """Regression (round-2 advice): a tick that crashed after committing
    sink manifests but BEFORE committing state must not resume those
    manifests when the input file set has since grown — the tick
    fingerprint folds in the planned file list, so the retry rewrites
    every sink from the full new-file set."""
    import pandas as pd

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    fixtures.synth_pages(spark, 300, partitions=2).write.mode("overwrite").parquet(src)
    s = spec.PipelineSpec(source_path=src, out_dir=out, routes=spec.DEFAULT_ROUTES)
    r1 = incremental.incremental_run(spark, s)
    assert r1 is not None and r1.input_count == 300

    # batch B arrives; simulate a tick that ran to sink-commit but crashed
    # before the state commit: run the pipeline into the tick-1 dir with
    # B's files only, writing manifests but never touching state
    def _append(lo, hi, parts):
        df = spark.createDataFrame(
            pd.DataFrame([fixtures.make_page(i) for i in range(lo, hi)]),
            schema=fixtures.PAGES_SCHEMA,
        ).repartition(parts)
        df.write.mode("append").parquet(src)

    _append(300, 500, 1)
    files_b = ticks.new_files(spark, src, ticks.read_state(out, incremental.STATE_FILE))
    import hashlib

    crashed_spec = spec.PipelineSpec(
        source_path=src,
        out_dir=f"{out}/ticks/000001",
        routes=s.routes,
        input_manifest=hashlib.sha256("\n".join(files_b).encode()).hexdigest()[:16],
    )
    spec.run_pipeline(spark, crashed_spec, pages=spark.read.parquet(*files_b))

    # batch C arrives BEFORE the retry
    _append(500, 600, 1)

    # retry: the tick now plans B ∪ C; its fingerprint differs from the
    # crashed run's, so the committed B-only manifests are invalid and
    # every sink is rewritten — nothing skipped, C's rows present
    r2 = incremental.incremental_run(spark, s)
    assert r2 is not None
    assert r2.input_count == 300  # 200 (B) + 100 (C)
    assert not r2.skipped, f"stale manifests were resumed: {r2.skipped}"

    sinks = {
        sink: incremental.read_sink_union(spark, s, sink)
        for sink in ["sink_en", "sink_romance", "sink_other", "deadletter"]
    }
    checks = check_routed_equality(spark, spark.read.parquet(src), sinks)
    assert all(checks.values()), checks


def test_lineage_source_files_name_what_the_run_read(spark, tmp_path):
    """A sink manifest's ``metrics.source_files`` names the files the run
    planned: every file of the source for a batch run, only the new file
    for an incremental tick, none for an inline frame."""
    import pandas as pd

    from bmspark.plans import lineage

    src = tmp_path / "src"
    fixtures.synth_pages(spark, 120, partitions=2).write.parquet(str(src))

    def read(result, sink="sink_en"):
        files = lineage.read_manifest(result.paths[sink])["metrics"]["source_files"]
        assert files == sorted(files)
        return [f.rsplit("/", 1)[-1] for f in files]

    first = sorted(p.name for p in src.glob("*.parquet"))
    assert len(first) == 2
    batch = spec.run_pipeline(spark, spec.PipelineSpec(
        source_path=str(src), out_dir=str(tmp_path / "batch"), routes=spec.DEFAULT_ROUTES))
    assert read(batch) == read(batch, "deadletter") == first

    s = spec.PipelineSpec(source_path=str(src), out_dir=str(tmp_path / "inc"),
                          routes=spec.DEFAULT_ROUTES)
    assert read(incremental.incremental_run(spark, s)) == first
    spark.createDataFrame(
        pd.DataFrame([fixtures.make_page(i) for i in range(120, 160)]),
        schema=fixtures.PAGES_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(str(src))
    (new,) = sorted({p.name for p in src.glob("*.parquet")} - set(first))
    assert read(incremental.incremental_run(spark, s)) == [new]

    inline = spec.run_pipeline(
        spark,
        spec.PipelineSpec(source_path=str(src), out_dir=str(tmp_path / "inline"),
                          routes=spec.DEFAULT_ROUTES),
        pages=fixtures.synth_pages(spark, 40, partitions=1),
    )
    assert read(inline) == []
