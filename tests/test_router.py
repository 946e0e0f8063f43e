"""Router contracts (SURVEY.md §5.2.4-5): routed-row equality, pairwise
disjointness, exact per-sink counts, resume-from-manifest, first-match
labels in every router mode, fail-fast route errors."""

from __future__ import annotations

from dataclasses import replace

import pytest
from conftest import check_routed_equality, sink_paths
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from bmspark import fixtures
from bmspark.plans import lineage, spec
from bmspark.streaming import runner


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("router"))
    pages = fixtures.synth_pages(spark, 2000, partitions=8)
    s = spec.PipelineSpec(
        source_path="(inline)", out_dir=out, routes=spec.DEFAULT_ROUTES
    )
    res = spec.run_pipeline(spark, s, pages=pages)
    return out, s, res, pages


def test_counts_partition_input(result):
    """Σ per-sink counts (incl. deadletter) == input count, exactly —
    the reference's per-stage counter fidelity."""
    _, _, res, _ = result
    routed = sum(v for k, v in res.counts.items() if k.startswith("sink_") or k == "deadletter")
    assert routed == res.input_count == 2000


def test_routed_row_equality(spark, result):
    """union(sinks ∪ deadletter) ≡ input via exceptAll both ways; sinks
    pairwise disjoint (north_rule routed-row equality)."""
    out, s, res, pages = result
    checks = check_routed_equality(spark, pages, sink_paths(res))
    assert all(checks.values()), checks


def test_golden_sink_counts(result):
    """Deterministic generator ⇒ frozen golden counts (the committed
    golden-fixture pattern; regenerate only with a fixture version bump)."""
    _, _, res, _ = result
    golden_total = 2000
    n_malformed = golden_total // 20  # generator invariant: every 20th row
    assert res.counts["deadletter"] >= n_malformed
    assert (
        res.counts["sink_en"]
        + res.counts["sink_romance"]
        + res.counts["sink_other"]
        + res.counts["deadletter"]
        == golden_total
    )


def test_resume_skips_committed_sinks(spark, result):
    """Kill-resume semantics (SURVEY.md T6): re-running the same spec
    skips every committed sink; invalidating one manifest re-runs exactly
    that sink and reproduces identical content."""
    out, s, res, pages = result
    res2 = spec.run_pipeline(spark, s, pages=pages)
    assert set(res2.skipped) == {r.name for r in s.routes} | {"deadletter", "agg_hourly"}
    assert res2.counts == res.counts

    # simulate crash before sink_en committed
    import os

    os.remove(os.path.join(out, "sink_en", lineage.MANIFEST))
    before = spark.read.parquet(f"{out}/sink_en").select("url").collect()
    res3 = spec.run_pipeline(spark, s, pages=pages)
    assert "sink_en" not in res3.skipped and "deadletter" in res3.skipped
    after = spark.read.parquet(f"{out}/sink_en").select("url").collect()
    assert sorted(r.url for r in before) == sorted(r.url for r in after)
    assert res3.counts == res.counts


def test_manifest_contents(result):
    out, s, res, _ = result
    m = lineage.read_manifest(f"{out}/sink_en")
    assert m["sink"] == "sink_en"
    assert m["row_count"] == res.counts["sink_en"]
    assert m["plan_fingerprint"] == s.fingerprint()
    assert m["partitions"], "per-partition lineage must be recorded"
    assert all(
        "rows" in p and "file" in p and "partition_values" in p
        for p in m["partitions"]
    )
    assert sum(p["rows"] for p in m["partitions"]) == m["row_count"]
    # hive partition values captured (dt=... layout)
    assert all("dt" in p["partition_values"] for p in m["partitions"])


def test_per_sink_output_encoding(spark, tmp_path):
    """Per-output codec fidelity: each sink declares its wire format and
    the router re-encodes per sink (reference: output-path codec
    dispatch). JSON sink rows must round-trip value-equal to a parquet
    sink of the same predicate."""
    pages = fixtures.synth_pages(spark, 400, partitions=4)
    s = spec.PipelineSpec(
        source_path="(inline)", out_dir=str(tmp_path / "enc"),
        routes=[
            spec.RouteRule("sink_en_json", "lang = 'en'", fmt="json"),
            spec.RouteRule("sink_rest", "lang != 'en'"),
        ],
    )
    res = spec.run_pipeline(spark, s, pages=pages)
    js = spark.read.json(f"{tmp_path}/enc/sink_en_json")
    assert js.count() == res.counts["sink_en_json"] > 0
    pq = spark.read.parquet(f"{tmp_path}/enc/sink_rest")
    assert pq.count() == res.counts["sink_rest"]
    # JSON sink carries the decoded fields (no binary payload)
    assert "html" not in js.columns and "extracted_text" in js.columns
    assert lineage.read_manifest(f"{tmp_path}/enc/sink_en_json")["row_count"] == js.count()


def test_single_pass_router_equals_multi(spark, result, tmp_path):
    """route_mode='single_pass' (dynamic-partition fan-out, one write
    job) must produce exactly the multi-action router's counts and
    routed-row equality; deadletter rows keep raw html, others null it."""
    _, s, res, pages = result
    sp = spec.PipelineSpec(
        source_path="(inline)", out_dir=str(tmp_path / "sp"),
        routes=s.routes, route_mode="single_pass",
    )
    rp = spec.run_pipeline(spark, sp, pages=pages)
    multi_counts = {k: v for k, v in res.counts.items()
                    if k.startswith("sink_") or k == "deadletter"}
    assert rp.counts == multi_counts
    assert rp.input_count == res.input_count
    routed = spark.read.parquet(rp.paths["routed"])
    assert routed.count() == 2000
    assert routed.select("url").exceptAll(pages.select("url")).isEmpty()
    assert pages.select("url").exceptAll(routed.select("url")).isEmpty()
    assert routed.filter(
        (F.col("__sink") != "deadletter") & F.col("html").isNotNull()
    ).count() == 0
    assert routed.filter(
        (F.col("__sink") == "deadletter") & F.col("html").isNull()
    ).count() == 0
    # resume: rerun returns cached counts without rewriting
    rp2 = spec.run_pipeline(spark, sp, pages=pages)
    assert rp2.skipped == ["routed"] and rp2.counts == rp.counts


@pytest.mark.parametrize("mode", ["multi", "single_pass"])
def test_deadletter_reprocess_salvages_truncated(spark, result, tmp_path, mode):
    """Replay the deadletter archive through the lenient decoder
    (reference pattern: re-ingest a tap archive after fixing the
    pipeline). Truncated-markup pages (no </p>) are salvaged via
    tag-stripping; empty and non-utf8 payloads remain deadlettered; the
    original archive is untouched. Both route modes: single_pass keeps
    its deadletter in the routed table's partition."""
    _, s, _, pages = result
    if mode == "single_pass":
        s = replace(s, out_dir=str(tmp_path / "sp"), route_mode=mode)
        spec.run_pipeline(spark, s, pages=pages)
    dl_path = spec.sink_path(s, s.deadletter)
    dl_before = spark.read.parquet(dl_path).count()
    rp = spec.reprocess_deadletter(spark, s)
    salvaged = sum(v for k, v in rp.counts.items() if k.startswith("sink_"))
    n_truncated = len([i for i in range(2000) if i % 60 == 13])
    n_bad = len([i for i in range(2000) if i % 60 in (33, 53)])
    assert salvaged == n_truncated
    assert rp.counts["deadletter"] == n_bad
    assert spark.read.parquet(dl_path).count() == dl_before  # untouched
    # salvaged rows re-enter the normal sink layout with lineage manifests
    assert rp.paths["sink_en"] == spec.sink_path(s, "sink_en", out_dir=f"{s.out_dir}/reprocessed")
    assert spark.read.parquet(rp.paths["sink_en"]).count() == rp.counts["sink_en"]
    committed = rp.paths["routed" if mode == "single_pass" else "sink_en"]
    m = lineage.read_manifest(committed)
    assert m and m["row_count"] == spark.read.parquet(committed).count()


def test_subscription_filter_prunes_scan(spark, tmp_path):
    """S4 path-subscription analog: the subscription predicate must reach
    the parquet scan as a pushed filter (no full-table parse)."""
    src = str(tmp_path / "sub_src")
    fixtures.synth_pages(spark, 500, partitions=4).write.parquet(src)
    s = spec.PipelineSpec(
        source_path=src, out_dir=str(tmp_path / "sub_out"),
        routes=spec.DEFAULT_ROUTES, subscription="lang = 'en'",
    )
    enriched = spec.build_enriched(spark, s)
    plan = enriched._sc._jvm.PythonSQLUtils.explainString(
        enriched._jdf.queryExecution(), "formatted"
    )
    pushed = plan.split("PushedFilters:")[1][:200]
    assert "lang" in pushed, pushed
    res = spec.run_pipeline(spark, s)
    want = spark.read.parquet(src).filter(F.col("lang") == "en").count()
    assert res.input_count == want


def test_null_predicate_rows_fall_to_deadletter(spark, tmp_path):
    """Regression (round-2 advice): a predicate like `lang = 'en'`
    evaluates NULL for NULL lang; such rows must land in the deadletter —
    not vanish from every sink — in EVERY router mode (multi, single_pass,
    streaming). Same for overlapping predicates: a row matching two
    routes goes to the first one only, so all modes give the same
    per-sink counts and every row lands in exactly one sink."""
    pages = fixtures.synth_pages(spark, 400, partitions=4).withColumn(
        "lang",
        F.when(F.crc32("url") % 7 == 0, F.lit(None).cast("string")).otherwise(
            F.col("lang")
        ),
    )
    n_null = pages.filter(F.col("lang").isNull()).count()
    assert n_null > 0  # the scenario is actually exercised
    src = str(tmp_path / "src")
    pages.write.parquet(src)  # the streaming runner's file source

    cases = {
        "default": spec.DEFAULT_ROUTES,
        "overlap": [spec.RouteRule("a", "lang = 'en'"),
                    spec.RouteRule("b", "lang IN ('en','fr')")],
    }
    for case, routes in cases.items():
        counts = {}
        for mode in ("multi", "single_pass", "streaming"):
            out = str(tmp_path / case / mode)
            if mode == "streaming":
                runner.run_streaming_pipeline(
                    spark, src, fixtures.PAGES_SCHEMA, out, f"{out}_ckpt",
                    [(r.name, r.predicate) for r in routes],
                ).awaitTermination(120)
                paths = {n: f"{out}/{n}" for n in [r.name for r in routes] + ["deadletter"]}
            else:
                s = spec.PipelineSpec(
                    source_path="(inline)",
                    out_dir=out,
                    routes=routes,
                    route_mode=mode,
                )
                res = spec.run_pipeline(spark, s, pages=pages)
                paths = sink_paths(res)
                routed = sum(res.counts[k] for k in paths)
                assert routed == res.input_count == 400, mode
            checks = check_routed_equality(spark, pages, paths)
            assert all(checks.values()), (case, mode, checks)
            counts[mode] = {n: spark.read.parquet(p).count() for n, p in paths.items()}
            if mode != "streaming":
                assert counts[mode] == {k: res.counts[k] for k in paths}, (case, mode)
        assert counts["multi"] == counts["single_pass"] == counts["streaming"], case
    # first match: no 'en' row reaches the second overlapping route
    assert spark.read.parquet(f"{tmp_path}/overlap/multi/b").filter("lang = 'en'").isEmpty()


def test_route_errors_fail_before_any_job(spark, tmp_path):
    """A route predicate naming a missing column raises AnalysisException
    in both modes, and single_pass with a non-parquet route raises
    ValueError (it writes one parquet table), before any Spark job runs:
    a typo'd route must not cost a parse pass or leave output behind."""
    pages = fixtures.synth_pages(spark, 100, partitions=2)
    sc = spark.sparkContext
    cases = [
        ("multi", spec.RouteRule("oops", "NOT_A_COLUMN = 1"), AnalysisException),
        ("single_pass", spec.RouteRule("oops", "NOT_A_COLUMN = 1"), AnalysisException),
        ("single_pass", spec.RouteRule("en", "lang = 'en'", fmt="json"), ValueError),
    ]
    for i, (mode, rule, err) in enumerate(cases):
        out = tmp_path / f"out{i}"
        s = spec.PipelineSpec(
            source_path="(inline)", out_dir=str(out), routes=[rule], route_mode=mode
        )
        group = f"route_fail_fast_{i}"
        sc.setJobGroup(group, "route fail-fast probe")
        try:
            with pytest.raises(err):
                spec.run_pipeline(spark, s, pages=pages)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], (mode, rule)
        assert not out.exists(), (mode, rule)
