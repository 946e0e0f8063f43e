#!/usr/bin/env python
"""Benchmark runner — prints ONE JSON line.

Headline: the full reference dataflow (scan → vectorized parse →
broadcast enrich → fan-out route to 3 sinks + deadletter → hourly
aggregate) over a deterministic Common-Crawl-style pages table, plus the
heavy standalone operators at $SPARK_GRAFT_SF_DIR (default sf0.1).

Env knobs:
  SPARK_GRAFT_SF_DIR     testdata dir           (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS       local[N] parallelism   (default 32)
  BMSPARK_BENCH_PAGES    pages-table rows       (default 400000)
  BMSPARK_BENCH_DIR      scratch dir            (default /tmp/bmspark_bench)

The pages table is generated once per (rows, generator-version) and
reused from disk — generation is NOT part of any timed region. Scaling
evidence (local[8] vs local[32]) is produced by bench_scaling.py, which
invokes this script in subprocesses.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

PAGES_GEN_VERSION = 2  # bump when fixtures.make_page output changes


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("BMSPARK_BENCH_PAGES", "400000"))
    scratch = os.environ.get("BMSPARK_BENCH_DIR", "/tmp/bmspark_bench")

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Heap sizing (measured): 8g at 32 threads evicts the columnar cache
    # (silent re-parse, bimodal timings); 48g thrashes GC/THP. 16g is the
    # stable sweet spot for the 400k-page suite on this box.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    from pyspark.sql import functions as F

    from bmspark import fixtures
    from bmspark.functions import dedup, similarity
    from bmspark.operators import aggregate as agg_ops
    from bmspark.operators import windows
    from bmspark.plans import spec
    from bmspark.session import get_session

    spark = get_session("bmspark-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- setup (untimed): materialize the pages table once ----
    pages_dir = os.path.join(scratch, f"pages_v{PAGES_GEN_VERSION}_{n_pages}")
    marker = os.path.join(pages_dir, "_SUCCESS")
    if not os.path.exists(marker):
        fixtures.synth_pages(
            spark, n_pages, partitions=max(64, cpus * 4),
            min_words=150, max_words=500,
        ).write.mode("overwrite").parquet(pages_dir)
    # warmup (untimed): exercise the exact e2e path on a small slice so
    # codegen JIT, Python-worker spin-up (pandas/numpy imports in 32
    # workers) and parquet footer caches are warm — one-time costs that
    # are noise at any real scale, not throughput.
    warm_spec = spec.PipelineSpec(
        source_path=pages_dir, out_dir=os.path.join(scratch, f"warm_{cpus}"),
        routes=spec.DEFAULT_ROUTES,
    )
    shutil.rmtree(warm_spec.out_dir, ignore_errors=True)
    spec.run_pipeline(
        spark, warm_spec, pages=spark.read.parquet(pages_dir).limit(20000)
    )

    timings: dict[str, float] = {}
    reps_log: dict[str, list[float]] = {}

    def timed(name: str, fn, reps: int = 1) -> None:
        best = None
        runs = []
        for _ in range(reps):
            t0 = time.monotonic()
            fn()
            dt = round(time.monotonic() - t0, 3)
            runs.append(dt)
            best = dt if best is None else min(best, dt)
        timings[name] = best
        if reps > 1:
            reps_log[name] = runs

    # ---- headline: end-to-end pipeline ----
    out_dir = os.path.join(scratch, f"out_{cpus}")
    shutil.rmtree(out_dir, ignore_errors=True)
    pipeline_spec = spec.PipelineSpec(
        source_path=pages_dir, out_dir=out_dir, routes=spec.DEFAULT_ROUTES
    )
    res_holder = {}

    def run_e2e():
        # fresh output per rep — otherwise rep 2 hits the manifest-resume
        # path and times a no-op
        shutil.rmtree(out_dir, ignore_errors=True)
        res_holder["res"] = spec.run_pipeline(spark, pipeline_spec)

    timed("pipeline_e2e", run_e2e, reps=3)
    docs_per_sec = round(res_holder["res"].input_count / timings["pipeline_e2e"], 1)

    # single-pass router variant: route label as dynamic partition column,
    # whole fan-out is ONE write job (no persist, no per-sink passes)
    sp_out = os.path.join(scratch, f"out_sp_{cpus}")
    shutil.rmtree(sp_out, ignore_errors=True)
    sp_spec = spec.PipelineSpec(
        source_path=pages_dir, out_dir=sp_out, routes=spec.DEFAULT_ROUTES,
        route_mode="single_pass",
    )

    def run_sp():
        shutil.rmtree(sp_out, ignore_errors=True)
        res_holder["sp"] = spec.run_pipeline(spark, sp_spec)

    timed("pipeline_e2e_singlepass", run_sp, reps=3)
    sp_docs_per_sec = round(
        res_holder["sp"].input_count / timings["pipeline_e2e_singlepass"], 1
    )
    assert res_holder["sp"].counts == {
        k: v for k, v in res_holder["res"].counts.items()
        if k.startswith("sink_") or k == "deadletter"
    }, "single-pass router diverged from multi-action router"

    # ---- compute-bound pipeline variant (the scaling-evidence job):
    # same scan → parse → enrich → route predicates → hourly agg, but sink
    # counters ride the single pass (tap countonly mode) and nothing hits
    # disk — on one box only CPU scales with thread count, so this is the
    # honest N-vs-4N proxy (a real 4N cluster scales its disks too).
    from bmspark.session import observe

    def run_countonly():
        enr = spec.build_enriched(spark, pipeline_spec)
        observed, read = observe(enr, __input=F.count(F.lit(1)), **{
            r.name: F.sum(F.when(F.expr(r.predicate), 1).otherwise(0))
            for r in pipeline_spec.routes
        })
        agg_ops.hourly_counters(
            observed.filter(F.col("parse_ok")),
            measures={"total_links": F.sum("n_links"),
                      "total_tokens": F.sum("n_tokens")},
        ).write.format("noop").mode("overwrite").save()
        res_holder["countonly"] = read()

    timed("pipeline_countonly", run_countonly,
          reps=int(os.environ.get("BMSPARK_BENCH_REPS", "3")))
    countonly_docs_per_sec = round(
        res_holder["countonly"]["__input"] / timings["pipeline_countonly"], 1
    )

    # ---- standalone operators at sf_dir ----
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pages = spark.read.parquet(pages_dir)

    timed("agg_tpch_q1ish", lambda: agg_ops.tpch_q1ish(li).collect(), reps=3)
    timed(
        "join_sortmerge",
        lambda: li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect(),
        reps=3,
    )
    timed(
        "agg_domain_lang_hour",
        lambda: agg_ops.hourly_counters(
            pages.withColumn(
                "domain", F.regexp_extract("url", r"https?://([^/]+)", 1)
            )
        ).write.format("noop").mode("overwrite").save(),
        reps=3,
    )
    timed(
        "win_topk",
        lambda: windows.topk_per_key(
            pages.withColumn(
                "domain", F.regexp_extract("url", r"https?://([^/]+)", 1)
            ).withColumn("n_chars", F.length("text")),
            "domain", "n_chars", 10, "url",
        ).write.format("noop").mode("overwrite").save(),
        reps=3,
    )
    timed(
        "dedup_minhash",
        lambda: dedup.minhash_lsh_pairs(docs, "text", "doc_id", 0.5).collect(),
        reps=3,
    )
    timed(
        "sim_topk",
        lambda: similarity.cosine_topk(emb, list(range(10)), k=10).collect(),
        reps=3,
    )
    timed(
        "dedup_winnow",
        lambda: dedup.winnow_neardup_pairs(docs, "text", "doc_id", 3).collect(),
        reps=3,
    )
    from bmspark.functions import curation, text
    from bmspark.functions import quality_model as qm

    def curation_bpe_train(d):
        from bmspark.functions import bpe

        rows = bpe.bpe_train(d, n_merges=10).collect()
        assert len(rows) == 10

    timed(
        "pack_sequences",
        lambda: curation.pack_sequences(docs, 512, 8).write.format("noop")
        .mode("overwrite").save(),
        reps=3,
    )
    timed(
        "text_repetition",
        lambda: curation.repetition_metrics(docs).write.format("noop")
        .mode("overwrite").save(),
        reps=3,
    )
    timed(
        "dedup_clusters",
        lambda: dedup.connected_components(
            dedup.winnow_neardup_pairs(docs, "text", "doc_id", 3)
        ).collect(),
        reps=3,
    )
    timed(
        "decontaminate",
        lambda: curation.contaminated_docs(
            docs.filter("doc_id % 17 <> 0"), docs.filter("doc_id % 17 = 0"),
            n=5, min_shared=1,
        ).collect(),
        reps=3,
    )
    timed(
        "dedup_spans",
        lambda: curation.dedup_spans(docs, 10).write.format("noop")
        .mode("overwrite").save(),
        reps=3,
    )
    # the sf documents text is single-line: give it deterministic
    # paragraph / line structure (the same transforms as the driver
    # keys) so the two structural ops have real work to do
    docs_ml = docs.select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" value "), F.lit("\n\n")).alias("text"),
    )
    timed(
        "dedup_paragraphs",
        lambda: curation.dedup_paragraphs(docs_ml).write.format("noop")
        .mode("overwrite").save(),
        reps=3,
    )
    docs_lines = docs.select(
        "doc_id",
        F.replace(
            F.replace(F.col("text"), F.lit(" table "), F.lit(".\n")),
            F.lit(" row "), F.lit("\n"),
        ).alias("text"),
    )
    timed(
        "text_c4_clean",
        lambda: curation.c4_clean(docs_lines).write.format("noop")
        .mode("overwrite").save(),
        reps=3,
    )
    timed(
        "url_canon",
        lambda: pages.select(
            "page_id",
            text.canonical_url("url").alias("url_canon"),
            text.url_host("url").alias("host"),
        ).write.format("noop").mode("overwrite").save(),
        reps=3,
    )
    timed(
        "text_gopher",
        lambda: curation.gopher_quality(docs).write.format("noop")
        .mode("overwrite").save(),
        reps=3,
    )
    timed(
        "text_freq_score",
        lambda: curation.freq_score(docs).write.format("noop")
        .mode("overwrite").save(),
        reps=3,
    )
    timed(
        "dedup_substrings",
        lambda: curation.dedup_substrings(docs, 10).write.format("noop")
        .mode("overwrite").save(),
        reps=3,
    )
    timed(
        "text_dsir_weight",
        lambda: curation.dsir_weight(
            docs, docs.filter("source IN ('src0', 'src1')")
        ).write.format("noop").mode("overwrite").save(),
        reps=3,
    )
    timed(
        "bpe_train",
        lambda: curation_bpe_train(docs),
        reps=3,
    )
    timed(
        "quality_score",
        lambda: qm.quality_classifier(
            docs, "source IN ('src0', 'src1')", iters=6
        ).write.format("noop").mode("overwrite").save(),
        reps=3,
    )
    timed(
        "dedup_semantic",
        lambda: similarity.semantic_dedup(emb, threshold=0.9, n_tables=2)
        .write.format("noop").mode("overwrite").save(),
        reps=3,
    )

    # ---- end-to-end corpus-cleaning funnel (VERDICT r5 #2): the
    # composed clean_corpus job a corpus team actually quotes — quality
    # floor → exact-best dedup → span dedup → Gopher + rep-ngram
    # ceilings → winnow cluster dedup → decontaminate → CCNet terciles →
    # stratified sample → parquet sink + funnel counts. Input = the
    # sf documents table; benchmark table (decontamination) is every
    # 17th doc, written once untimed.
    from jobs.clean_corpus import GOPHER_REP_DEFAULTS, clean_corpus

    bench_tbl = os.path.join(scratch, "funnel_benchtbl")
    if not os.path.exists(os.path.join(bench_tbl, "_SUCCESS")):
        docs.filter("doc_id % 17 = 0").select("doc_id", "text").write.mode(
            "overwrite"
        ).parquet(bench_tbl)
    funnel_out = os.path.join(scratch, f"funnel_out_{cpus}")
    funnel_holder = {}

    def run_funnel():
        shutil.rmtree(funnel_out, ignore_errors=True)
        funnel_holder["counts"], _ = clean_corpus(
            spark, f"{sf_dir}/documents.parquet", funnel_out,
            min_quality=0.2,
            dedup_keep="best-quality",
            span_dedup=10,
            gopher=True,
            gopher_rep=GOPHER_REP_DEFAULTS,
            ccnet_keep={"head": 1.0, "middle": 0.7, "tail": 0.2},
            benchmark_path=bench_tbl,
            lang_fractions={"en": 0.8, "fr": 0.6},
            default_fraction=0.5,
        )

    timed("clean_corpus_funnel", run_funnel,
          reps=int(os.environ.get("BMSPARK_BENCH_FUNNEL_REPS", "2")))
    funnel_docs_per_sec = round(
        funnel_holder["counts"]["input"] / timings["clean_corpus_funnel"], 1
    )

    all_queries = emb.select(
        (F.col("vec_id") + 100000).alias("query_id"), "embedding"
    )
    timed(
        "sim_batch_topk",
        lambda: similarity.batch_topk(
            emb, all_queries, k=5, dim=64, drop_self=False
        ).write.format("noop").mode("overwrite").save(),
        reps=3,
    )

    # in-band host-capacity probe (VERDICT r2 #6): ~5 s of fixed hashing
    # work split 1-vs-32 ways records how many cores the hypervisor
    # actually delivered DURING this bench run, so cross-round comparisons
    # can normalize away host variance (BENCH/BASELINE.md protocol)
    from bench_scaling import effective_cores

    probe = effective_cores(total=8_000_000, levels=(1, 32))

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "pipeline+operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "effective_cores": probe.get("effective_cores_at_32"),
        "cpu_probe": probe,
        "pages_rows": n_pages,
        "pipeline_docs_per_sec": docs_per_sec,
        "singlepass_docs_per_sec": sp_docs_per_sec,
        "countonly_docs_per_sec": countonly_docs_per_sec,
        "funnel_docs_per_sec": funnel_docs_per_sec,
        "funnel_counts": funnel_holder["counts"],
        "pipeline_counts": res_holder["res"].counts,
        "reps": reps_log,
    }
    # One JSON line on stdout (driver contract) AND a whole-file copy:
    # the driver's BENCH_r{N}.json `parsed` field was null in r6 because
    # it parsed only the stdout tail (VERDICT r6 next #9). File target
    # overridable for scaling sweeps that run several benches.
    out_json = os.environ.get(
        "BMSPARK_BENCH_JSON", os.path.join("BENCH", "last_bench.json")
    )
    try:
        os.makedirs(os.path.dirname(out_json) or ".", exist_ok=True)
        with open(out_json, "w") as f:
            json.dump(payload, f)
    except OSError:
        pass  # read-only checkout: stdout line remains authoritative
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
