"""Declarative pipeline spec + compiler — the bigmuddy-shaped API.

The reference's defining interface is ``pipeline.conf``: INI sections
declare input stages, output stages, codecs and metrics, and the daemon
wires them into a dataflow at startup (pipeline.go upstream). The graft
keeps that shape: a PipelineSpec (plain dict / dataclass, loadable from
JSON) declares source → parse → enrich → route → aggregate, and
``run_pipeline`` compiles it into ONE DataFrame DAG:

    scan → parse_full (Arrow UDF) → broadcast-enrich → __sink label
        → per-sink writes (multi) or one partitioned write (single_pass)
        → hourly counter aggregate write                   [metrics]
        → per-sink lineage manifests                       [metamonitor]

The router is one function, ``label_sinks``: every row gets exactly one
sink label, the first route whose predicate is true, else the
deadletter (parse failures, no match, NULL predicates). Both route modes
and the streaming runner write ``filter(__sink == name)`` projected to
that sink's columns, and per-sink counts are conditional sums over the
label, so sinks ∪ deadletter partition the input by construction.

Resume: sinks whose ``_lineage.json`` matches the spec fingerprint are
skipped (SURVEY.md T6); the run is idempotent and crash-resumable.
"""

from __future__ import annotations

import hashlib
import json
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from bmspark.functions import parse as parse_fns
from bmspark.operators import aggregate as agg_ops
from bmspark.plans import lineage
from bmspark.session import observe


@dataclass
class RouteRule:
    """One output stage: rows where ``predicate`` (SQL expr over enriched
    columns) is true go to sink ``name`` at ``{out_dir}/{name}``.

    ``fmt`` is the sink's output encoding — the graft of the reference's
    per-output codec (each output stage declares its wire format and the
    router re-encodes per sink; codec dispatch in the output path,
    upstream). parquet | json | csv. single_pass mode writes one parquet
    table for every sink and rejects any other format."""

    name: str
    predicate: str
    fmt: str = "parquet"


@dataclass
class PipelineSpec:
    """Graft of pipeline.conf. ``version`` participates in the plan
    fingerprint — bumping it invalidates resume state."""

    source_path: str
    out_dir: str
    routes: list[RouteRule] = field(default_factory=list)
    #: optional subscription predicate over RAW source columns, applied
    #: before parse — the gRPC dial-in path-subscription analog
    #: (xport_grpc.go upstream: the pipeline subscribes to a subset of
    #: sensor paths; here a subset of pages). On raw columns it reaches
    #: the parquet scan as a pushed filter / partition prune.
    subscription: str | None = None
    deadletter: str = "deadletter"
    enrich_lang_dim: bool = True
    aggregate_name: str = "agg_hourly"
    partition_cols: tuple[str, ...] = ("dt",)
    #: conditional sinks write the DECODED projection (the reference's
    #: sinks receive the re-encoded message, not the wire bytes); raw
    #: payload ships only to the deadletter for reprocessing. At 100 TB
    #: this cuts sink write volume by the html-to-text ratio (~10x).
    sink_columns: tuple[str, ...] = (
        "url", "domain", "lang", "warc_ts", "dt", "title",
        "extracted_text", "text_sha", "n_links", "n_bytes",
        "n_tokens", "simhash",
    )
    #: "multi": one write action per sink, all sinks written concurrently
    #: from driver threads like the reference's per-output goroutines
    #: (per-sink schema/layout — raw html only in deadletter; the
    #: default). "single_pass": route label becomes
    #: a dynamic partition column and the WHOLE fan-out is one write job
    #: — no persist, no per-sink passes; the cheapest correct fan-out
    #: when sinks share a format (sink tables live at
    #: out_dir/routed/__sink=<name>).
    route_mode: str = "multi"
    version: int = 1
    #: hash of the exact input file set this spec was planned against
    #: (set by incremental ticks). Participates in the fingerprint, so a
    #: retry after the input set changed (crash mid-tick, more files
    #: arrived) invalidates partially-committed sink manifests instead of
    #: skipping them with stale, smaller data.
    input_manifest: str | None = None

    def fingerprint(self) -> str:
        blob = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


@dataclass
class PipelineResult:
    counts: dict[str, int]
    skipped: list[str]
    input_count: int
    wall_secs: float
    docs_per_sec: float
    paths: dict[str, str]


def sink_path(spec: PipelineSpec, name: str, out_dir: str | None = None) -> str:
    """Where a sink's rows land under ``out_dir`` (default the spec's):
    ``{out_dir}/{name}`` in multi mode, the ``__sink`` partition of the
    one routed table in single_pass mode."""
    root = spec.out_dir if out_dir is None else out_dir
    if spec.route_mode == "single_pass":
        return f"{root}/routed/__sink={name}"
    return f"{root}/{name}"


def build_enriched(
    spark: SparkSession,
    spec: PipelineSpec,
    pages: DataFrame | None = None,
    parse_udf=None,
) -> DataFrame:
    """The shared upstream subplan: scan → parse → enrich. Returned
    un-persisted; run_pipeline persists before fan-out."""
    from bmspark import fixtures

    df = pages if pages is not None else spark.read.parquet(spec.source_path)
    if spec.subscription:
        df = df.filter(F.expr(spec.subscription))
    parsed = parse_fns.with_parsed(df, udf=parse_udf)
    flat = parsed.select(
        "*",
        F.col("parsed.title").alias("title"),
        F.col("parsed.text").alias("extracted_text"),
        F.col("parsed.text_sha").alias("text_sha"),
        F.col("parsed.n_links").alias("n_links"),
        F.col("parsed.n_bytes").alias("n_bytes"),
        F.col("parsed.parse_ok").alias("parse_ok"),
        F.col("parsed.n_tokens").alias("n_tokens"),
        F.col("parsed.simhash").alias("simhash"),
    ).drop("parsed")
    if "text" in flat.columns:
        # fixture ground-truth column — not pipeline data; dropping it
        # halves the persisted footprint before fan-out
        flat = flat.drop("text")
    if "domain" not in flat.columns:
        flat = flat.withColumn("domain", parse_fns.domain_of("url"))
    flat = flat.withColumn("dt", F.to_date("warc_ts"))
    if spec.enrich_lang_dim:
        flat = flat.join(F.broadcast(fixtures.dim_lang(spark)), on="lang", how="left")
    return flat


def label_sinks(
    spec: PipelineSpec, enriched: DataFrame
) -> tuple[DataFrame, dict[str, list[str]]]:
    """The router: add the ``__sink`` label and say which columns each sink
    gets. The label is the first route whose predicate is true; parse
    failures and rows no route matches go to the deadletter, and a NULL
    predicate counts as false (``lang = 'en'`` on a NULL lang must not
    make a row vanish from every sink). Routes get ``sink_columns`` plus
    the lang dims; the deadletter keeps the full row (raw html) for
    reprocessing. Naming a missing column raises AnalysisException here,
    before any job runs."""
    label = F.when(~F.coalesce(F.col("parse_ok"), F.lit(False)), F.lit(spec.deadletter))
    for rule in spec.routes:
        label = label.when(F.coalesce(F.expr(rule.predicate), F.lit(False)), F.lit(rule.name))
    row = enriched.columns
    projected = [c for c in (*spec.sink_columns, "lang_name", "lang_family") if c in row]
    columns = {rule.name: projected for rule in spec.routes}
    columns[spec.deadletter] = row
    return enriched.withColumn("__sink", label.otherwise(F.lit(spec.deadletter))), columns


def _label_counts(names) -> dict:
    """The input row count and one conditional sum per sink label, as
    ``observe`` aggregates."""
    return {
        "__input": F.count(F.lit(1)),
        **{n: F.sum(F.when(F.col("__sink") == n, 1).otherwise(0)) for n in names},
    }


def run_pipeline(
    spark: SparkSession,
    spec: PipelineSpec,
    pages: DataFrame | None = None,
    parse_udf=None,
) -> PipelineResult:
    """Compile + execute the spec. Returns exact per-sink counts and
    writes one lineage manifest per sink. The counts (the metamonitor
    analog) are ``session.observe`` sums over the sink label that ride
    the action materializing the cache; the hourly aggregate's row count
    rides its write the same way. A metric Spark drops is recomputed."""
    if spec.route_mode == "single_pass":
        other = [r.name for r in spec.routes if r.fmt != "parquet"]
        if other:
            raise ValueError(
                f"route_mode='single_pass' writes one parquet table; routes {other} "
                "declare another format (use route_mode='multi')"
            )
        return _run_single_pass(spark, spec, pages=pages, parse_udf=parse_udf)
    t0 = time.monotonic()
    fp = spec.fingerprint()
    enriched = build_enriched(spark, spec, pages=pages, parse_udf=parse_udf)
    # lineage records the files this plan reads (an incremental tick's new
    # files, [] for an inline frame), taken before the persist hides them
    source_files = sorted(enriched.inputFiles())
    labeled, columns = label_sinks(spec, enriched)
    labeled = labeled.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        observed, read_counts = observe(labeled, **_label_counts(columns))
        # one cheap action materializes the cache and the counters
        observed.write.format("noop").mode("overwrite").save()
        counts = read_counts()
        input_count = counts.pop("__input")

        fmts = {rule.name: rule.fmt for rule in spec.routes}
        paths = {name: sink_path(spec, name) for name in columns}

        def write_sink(name: str) -> bool:
            """Write one sink unless already committed; True when skipped."""
            path = paths[name]
            if lineage.is_committed(path, fp):
                return True
            (
                labeled.filter(F.col("__sink") == name)
                .select(*columns[name])
                .write.mode("overwrite")
                .partitionBy(*spec.partition_cols)
                .format(fmts.get(name, "parquet"))
                .save(path)
            )
            lineage.commit_manifest(
                path,
                sink=name,
                row_count=counts[name],
                plan_fingerprint=fp,
                partitions=lineage.output_lineage(path),
                metrics={"input_count": input_count, "source_files": source_files},
            )
            return False

        # all sinks write concurrently from driver threads: tasks interleave
        # on the same executors, per-sink driver latency and commit I/O
        # overlap (the reference's per-output goroutines, pipeline.go)
        with ThreadPoolExecutor(max_workers=len(columns)) as pool:
            skipped = [n for n, s in zip(columns, pool.map(write_sink, columns)) if s]
        for name in skipped:  # report what the sink holds
            counts[name] = lineage.read_manifest(paths[name])["row_count"]

        # metrics stage: hourly counters (metrics.go analog)
        agg_path = f"{spec.out_dir}/{spec.aggregate_name}"
        paths[spec.aggregate_name] = agg_path
        if lineage.is_committed(agg_path, fp):
            skipped.append(spec.aggregate_name)
            counts[spec.aggregate_name] = lineage.read_manifest(agg_path)["row_count"]
        else:
            agg = agg_ops.hourly_counters(
                labeled.filter(F.col("parse_ok")),
                measures={
                    "total_links": F.sum("n_links"),
                    "total_bytes": F.sum("n_bytes"),
                },
            )
            agg, read_agg = observe(agg, n=F.count(F.lit(1)))
            agg.write.mode("overwrite").parquet(agg_path)
            counts[spec.aggregate_name] = read_agg()["n"]
            lineage.commit_manifest(
                agg_path, sink=spec.aggregate_name, row_count=counts[spec.aggregate_name],
                plan_fingerprint=fp,
            )

        wall = time.monotonic() - t0
        return PipelineResult(
            counts=counts,
            skipped=skipped,
            input_count=input_count,
            wall_secs=wall,
            docs_per_sec=input_count / wall if wall > 0 else 0.0,
            paths=paths,
        )
    finally:
        labeled.unpersist()


def _run_single_pass(
    spark: SparkSession,
    spec: PipelineSpec,
    pages: DataFrame | None = None,
    parse_udf=None,
) -> PipelineResult:
    """Single-pass fan-out: scan → parse → enrich → ONE partitioned write
    with the route label as a dynamic partition column, counters riding
    the same pass via Observation. No cache, no per-sink jobs — at 10^12
    docs this halves cluster time vs the multi-action router whenever all
    sinks share a format. The one table carries the routes' columns; raw
    html is retained only on deadletter rows (nulled elsewhere; nulls
    cost nothing in parquet)."""
    t0 = time.monotonic()
    fp = spec.fingerprint()
    labeled, columns = label_sinks(
        spec, build_enriched(spark, spec, pages=pages, parse_udf=parse_udf)
    )
    routed = labeled.select(
        "__sink",
        *next((columns[r.name] for r in spec.routes), []),
        F.when(F.col("__sink") == spec.deadletter, F.col("html")).alias("html"),
    )

    routed_path = f"{spec.out_dir}/routed"
    if lineage.is_committed(routed_path, fp):
        m = lineage.read_manifest(routed_path)
        return PipelineResult(
            counts=m["metrics"]["sink_counts"],
            skipped=["routed"],
            input_count=m["metrics"]["input_count"],
            wall_secs=time.monotonic() - t0,
            docs_per_sec=0.0,
            paths={"routed": routed_path},
        )

    observed, read_counts = observe(routed, **_label_counts(columns))
    (
        observed.write.mode("overwrite")
        .partitionBy("__sink", *spec.partition_cols)
        .parquet(routed_path)
    )
    counts = read_counts()
    input_count = counts.pop("__input")
    lineage.commit_manifest(
        routed_path,
        sink="routed",
        row_count=input_count,
        plan_fingerprint=fp,
        partitions=lineage.output_lineage(routed_path),
        metrics={"input_count": input_count, "sink_counts": counts},
    )
    wall = time.monotonic() - t0
    return PipelineResult(
        counts=counts,
        skipped=[],
        input_count=input_count,
        wall_secs=wall,
        docs_per_sec=input_count / wall if wall else 0.0,
        paths={"routed": routed_path, **{name: sink_path(spec, name) for name in columns}},
    )


def reprocess_deadletter(spark: SparkSession, spec: PipelineSpec) -> PipelineResult:
    """Replay the deadletter archive through the salvage decoder — the
    reference's recover-by-replay pattern (replay.go: re-ingest a tap
    archive after fixing the pipeline). Rows that the lenient parse can
    now decode are routed into ``{out_dir}/reprocessed`` in the spec's
    route mode; rows that still fail stay in the reprocessed deadletter.
    The deadletter is read from wherever that route mode wrote it, and
    the original archive is never mutated (auditable)."""
    dl_path = sink_path(spec, spec.deadletter)
    raw_cols = ["url", "warc_ts", "html", "lang"]
    dl = spark.read.parquet(dl_path)
    raw = dl.select(*[c for c in raw_cols if c in dl.columns])
    # the subscription already filtered these rows, on raw columns the
    # archive may not keep
    sub = replace(
        spec, source_path=dl_path, out_dir=f"{spec.out_dir}/reprocessed", subscription=None
    )
    return run_pipeline(spark, sub, pages=raw, parse_udf=parse_fns.parse_lenient)


DEFAULT_ROUTES = [
    RouteRule("sink_en", "lang = 'en'"),
    RouteRule("sink_romance", "lang IN ('fr','es')"),
    RouteRule("sink_other", "lang NOT IN ('en','fr','es')"),
]
