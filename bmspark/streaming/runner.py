"""Streaming DAG (SURVEY.md §2.8 T1-T7) — the reference IS a streaming
daemon; this module is the graft's always-on form of the same pipeline.

Mapping:
- continuous transport ingest  → file-source ``readStream`` (rate-limited
  via maxFilesPerTrigger — the replay ``delayusec`` analog)
- per-stage counters           → windowed event-time aggregates +
  StreamingQueryListener progress (numDroppedRows = late-data drops, the
  reference's queue-drop counter analog)
- bounded queues / backpressure→ watermarks: bounded state instead of
  bounded queues; lateness is declared, not emergent
- multi-output fan-out         → foreachBatch: the batch pipeline's
  ``build_enriched`` + ``label_sinks`` on the micro-batch, then one
  overwrite per sink into ``{out}/{sink}/batch_id=<n>`` — the same
  first-match label, columns and deadletter as a batch run (no lineage
  manifests, no hourly aggregate)
- replay-safety                → checkpointLocation for exactly-once
  progress; foreachBatch is at-least-once, and a replayed batch keeps its
  batch_id, so it overwrites its own directories instead of adding rows
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hourly_window_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """T1+T4: event-time tumbling hourly counters with bounded lateness."""
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 hour").alias("win"), "domain", "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("win.start").alias("hour"), "domain", "lang", "n_pages")
    )


def sliding_window_counts(stream: DataFrame) -> DataFrame:
    """T2: 1-hour window sliding every 15 minutes."""
    return (
        stream.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window("warc_ts", "1 hour", "15 minutes").alias("win"), "domain")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("win.start").alias("win_start"), "domain", "n_pages")
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """T3: crawl sessions per domain — gap-based session windows."""
    return (
        stream.withWatermark("warc_ts", "2 hours")
        .groupBy(F.session_window("warc_ts", gap).alias("sess"), "domain")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "domain",
            "n_pages",
        )
    )


def dedup_by_url(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """T5: replay-safe stateful dedup — state bounded by the watermark."""
    return stream.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(["url"])


def stateful_domain_counters(stream: DataFrame, timeout_minutes: int = 120) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-domain
    counters that survive across micro-batches — the graft of the
    reference's long-lived per-stream counters (it keeps one counter set
    per input stream for the process lifetime; we keep one per domain
    with an idle timeout bounding state).

    Emits one row per (domain, batch it appeared in): cumulative pages
    and bytes so far. State: (n_pages, n_bytes).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "domain string, total_pages long, total_bytes long"
    state_schema = "n long, b long"

    def update(key, pdfs, state: GroupState):
        n, b = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            b += int(pdf["n_bytes"].sum())
        state.update((n, b))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        import pandas as pd

        yield pd.DataFrame(
            {"domain": [key[0]], "total_pages": [n], "total_bytes": [b]}
        )

    return stream.groupBy("domain").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def run_streaming_pipeline(
    spark,
    source_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    routes,
    max_files_per_trigger: int = 4,
    trigger_interval: str | None = None,
):
    """T7: the full streaming pipeline — parse + route inside foreachBatch
    (the only multi-sink mechanism in Structured Streaming). ``routes`` is
    a list of (sink name, SQL predicate). Returns the started
    StreamingQuery; caller awaits/stops it.

    foreachBatch receives a batch DataFrame + monotonic batch_id; the body
    runs the batch pipeline's enrich and ``label_sinks`` on it, so every
    sink gets the rows and columns a multi-mode batch run gives it. Each
    sink is read back as ``{out_dir}/{sink}``, with ``batch_id`` as an int
    partition column."""
    from bmspark.plans.spec import PipelineSpec, RouteRule, build_enriched, label_sinks

    spec = PipelineSpec(
        source_path=source_dir,
        out_dir=out_dir,
        routes=[RouteRule(name, pred) for name, pred in routes],
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        enriched = build_enriched(batch_df.sparkSession, spec, pages=batch_df)
        labeled, columns = label_sinks(spec, enriched)
        labeled = labeled.persist()
        try:
            for name, cols in columns.items():
                (
                    labeled.filter(F.col("__sink") == name)
                    .select(*cols)
                    .write.mode("overwrite")
                    .parquet(f"{out_dir}/{name}/batch_id={batch_id}")
                )
        finally:
            labeled.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    # drain mode (default): process the backlog and stop — batch-job shape,
    # used by tests/CI. Daemon mode: pass e.g. "30 seconds" to run like
    # the reference's always-on process.
    if trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
