"""Streaming DAG (SURVEY.md §2.8 T1-T7) — the reference IS a streaming
daemon; this module is the graft's always-on form of the same pipeline.

Mapping:
- continuous transport ingest  → file-source ``readStream`` (rate-limited
  via maxFilesPerTrigger — the replay ``delayusec`` analog)
- per-stage counters           → StreamingQueryProgress per micro-batch
  (monitor.MetricsTableListener persists it; the CLI does not attach it
  yet). No windowed aggregate: an hourly aggregate here would be
  ``agg_ops.hourly_counters`` inside foreachBatch, as in batch
- bounded queues / backpressure→ maxFilesPerTrigger bounds each
  micro-batch; no state crosses batches, so there is no watermark
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
