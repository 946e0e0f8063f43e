"""Streaming metamonitor — the graft of the reference's self-monitoring.

The reference exports its own health as telemetry: per-stage counters
(msgs in/out/dropped per input/output stage) scraped by Prometheus
(metamonitor.go upstream). Structured Streaming already emits exactly
this per micro-batch via StreamingQueryProgress; this listener persists
each progress event as a row in a metrics table, so the pipeline's own
throughput / backlog / late-drop counters are queryable with the same
engine that processes the data.

Captured per (query, batch): input rows, processed rows/sec, state rows,
**numRowsDroppedByWatermark** (the reference's queue-drop counter analog
— bounded lateness instead of bounded queues), batch duration.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from bmspark.plans import lineage


class MetricsTableListener(StreamingQueryListener):
    """Appends one JSON line per micro-batch to ``<dir>/metrics.jsonl``
    (driver-side, atomic append — tiny volume: one row per batch). Read
    it back as a table with ``spark.read.json`` for dashboards/alerts.

    JSONL rather than parquet because progress events arrive one at a
    time on the driver; batching them into parquet would add latency to
    exactly the signal you want during an incident.
    """

    def __init__(self, metrics_dir: str):
        self.metrics_dir = metrics_dir
        os.makedirs(metrics_dir, exist_ok=True)
        self._path = os.path.join(metrics_dir, "metrics.jsonl")
        self._lock = threading.Lock()
        self.rows: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self._write({
            "event": "started", "query_id": str(event.id),
            "name": event.name, "ts": time.time(),
        })

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state = p.stateOperators[0] if p.stateOperators else None
        row = {
            "event": "progress",
            "query_id": str(p.id),
            "batch_id": p.batchId,
            "ts": time.time(),
            "num_input_rows": p.numInputRows,
            "processed_rows_per_sec": p.processedRowsPerSecond,
            "batch_duration_ms": p.batchDuration,
            "state_rows": state.numRowsTotal if state else 0,
            "rows_dropped_by_watermark": (
                state.numRowsDroppedByWatermark if state else 0
            ),
        }
        self._write(row)

    def onQueryTerminated(self, event) -> None:
        self._write({
            "event": "terminated", "query_id": str(event.id), "ts": time.time(),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def _write(self, row: dict) -> None:
        with self._lock:
            self.rows.append(row)
            with open(self._path, "a") as f:
                f.write(json.dumps(row) + "\n")


# ---------------------------------------------------------------------------
# Prometheus exposition export (metrics_influx.go / metamonitor analog)
# ---------------------------------------------------------------------------

def prometheus_text(
    sink_counts: dict[str, int],
    input_count: int | None = None,
    progress_rows: list[dict] | None = None,
    prefix: str = "bmspark",
) -> str:
    """Render pipeline counters in Prometheus exposition format (text
     0.0.4) — the pushable/scrapable shape of the reference's
    self-monitoring (it exports per-stage msgs-in/out counters to
    Prometheus via metamonitor, upstream). Pure string rendering,
    driver-side, O(sinks + batches) — write it next to the lineage
    manifests or serve it from any HTTP endpoint."""
    def esc(label_value: str) -> str:
        """Escape per the exposition-format spec: backslash, double quote
        and newline in label values (sink names come from arbitrary conf
        section names)."""
        return (
            str(label_value)
            .replace("\\", "\\\\")
            .replace('"', '\\"')
            .replace("\n", "\\n")
        )

    lines = [
        f"# HELP {prefix}_sink_rows_total Rows routed to each output stage",
        f"# TYPE {prefix}_sink_rows_total counter",
    ]
    for sink in sorted(sink_counts):
        lines.append(
            f'{prefix}_sink_rows_total{{sink="{esc(sink)}"}} {int(sink_counts[sink])}'
        )
    if input_count is not None:
        lines += [
            f"# HELP {prefix}_input_rows_total Rows read from the input stage",
            f"# TYPE {prefix}_input_rows_total counter",
            f"{prefix}_input_rows_total {int(input_count)}",
        ]
    if progress_rows:
        lines += [
            f"# HELP {prefix}_batch_input_rows Rows per streaming micro-batch",
            f"# TYPE {prefix}_batch_input_rows gauge",
        ]
        for r in progress_rows:
            if r.get("event") != "progress":
                continue
            lines.append(
                f'{prefix}_batch_input_rows{{query="{esc(r["query_id"])}",'
                f'batch="{esc(r["batch_id"])}"}} {int(r["num_input_rows"])}'
            )
        dropped = sum(
            int(r.get("rows_dropped_by_watermark") or 0)
            for r in progress_rows
            if r.get("event") == "progress"
        )
        lines += [
            f"# HELP {prefix}_rows_dropped_by_watermark_total Late rows dropped",
            f"# TYPE {prefix}_rows_dropped_by_watermark_total counter",
            f"{prefix}_rows_dropped_by_watermark_total {dropped}",
        ]
    return "\n".join(lines) + "\n"


def export_prometheus(path: str, **kwargs) -> str:
    """Write prometheus_text(**kwargs) to ``path`` with
    ``lineage.write_atomic`` (fsync + rename); returns the text."""
    text = prometheus_text(**kwargs)
    lineage.write_atomic(path, text)
    return text
