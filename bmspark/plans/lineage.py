"""Per-partition lineage manifests + checkpoint resume (SURVEY.md T6, §4.3.4).

The reference's resumability is its replay input (replay.go upstream):
re-ingest an immutable tap archive from the top. The north_rule demands
more: *checkpoint-resumable execution carrying per-partition lineage and
metrics*. Spark's batch writer has no such sink, so this module implements
it storage-side, Iceberg-commit-style:

- every sink write ends with an atomically-renamed ``_lineage.json``
  recording: sink name, row count, input files consumed
  (``input_file_name()``), per-spark-partition row counts, stage versions,
  attempt id, wall time.
- a sink whose manifest exists and matches the current plan fingerprint is
  SKIPPED on re-run (resume); a missing/partial sink re-executes. Combined
  with deterministic inputs this gives idempotent, resumable multi-sink
  jobs — the batch analog of streaming's checkpointLocation.

Atomicity without Iceberg: write to ``_lineage.json.tmp`` + fsync +
``os.replace`` (POSIX atomic rename); the manifest is the commit marker,
so a crash mid-write leaves no marker and the sink re-runs.
"""

from __future__ import annotations

import json
import os
import time

MANIFEST = "_lineage.json"


def output_lineage(path: str) -> list[dict]:
    """Per-output-partition lineage from the written parquet footers: one
    entry per data file with (file, hive partition values, rows). Pure
    footer metadata reads — O(files), no Spark job, no data scan. This is
    the Iceberg-manifest analog for the parquet fallback."""
    out = []
    for dirpath, _dirnames, filenames in os.walk(path):
        for fn in sorted(filenames):
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(dirpath, fn)
            rel = os.path.relpath(fp, path)
            parts = dict(
                seg.split("=", 1)
                for seg in rel.split(os.sep)[:-1]
                if "=" in seg
            )
            import pyarrow.parquet as pq

            out.append({
                "file": rel,
                "partition_values": parts,
                "rows": pq.ParquetFile(fp).metadata.num_rows,
            })
    return out


def commit_manifest(
    path: str,
    sink: str,
    row_count: int,
    plan_fingerprint: str,
    partitions: list[dict] | None = None,
    metrics: dict | None = None,
    attempt: int = 0,
) -> dict:
    """Atomically commit the lineage manifest for a completed sink write."""
    manifest = {
        "sink": sink,
        "row_count": row_count,
        "plan_fingerprint": plan_fingerprint,
        "partitions": partitions or [],
        "metrics": metrics or {},
        "attempt": attempt,
        "committed_at": time.time(),
        "version": 1,
    }
    write_atomic(os.path.join(path, MANIFEST), manifest)
    return manifest


def write_atomic(path: str, data: str | dict) -> None:
    """Write ``data`` to ``path``: a str as is, a dict as sorted JSON.
    The bytes go to a ``.tmp`` sibling, are fsynced, then
    ``os.replace``d: the fsync makes the commit durable and the rename
    makes it atomic, so a crash leaves the old file or none."""
    if not isinstance(data, str):
        data = json.dumps(data, indent=1, sort_keys=True)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path + ".tmp", "w") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(path + ".tmp", path)


def read_manifest(path: str) -> dict | None:
    p = os.path.join(path, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def is_committed(path: str, plan_fingerprint: str) -> bool:
    """Resume predicate: sink already written by THIS plan version."""
    m = read_manifest(path)
    return bool(m) and m.get("plan_fingerprint") == plan_fingerprint
