"""Incremental (file-CDC) batch ingest — process only what's new.

The reference is an always-on daemon: whatever arrives gets processed
exactly once, and a restart resumes from the transport/replay position.
The batch analog: each run lists the source's data files, subtracts the
files already recorded in the incremental state manifest, runs the
pipeline on the NEW files only, appends to the sinks, and commits the
updated file list atomically. Equivalent to Structured Streaming's file
source + checkpoint, but in plain batch (cron-shaped) form, and the
state is human-readable JSON next to the data.

Exactly-once story: the state commit (atomic rename) happens only after
every sink append succeeded. A crash between sink append and state
commit re-processes the batch — producing duplicate rows — so sinks that
need hard exactly-once pair this with stateful dedup on url
(streaming/runner.dedup_by_url) or an Iceberg overwrite-by-filter. That
tradeoff is documented, not hidden.

Scale: listing is O(files) metadata; the anti-join against processed
files happens driver-side on file PATHS (bounded: ~10^7 entries at the
10^12-doc design point — a set lookup, not a Spark job).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import replace

from pyspark.sql import SparkSession

from bmspark.plans.spec import PipelineResult, PipelineSpec, run_pipeline, sink_path

STATE_FILE = "_incremental_state.json"


def _list_data_files(spark: SparkSession, path: str) -> list[str]:
    return sorted(spark.read.parquet(path).inputFiles())


def read_state(out_dir: str) -> dict:
    p = os.path.join(out_dir, STATE_FILE)
    if not os.path.exists(p):
        return {"processed_files": [], "runs": []}
    with open(p) as f:
        return json.load(f)


def _commit_state(out_dir: str, state: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, STATE_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(out_dir, STATE_FILE))


def incremental_run(
    spark: SparkSession,
    spec: PipelineSpec,
    parse_udf=None,
) -> PipelineResult | None:
    """One incremental tick. Returns None when there is nothing new.

    New files are read as their own DataFrame (explicit file list → the
    scan touches ONLY new data); the normal pipeline runs on it with
    append semantics into per-run subdirectories (out_dir/ticks/<n>),
    keeping every tick's lineage manifests independent and the union of
    ticks equal to a full recompute.
    """
    state = read_state(spec.out_dir)
    seen = set(state["processed_files"])
    files = _list_data_files(spark, spec.source_path)
    new = [f for f in files if f not in seen]
    if not new:
        return None

    tick = len(state["runs"])
    # the planned file set is part of the tick fingerprint: if a crash
    # leaves some sink manifests committed and MORE files arrive before
    # the retry, the changed set invalidates those manifests — otherwise
    # the retry would skip them (built from fewer files) while rewriting
    # the rest from the larger set, silently losing the late files' rows
    # from the skipped sinks.
    import hashlib

    tick_spec = replace(
        spec,
        out_dir=f"{spec.out_dir}/ticks/{tick:06d}",
        input_manifest=hashlib.sha256("\n".join(new).encode()).hexdigest()[:16],
    )
    new_pages = spark.read.parquet(*new)
    result = run_pipeline(spark, tick_spec, pages=new_pages, parse_udf=parse_udf)

    state["processed_files"] = sorted(seen | set(new))
    state["runs"].append({
        "tick": tick,
        "n_new_files": len(new),
        "counts": result.counts,
        "input_count": result.input_count,
        "committed_at": time.time(),
    })
    _commit_state(spec.out_dir, state)
    return result


def read_sink_union(spark: SparkSession, spec: PipelineSpec, sink: str):
    """All ticks of one sink as a single DataFrame."""
    import glob

    paths = sorted(glob.glob(sink_path(spec, sink, out_dir=f"{spec.out_dir}/ticks/*")))
    # one read per tick dir: each is its own hive-partitioned root, so a
    # combined read would trip partition discovery (conflicting bases)
    out = None
    for p in paths:
        part = spark.read.parquet(p)
        out = part if out is None else out.unionByName(part, allowMissingColumns=True)
    return out
