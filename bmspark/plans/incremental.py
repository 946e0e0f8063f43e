"""Incremental (file-CDC) batch ingest — process only what's new.

The batch analog of the reference daemon's replay-and-resume, in
cron-shaped form: each run is one tick of plans/ticks.py that runs the
pipeline on the source files not yet in the state JSON, into
``out_dir/ticks/<n>``.

Exactly-once: every sink of tick ``n`` is overwritten in ``ticks/<n>``
behind its lineage manifest, and the state commits only after every sink.
A crash before the commit keeps the tick number, so the retry rewrites the
same directories, resuming only sinks whose manifest matches the planned
file set. The union of ticks equals a full recompute, with no duplicates.
"""

from __future__ import annotations

import hashlib
from dataclasses import replace

from pyspark.sql import SparkSession

from bmspark.plans import ticks
from bmspark.plans.spec import PipelineResult, PipelineSpec, run_pipeline, sink_path

STATE_FILE = "_incremental_state.json"


def incremental_run(
    spark: SparkSession,
    spec: PipelineSpec,
    parse_udf=None,
) -> PipelineResult | None:
    """One incremental tick. Returns None when there is nothing new.

    New files are read as their own DataFrame (explicit file list → the
    scan touches ONLY new data); the normal pipeline runs on it into
    ``out_dir/ticks/<n>``, keeping every tick's lineage manifests
    independent and the union of ticks equal to a full recompute.
    """
    result = None

    def body(n: int, new: list[str], state: dict) -> dict:
        nonlocal result
        # the planned file set is part of the tick fingerprint: if a crash
        # leaves some sink manifests committed and MORE files arrive before
        # the retry, the changed set invalidates those manifests — otherwise
        # the retry would skip them (built from fewer files) while rewriting
        # the rest from the larger set, silently losing the late files' rows
        # from the skipped sinks.
        tick_spec = replace(
            spec,
            out_dir=ticks.tick_dir(spec.out_dir, n),
            input_manifest=hashlib.sha256("\n".join(new).encode()).hexdigest()[:16],
        )
        result = run_pipeline(
            spark, tick_spec, pages=spark.read.parquet(*new), parse_udf=parse_udf
        )
        return {
            "n_new_files": len(new),
            "counts": result.counts,
            "input_count": result.input_count,
        }

    ticks.run_tick(spark, spec.source_path, spec.out_dir, STATE_FILE, body)
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
