"""The file-CDC tick protocol every incremental path shares.

A tick reads the out_dir's state JSON, lists the source's data files and
subtracts ``processed_files`` (nothing new → no tick), numbers itself
``len(runs)``, lets a body overwrite ``ticks/<n>`` (and any sibling
``<sub>/<n>``), then appends the body's run record and commits the state
LAST by fsync and atomic rename (``lineage.write_atomic``). A crash
before the commit leaves the state as it was, so the retry gets the same
number and overwrites the same directories: no tick is ever emitted
twice. Every kind writes ``ticks/<n>``, so an out_dir holds ONE tick
state.

Listing is O(files) metadata; the subtraction is a driver-side set lookup
on file paths (~10^7 at the 10^12-doc design point), not a Spark job.
"""

from __future__ import annotations

import glob
import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bmspark.plans import lineage


def read_state(out_dir: str, name: str) -> dict:
    p = os.path.join(out_dir, name)
    if not os.path.exists(p):
        return {"processed_files": [], "runs": []}
    with open(p) as f:
        return json.load(f)


def new_files(spark: SparkSession, source: str, state: dict) -> list[str]:
    """The source's data files not yet processed, sorted."""
    seen = set(state["processed_files"])
    return [f for f in sorted(spark.read.parquet(source).inputFiles()) if f not in seen]


def tick_dir(out_dir: str, n: int, sub: str = "ticks") -> str:
    return os.path.join(out_dir, sub, f"{n:06d}")


def live_dirs(
    out_dir: str, state: dict, sub: str = "ticks", rows: str = "n_emitted"
) -> list[str]:
    """The committed output as a read list: the latest compacted
    generation (if any), then the ``sub/<n>`` dirs of the ticks after its
    floor whose ``rows`` count is non-zero. Empty ticks write no data
    files, so reading them would fail schema inference."""
    comp = state.get("compaction")
    floor = comp["through_tick"] if comp else -1
    return ([comp["path"]] if comp else []) + [
        tick_dir(out_dir, run["tick"], sub)
        for run in state["runs"]
        if run[rows] > 0 and run["tick"] > floor
    ]


def run_tick(
    spark: SparkSession,
    source: str,
    out_dir: str,
    name: str,
    body: Callable[[int, list[str], dict], dict],
) -> dict | None:
    """Run one tick of the state ``name`` in ``out_dir``. ``body(n, new,
    state)`` writes tick ``n`` from the ``new`` files and returns its run
    record; the committed record (with ``tick`` and ``committed_at``) is
    returned, or None when the source has no new files. Raises ValueError,
    before any Spark job, when out_dir holds another kind's state."""
    others = [
        os.path.basename(p)
        for p in glob.glob(os.path.join(glob.escape(out_dir), "_*state.json"))
        if os.path.basename(p) != name
    ]
    if others:
        raise ValueError(
            f"{out_dir} already holds tick state {others}; one tick state per out_dir"
        )
    state = read_state(out_dir, name)
    new = new_files(spark, source, state)
    if not new:
        return None
    n = len(state["runs"])
    run = {"tick": n, **body(n, new, state), "committed_at": time.time()}
    # arrival order, not sorted: a rewind by [:-k] must drop the newest
    state["processed_files"] = state["processed_files"] + new
    state["runs"].append(run)
    lineage.write_atomic(os.path.join(out_dir, name), state)
    return run


def compact(
    spark: SparkSession,
    out_dir: str,
    name: str,
    key: str,
    gen_sub: str,
    n_files: int,
    sub: str = "ticks",
    rows: str = "n_emitted",
    save: Callable[[DataFrame, str, int], dict] | None = None,
) -> dict | None:
    """Fold the live dirs into ONE generation ``<gen_sub>/gen<g>``,
    hash-repartitioned on ``key`` into ``n_files`` files and sorted by
    ``key`` within each, so the read path stays bounded however many ticks
    have run. ``save(folded, path, gen)`` writes it and returns extra
    record fields (default: plain parquet). Returns the compaction record,
    or None when nothing was committed since the last fold.

    Crash-safe like a tick: the generation is written first and the state
    pointer commits LAST; a crashed fold's orphan gen dir is overwritten by
    the retry. Tick dirs stay on disk; prune them once the state points
    past them."""
    state = read_state(out_dir, name)
    if not state["runs"]:
        return None
    comp = state.get("compaction")
    through = state["runs"][-1]["tick"]
    if comp and comp["through_tick"] >= through:
        return None
    sources = live_dirs(out_dir, state, sub, rows)
    if not sources or (comp and len(sources) == 1):
        return None  # no data at all, or only empty ticks since the fold
    gen = (comp["gen"] + 1) if comp else 0
    path = os.path.join(out_dir, gen_sub, f"gen{gen:04d}")
    folded = (
        spark.read.parquet(*sources)
        .repartition(n_files, F.col(key))
        .sortWithinPartitions(key)
    )
    record = {
        "gen": gen,
        "through_tick": through,
        "path": path,
        "n_files": n_files,
        "committed_at": time.time(),
    }
    if save:
        record.update(save(folded, path, gen))
    else:
        folded.write.mode("overwrite").parquet(path)
    state["compaction"] = record
    lineage.write_atomic(os.path.join(out_dir, name), state)
    return record
