"""SparkSession factory tuned for the pipeline's execution profile.

The reference is a single Go binary whose "configuration" is startup-time
INI (pipeline.conf, upstream final branch); our analog is a session with
the confs the 100 TB design point needs set explicitly, so every entry
point (driver contract, pytest, bench, spark-submit job) runs the same
engine profile.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from bmspark import worker_daemon

# Confs that matter at the 10^12-doc design point (SURVEY.md §4):
#  - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
#    dynamic broadcast conversion. At 100 TB a static shuffle.partitions
#    is always wrong for some stage; AQE re-plans per stage.
#  - Arrow on + bounded batch size: html blobs are large, so Arrow batches
#    are capped to keep Python-worker memory flat (U1 in SURVEY.md §2.9).
#  - nested schema pruning: sinks that never read parse output columns
#    must not pay for them.
#  - UTC session timezone: warc_ts arithmetic must agree bit-for-bit with
#    the DuckDB oracle.
_BASE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.compression.codec": "zstd",
    # INT96 timestamps carry no parquet min/max statistics → no row-group
    # or file skipping on warc_ts. Micros is also the Iceberg/Arrow norm.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.shuffle.partitions": "32",
    # AQE needs headroom to be useful in BOTH directions: start every
    # exchange at 512 partitions and let runtime coalescing shrink to
    # ~64 MB targets. With only the static 32, a 6 GB full-width
    # shuffle (e.g. exact_dedup's window over 4M docs) sorts ~200 MB
    # per task and spills — measured as a 2.6x superlinear step in the
    # 10x scale probe. Small queries still coalesce down to ~cores
    # (parallelismFirst), so tiny-scale plans are unchanged.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # By default Spark disables AQE partition coalescing inside persisted
    # plans (cached output partitioning must stay stable), so a cached
    # frame whose last exchange planned at initialPartitionNum=512 is
    # STORED as 512 tiny partitions — and every downstream job pays a
    # 512-task scan per access. Measured: each connected-components
    # label round re-scanned the persisted edge cache 512-wide, which is
    # the 1.54x sf0.1 regression of VERDICT r6 #1. Allowing AQE to
    # re-plan cached output coalesces the cache to ~64 MB partitions;
    # downstream exchanges are AQE-planned anyway, so no consumer relies
    # on the cached partitioning.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Long curation DAGs (clean_corpus: checkpoint-truncated lineage
    # boundaries, CC rounds, per-stage persists) strand shuffle files
    # whose RDDs are dead but not yet GC'd; Spark's ContextCleaner only
    # deletes them after a driver GC, and the default periodicGC
    # interval (30min) lets scratch grow unboundedly within one job —
    # measured: the 440k-doc funnel bench filled a 75 GB disk with
    # shuffle files at default settings. One driver GC per minute is
    # noise; bounded scratch is the 100 TB design point.
    "spark.cleaner.periodicGC.interval": "1min",
    "spark.ui.enabled": "false",
    "spark.sql.warehouse.dir": "/tmp/bmspark_warehouse",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}
# Python workers import the installed pyspark, not Spark's zip and jar
# (worker_daemon), when its daemon can import bmspark at start: bmspark is
# on disk in the cwd or on PYTHONPATH, not in a --py-files zip.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(worker_daemon.__file__)))
if os.path.isfile(worker_daemon.__file__) and _ROOT in map(
        os.path.abspath, [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]):
    _BASE_CONFS["spark.python.daemon.module"] = worker_daemon.__name__


def get_session(
    app_name: str = "bmspark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the pipeline's conf profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    falling back to ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(_BASE_CONFS)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def observe(frame: DataFrame, **aggs: Column):
    """Attach named aggregates (row counts, conditional sums) to ``frame``
    as one Observation. They fill during the first action that runs the
    returned frame, so counting costs no job of its own. Returns
    ``(observed_frame, read)``; after that action ``read()`` gives
    ``{name: int}`` in ``aggs`` order, a NULL (a sum over no rows) as 0.

    Spark drops the metric when AQE replaces the subtree holding it by an
    empty relation (a join whose other side ran empty): the observation
    completes with an empty row and ``Observation.get`` fails. ``read()``
    then recomputes the same aggregates over ``frame``, one extra job
    that only such inputs pay."""
    cols = [a.alias(name) for name, a in aggs.items()]
    obs = Observation()
    observed = frame.observe(obs, *cols)

    def read() -> dict[str, int]:
        try:
            got = obs.get
            vals = [got[name] for name in aggs]
        except (Py4JJavaError, KeyError):
            vals = list(frame.agg(*cols).first())
        return {name: int(v or 0) for name, v in zip(aggs, vals)}

    return observed, read


def widen_small_scan(df):
    """Round-robin a leaf scan that delivers at most defaultParallelism/4
    splits out to defaultParallelism: the unsplittable-small-file case
    (parquet cannot split inside a row group, so the one-file sf0.1
    documents table scans as ONE task and every per-row stage above it
    runs serial). Real corpora (thousands of splits) are left alone.

    A frame whose physical plan has an Exchange, counting one inside a
    cached relation's plan, is returned as is: counting its partitions
    would run the upstream shuffles while the caller is still planning.
    Deciding never runs a Spark job.

    Widening pays only where per-row work dwarfs the exchange. sf0.1
    driver queries, 4-core host, local[4], median of 9 interleaved reps,
    with / without: dedup_substrings 2.84 / 3.53 s, dedup_simhash 6.55 /
    8.67 s, decontaminate_frac 4.17 / 4.51 s, quality_feats 1.64 /
    2.08 s, sim_topk 0.52 / 0.63 s: their five operators call this.
    On cheap operators it costs time (text_ccnet_buckets 1.33 / 0.93 s,
    text_freq_score 1.12 / 0.79 s, dedup_paragraphs 1.08 / 0.84 s).
    """
    qe = df._jdf.queryExecution()
    if _has_exchange(qe.executedPlan()):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if 0 < qe.toRdd().getNumPartitions() * 4 <= target:
        return df.repartition(target)
    return df


def _has_exchange(node) -> bool:
    """An Exchange anywhere in a physical plan, inner children (a cached
    relation's plan) included. AQE wraps only plans that hold an exchange
    or a subquery, so an AQE root counts as one."""
    name = node.nodeName()
    kids = (s.apply(i) for s in (node.children(), node.innerChildren()) for i in range(s.size()))
    return "Exchange" in name or name == "AdaptiveSparkPlan" or any(map(_has_exchange, kids))


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Temporarily override runtime SQL confs, restoring on exit.

    Needed because the session profile is tuned for CORPUS-WIDE shuffles
    (``initialPartitionNum=512`` gives AQE headroom for the multi-GB
    exchanges of exact_dedup / minhash at the 4M-doc probe scale), but
    iterative algorithms (connected-components label rounds, BPE merge
    rounds) plan many tiny exchanges per round — at 512 initial
    partitions each, scheduling floor dominates and a 6-round CC loop
    regressed 1.54x at sf0.1 (VERDICT r6 #1). The right conf is
    per-plan-region, which Spark only exposes via session-level runtime
    confs read at planning time — so we scope them around the iterative
    region and restore afterwards.

    Session-global for the duration: concurrent queries planned inside
    the window would also see the override. All entry points here
    (driver contract, bench, jobs, pytest) plan queries sequentially.
    """
    old: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prev in old.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)
