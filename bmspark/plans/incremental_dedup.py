"""Incremental cross-tick exact dedup — grow a corpus exactly-once.

The batch analog of streaming dropDuplicates-with-state, for the corpus
team's standing job: new crawl files land continuously, and each tick
must emit only documents whose content has NEVER been emitted before.

Each tick of plans/ticks.py, on the source files it has not seen:
  1. fingerprint the new docs (functions/text.fingerprint — md5 of
     normalized text, the repo's exact-dedup content hash);
  2. within-tick dedup: keep the min id per fingerprint;
  3. cross-tick dedup: LEFT ANTI join against the fingerprints of every
     previously committed tick — read COLUMN-PRUNED from the prior tick
     outputs themselves (the output IS the state; no side state table to
     drift out of sync);
  4. overwrite this tick's survivors into ``out/ticks/<n>`` — a retry of
     a crashed tick rewrites the same directory, so the emitted corpus
     never contains duplicates.

Semantics (contract-tested): after any tick sequence, the union of tick
outputs equals FIRST-SEEN-WINS exact dedup of everything processed —
earliest tick wins for a repeated fingerprint, min id within a tick.
(This is the streaming semantics; a global min-id recompute could differ
if a later tick carries a smaller id for an old fingerprint.)

Scale: fingerprints are 32-char md5 strings; the anti-join's right side
at 10^12 emitted docs is ~32 TB of fp column — a plain shuffle join
keyed on a uniform hash, or bucket tick outputs by fp so repeated ticks
co-locate (sources/catalog bucketing). The per-tick state read prunes to
ONE column of the prior outputs (parquet column pruning, plan-visible).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bmspark.functions import curation, dedup, text
from bmspark.plans import ticks
from bmspark.session import observe

STATE_FILE = "_dedup_state.json"
SPAN_STATE_FILE = "_span_dedup_state.json"


def _state_scope(out_dir: str) -> str:
    """12-hex-char scope token derived from the pipeline's out_dir.
    Embedded in every state table name so two dedup pipelines sharing
    one catalog/metastore can never collide on table names (a collision
    would silently anti-join against the WRONG pipeline's fingerprints
    — duplicates emitted or fresh docs dropped)."""
    import hashlib

    return hashlib.sha256(os.path.abspath(out_dir).encode()).hexdigest()[:12]


def _table_location(spark: SparkSession, tbl: str) -> str | None:
    for r in spark.sql(f"DESCRIBE FORMATTED {tbl}").collect():
        if (r.col_name or "").strip() == "Location":
            return (r.data_type or "").strip()
    return None


def _same_location(registered: str | None, expected: str) -> bool:
    if not registered:
        return False
    norm = lambda p: p.split("://", 1)[-1].removeprefix("file:").rstrip("/")
    return norm(registered) == norm(os.path.abspath(expected))


def _ensure_state_table(spark: SparkSession, comp: dict) -> str:
    """(Re-)register a compacted generation's BUCKETED external table in
    this session's catalog (bucket metadata lives in the catalog, not in
    the parquet files, so a fresh session must re-declare it). One table
    per (pipeline scope, generation) — the name embeds a hash of
    out_dir plus the gen, so neither a superseded directory nor ANOTHER
    pipeline's same-gen state can be aliased. Defense in depth: even on
    a name hit, the registered LOCATION is verified against the
    manifest's path and the table is re-created if it points elsewhere
    (a catalog shared across pipelines with a custom table_prefix could
    otherwise silently serve foreign fingerprints)."""
    b = comp["bucketed"]
    tbl = b["table"]
    if spark.catalog.tableExists(tbl) and not _same_location(
        _table_location(spark, tbl), comp["path"]
    ):
        spark.sql(f"DROP TABLE {tbl}")  # foreign/stale registration
    if not spark.catalog.tableExists(tbl):
        schema = spark.read.parquet(comp["path"]).schema
        ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        spark.sql(
            f"CREATE TABLE {tbl} ({ddl}) USING parquet "
            f"CLUSTERED BY (fp) SORTED BY (fp) INTO {b['n_buckets']} BUCKETS "
            f"LOCATION '{comp['path']}'"
        )
    return tbl


def _state_fp_frames(spark: SparkSession, out_dir: str, state: dict):
    """The committed-fingerprint state as a list of fp-column frames:
    the latest compacted generation as a BUCKETED table read, when the
    compaction wrote one (the anti-join then needs no exchange on the
    state side), then one multi-path frame of the other live dirs."""
    frames = []
    dirs = ticks.live_dirs(out_dir, state)
    comp = state.get("compaction")
    if comp and comp.get("bucketed"):
        frames.append(spark.table(_ensure_state_table(spark, comp)).select("fp"))
        dirs = dirs[1:]
    if dirs:
        frames.append(spark.read.parquet(*dirs).select("fp"))
    return frames


def dedup_tick(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict | None:
    """One incremental-dedup tick. Returns the run record, or None when
    the source has no new files."""

    def body(tick: int, new: list[str], state: dict) -> dict:
        docs = spark.read.parquet(*new).withColumn(
            "fp", text.fingerprint(text_col)
        )
        # within-tick: keep exactly ONE row per fingerprint — the min-id
        # row, positionally via keep_first (a (fp, min_id) semi-join would
        # pass BOTH copies of a record that re-landed twice in one tick
        # with the same id, breaking the no-duplicate-fp invariant). One
        # window shuffle on fp, no join.
        tick_docs = dedup.keep_first(docs, "fp", F.col(id_col).asc())
        # cross-tick: drop fingerprints any prior tick already emitted.
        # Chained anti-joins, one per state source group, NOT one anti
        # against their union: anti-join distributes over union, and
        # keeping the bucketed state generation as its own join input is
        # what lets Spark read it exchange-free (a union would erase the
        # bucketing).
        for prior_fps in _state_fp_frames(spark, out_dir, state):
            tick_docs = tick_docs.join(prior_fps, on="fp", how="left_anti")

        tick_docs, read = observe(tick_docs, n=F.count(F.lit(1)))
        tick_docs.write.mode("overwrite").parquet(ticks.tick_dir(out_dir, tick))
        return {"n_new_files": len(new), "n_emitted": read()["n"]}

    return ticks.run_tick(spark, source_path, out_dir, STATE_FILE, body)


def compact_ticks(
    spark: SparkSession,
    out_dir: str,
    n_files: int = 8,
    bucketed: bool = False,
    table_prefix: str = "bmspark_dedup_state",
) -> dict | None:
    """Fold the committed corpus into ONE fp-clustered state generation
    (``ticks.compact``): without it, 10^4 ticks means a 10^4-path scan
    on the anti-join's right side every tick.

    ``bucketed=True`` writes the generation as a BUCKETED-BY-fp external
    table (``bucketBy(n_files, "fp").sortBy("fp").saveAsTable``) instead
    of a bare directory: every subsequent tick's anti-join then reads
    the state side with NO exchange and NO sort (Spark shuffles only the
    small new-docs side to the bucket count — plan-asserted in
    tests/test_incremental_dedup.py). Bucket metadata lives in the
    session catalog, not the files, so reads re-register the table from
    the manifest (``_ensure_state_table``; one table per generation —
    a stale registration can never alias a superseded directory)."""

    def save_bucketed(folded: DataFrame, path: str, gen: int) -> dict:
        # name scoped to THIS pipeline's out_dir: two pipelines sharing
        # a catalog must never collide on state tables (ADVICE r04).
        tbl = f"{table_prefix}_{_state_scope(out_dir)}_gen{gen:04d}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # crashed-fold leftover
        (
            folded.write.mode("overwrite")
            .bucketBy(n_files, "fp")
            .sortBy("fp")
            .option("path", path)
            .saveAsTable(tbl)
        )
        return {"bucketed": {"table": tbl, "n_buckets": n_files}}

    return ticks.compact(
        spark, out_dir, STATE_FILE, "fp", "state", n_files,
        save=save_bucketed if bucketed else None,
    )


def read_corpus(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The emitted corpus: union of all committed non-empty ticks, read
    as ONE multi-path parquet scan — not an N-deep unionByName chain
    (at 10^4 ticks a Python-loop union is a plan-size / analysis-time
    problem; a multi-path scan is one relation with many files)."""
    dirs = ticks.live_dirs(out_dir, ticks.read_state(out_dir, STATE_FILE))
    return spark.read.parquet(*dirs) if dirs else None


# ---------------------------------------------------------------------------
# incremental SPAN dedup — grow a span-deduplicated corpus exactly-once
# ---------------------------------------------------------------------------
#
# The cross-tick twin of functions/curation.dedup_spans (Lee et al. 2022
# fixed-granularity substring dedup): a standing job where each tick's
# new documents are stripped of every span ANY prior tick already
# emitted, then of within-tick repeats (first (doc_id, span_idx) wins),
# rebuilt from their surviving spans, and committed exactly-once. The
# contract mirrors the doc-level pipeline above: after any tick
# sequence, the concatenation of tick outputs contains every distinct
# span exactly once, at its arrival-order first occurrence
# ((tick, doc_id, span_idx) lexicographic — the streaming semantics; a
# batch recompute over the union can differ when a later tick carries a
# smaller doc_id).
#
# State = the md5 hashes of every emitted span (128-bit: at 10^12 spans
# a 64-bit hash would produce ~10^4 birthday collisions, each silently
# deleting a legitimate span; md5 makes that ~10^-14). Each tick writes
# its surviving hashes to ``spans/<n>``; the anti-join reads the latest
# compacted generation + the span dirs since as ONE multi-path
# column-pruned scan, and ``compact_span_state`` folds them into an
# h-clustered generation exactly like the fp pipeline.


def span_dedup_tick(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    span_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict | None:
    """One incremental span-dedup tick (plans/ticks.py). Emits rebuilt
    docs to ``out/ticks/<n>`` (doc_id, text, n_spans, n_kept — fully
    deduplicated docs are dropped) and the tick's surviving span hashes
    to ``out/spans/<n>``. Returns the run record, or None when the
    source has no new files.

    Scale: within-tick dedup is ONE partial-agg shuffle on the uniform
    128-bit span hash (``curation.first_occurrence``: hot boilerplate
    spans collapse to one row per map task before the exchange);
    cross-tick is one anti-join whose right side is a single-column
    multi-path scan of prior hashes (compact to bound the path count);
    the rebuild is one doc-keyed shuffle (``curation.rebuild``)."""

    def body(tick: int, new: list[str], state: dict) -> dict:
        docs = spark.read.parquet(*new)
        toks = docs.select(
            F.col(id_col).alias("doc_id"), text.tokens(text_col).alias("toks")
        )
        spans = curation.span_rows(toks, span_tokens).withColumn("h", F.md5("span"))

        # within-tick: first (doc_id, span_idx) occurrence of each span wins
        tick_spans = curation.first_occurrence(spans, "h", "doc_id", "span_idx", "span")
        # cross-tick: drop spans any prior tick emitted (column-pruned scan)
        prior = ticks.live_dirs(out_dir, state, "spans", "n_spans_kept")
        if prior:
            prior_h = spark.read.parquet(*prior).select("h")
            tick_spans = tick_spans.join(prior_h, on="h", how="left_anti")

        # rebuild docs from surviving spans, in span order; drop emptied docs
        rebuilt = curation.rebuild(tick_spans, "span_idx", "span")
        totals = toks.select("doc_id", curation.span_count(span_tokens).alias("n_spans"))
        # the run record's counts ride on the two writes (observe).
        # Left join, so the observed frame holds every input doc; the
        # filter then keeps the docs with a surviving span (n_kept >= 1),
        # which is the inner join
        out_docs, read_docs = observe(
            totals.join(rebuilt, on="doc_id", how="left"),
            n_docs_in=F.count(F.lit(1)), n_emitted=F.count("n_kept"),
        )
        out_spans, read_spans = observe(tick_spans.select("h"), n_spans_kept=F.count(F.lit(1)))

        tick_dir = ticks.tick_dir(out_dir, tick)
        span_dir = ticks.tick_dir(out_dir, tick, "spans")
        out_docs.filter(F.col("n_kept").isNotNull()).select(
            "doc_id", "text", "n_spans", "n_kept"
        ).write.mode("overwrite").parquet(tick_dir)
        out_spans.write.mode("overwrite").parquet(span_dir)
        return {**read_docs(), **read_spans(), "paths": [tick_dir, span_dir]}

    return ticks.run_tick(spark, source_path, out_dir, SPAN_STATE_FILE, body)


def compact_span_state(
    spark: SparkSession, out_dir: str, n_files: int = 8
) -> dict | None:
    """Fold the span-hash state into ONE h-clustered generation
    (``ticks.compact``), as compact_ticks does for fingerprints."""
    return ticks.compact(
        spark, out_dir, SPAN_STATE_FILE, "h", "span_state", n_files,
        sub="spans", rows="n_spans_kept",
    )


def read_span_corpus(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The emitted span-deduplicated corpus: one multi-path scan of the
    non-empty tick outputs."""
    state = ticks.read_state(out_dir, SPAN_STATE_FILE)
    # the span fold compacts hashes, not docs: every tick dir stays live
    dirs = ticks.live_dirs(out_dir, {"runs": state["runs"]})
    return spark.read.parquet(*dirs) if dirs else None
