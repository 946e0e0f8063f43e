"""Incremental cross-tick exact dedup (plans/incremental_dedup.py):
first-seen-wins invariant vs a pure-Python reference, idempotent crashed
-tick retry, no-op idle tick, and column-pruned state reads."""

from __future__ import annotations

import hashlib
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from bmspark.plans import incremental_dedup as idp
from bmspark.plans import lineage
from bmspark.plans import ticks


def _ref_fp(t: str) -> str:
    """Pure-Python twin of functions/text.fingerprint."""
    return hashlib.md5(re.sub(r"\s+", " ", t.strip()).lower().encode()).hexdigest()


@pytest.fixture()
def staged(spark, tmp_path):
    """Three source batches with planted cross-batch duplicates:
    batch 1: docs 0-99 (unique texts t0..t99)
    batch 2: docs 100-149 fresh (t100..t149) + docs 150-199 DUPS of t0..t49
    batch 3: docs 200-219 fresh + docs 220-239 dups of t100..t119
             + doc 240 an intra-tick dup pair (240, 241 same text)
    """
    def t(i):
        return f"document body {i} with shared words " + " ".join(
            f"w{j}" for j in range(i % 7)
        )

    b1 = [(i, t(i)) for i in range(100)]
    b2 = [(100 + i, t(100 + i)) for i in range(50)]
    b2 += [(150 + i, t(i)) for i in range(50)]
    b3 = [(200 + i, t(200 + i)) for i in range(20)]
    b3 += [(220 + i, t(100 + i)) for i in range(20)]
    b3 += [(240, t(900)), (241, t(900))]

    src = str(tmp_path / "src")
    batches = []
    for n, rows in enumerate([b1, b2, b3]):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        staging = str(tmp_path / f"staging{n}")
        df.coalesce(1).write.parquet(staging)
        batches.append(staging)
    return src, batches, [b1, b2, b3]


def _arrive(src, staging):
    import glob
    import os

    os.makedirs(src, exist_ok=True)
    for f in glob.glob(f"{staging}/*.parquet"):
        shutil.copy(f, src)


def test_incremental_dedup_first_seen_wins(spark, staged, tmp_path):
    src, batches, rows = staged
    out = str(tmp_path / "out")

    emitted_per_tick = []
    all_rows = []
    for staging, batch_rows in zip(batches, rows):
        _arrive(src, staging)
        run = idp.dedup_tick(spark, src, out)
        emitted_per_tick.append(run["n_emitted"])
        all_rows.extend(batch_rows)

        # invariant after EVERY tick: corpus == first-seen-wins reference
        ref = {}
        for i, t in all_rows:  # rows arrive in tick order, min id within
            ref.setdefault(_ref_fp(t), i)
        got = {r.doc_id for r in
               idp.read_corpus(spark, out).select("doc_id").collect()}
        assert got == set(ref.values())

    assert emitted_per_tick == [100, 50, 21]  # dups never re-emitted
    corpus = idp.read_corpus(spark, out)
    # no duplicate fingerprint anywhere in the emitted corpus
    assert corpus.groupBy("fp").count().filter(F.col("count") > 1).isEmpty()

    # idle tick: nothing new → None, corpus unchanged
    assert idp.dedup_tick(spark, src, out) is None


def test_incremental_dedup_crashed_tick_retry_is_idempotent(spark, staged, tmp_path):
    """A crash AFTER the tick output write but BEFORE the state commit
    must not duplicate rows: the retry rewrites the same tick dir."""
    src, batches, rows = staged
    out = str(tmp_path / "out2")
    _arrive(src, batches[0])
    idp.dedup_tick(spark, src, out)

    _arrive(src, batches[1])
    state_before = ticks.read_state(out, idp.STATE_FILE)
    idp.dedup_tick(spark, src, out)
    # simulate the crash: roll the state file back (output stays on disk)
    lineage.write_atomic(os.path.join(out, idp.STATE_FILE), state_before)

    run = idp.dedup_tick(spark, src, out)  # the retry
    assert run["tick"] == 1 and run["n_emitted"] == 50
    got = {r.doc_id for r in
           idp.read_corpus(spark, out).select("doc_id").collect()}
    assert got == set(range(150))  # 0-99 + 100-149; dups 150-199 dropped


def test_one_tick_state_per_out_dir(spark, staged, tmp_path):
    """Every tick kind writes ``ticks/<n>``, so a span tick on a doc
    tick's out_dir would overwrite the doc corpus: it must raise before
    any Spark job and leave the doc ticks readable."""
    src, batches, _ = staged
    out = str(tmp_path / "shared")
    _arrive(src, batches[0])
    idp.dedup_tick(spark, src, out)
    _arrive(src, batches[1])

    sc = spark.sparkContext
    sc.setJobGroup("shared_out_dir", "one tick state per out_dir probe")
    try:
        with pytest.raises(ValueError, match="_dedup_state.json"):
            idp.span_dedup_tick(spark, src, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("shared_out_dir")) == []
    corpus = idp.read_corpus(spark, out)
    assert corpus.columns == ["doc_id", "text", "fp"]
    assert corpus.count() == 100


def test_incremental_dedup_state_read_is_column_pruned(spark, staged, tmp_path):
    """The cross-tick anti-join must read ONLY the fp column of prior
    outputs (ReadSchema pruned) — the state stays cheap at 10^12 docs."""
    src, batches, _ = staged
    out = str(tmp_path / "out3")
    _arrive(src, batches[0])
    idp.dedup_tick(spark, src, out)
    _arrive(src, batches[1])

    # rebuild the tick-2 plan by hand to inspect it before execution
    state = ticks.read_state(out, idp.STATE_FILE)
    prior = spark.read.parquet(*ticks.live_dirs(out, state)).select("fp")
    new_files = ticks.new_files(spark, src, state)
    from bmspark.functions import text

    docs = spark.read.parquet(*new_files).withColumn("fp", text.fingerprint("text"))
    plan = (
        docs.join(prior, on="fp", how="left_anti")
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re as _re

    scans = _re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(s == "fp:string" for s in scans), scans


def test_same_record_relanded_twice_in_one_tick_emits_once(spark, tmp_path):
    """Two files in ONE tick carrying the identical record (same doc_id,
    same text → same fp): exactly one row may be emitted. The old
    (fp, min_id) semi-join passed both copies; the positional row_number
    dedup must not."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    rows = [(7, "the same exact record"), (8, "another doc")]
    for n in range(2):  # same rows land as two distinct files
        df = spark.createDataFrame(rows, "doc_id long, text string")
        staging = str(tmp_path / f"stg{n}")
        df.coalesce(1).write.parquet(staging)
        _arrive(src, staging)
    run = idp.dedup_tick(spark, src, out)
    assert run["n_emitted"] == 2  # one per distinct fp, not 4
    corpus = idp.read_corpus(spark, out)
    assert corpus.count() == 2
    assert corpus.select("fp").distinct().count() == 2


def test_many_ticks_with_compaction_state_read_stays_bounded(spark, tmp_path):
    """50 ticks with planted cross-tick duplicates, compacted twice along
    the way: (a) the emitted corpus stays exactly first-seen-wins, (b)
    after compaction the anti-join's state read is ONE generation dir +
    only the ticks since (bounded paths, not one per historical tick),
    (c) read_corpus is a single multi-path scan — no Union in the plan."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    seen_texts = {}
    for tick in range(50):
        # 4 docs per tick: 3 fresh + 1 dup of an earlier tick's text
        rows = [(tick * 10 + j, f"tick {tick} doc {j} body") for j in range(3)]
        dup_of = max(0, tick - 7)
        rows.append((tick * 10 + 9, f"tick {dup_of} doc 0 body"))
        for i, t in rows:
            seen_texts.setdefault(_ref_fp(t), (i, t))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        staging = str(tmp_path / f"s{tick}")
        df.coalesce(1).write.parquet(staging)
        _arrive(src, staging)
        run = idp.dedup_tick(spark, src, out)
        assert run is not None
        if tick in (20, 40):
            rec = idp.compact_ticks(spark, out, n_files=4)
            assert rec is not None and rec["through_tick"] == tick

    state = ticks.read_state(out, idp.STATE_FILE)
    dirs = ticks.live_dirs(out, state)
    # one gen dir + ticks 41..49 only
    assert len(dirs) == 1 + 9, dirs
    assert "state/gen0001" in dirs[0]

    corpus = idp.read_corpus(spark, out)
    got = {r.fp: r.doc_id for r in corpus.select("fp", "doc_id").collect()}
    want = {fp: i for fp, (i, _t) in seen_texts.items()}
    assert got == want  # first-seen-wins, exactly, across compactions

    plan = corpus._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, plan

    # folding the 9 post-gen ticks is legitimate; after that, a further
    # compact with nothing new is a no-op
    rec = idp.compact_ticks(spark, out, n_files=4)
    assert rec is not None and rec["through_tick"] == 49
    assert idp.compact_ticks(spark, out) is None
    # and the read path is now exactly one generation dir
    assert ticks.live_dirs(out, ticks.read_state(out, idp.STATE_FILE)) == [rec["path"]]
    got2 = {r.fp: r.doc_id for r in
            idp.read_corpus(spark, out).select("fp", "doc_id").collect()}
    assert got2 == want


def test_bucketed_state_compaction_exchange_free_anti_join(spark, tmp_path):
    """bucketed=True compaction: the state generation is a bucketed-by-fp
    catalog table, the next tick's anti-join reads it with NO exchange
    and NO sort on the state side (only the new-docs side shuffles to
    the bucket count), a fresh catalog re-registers from the manifest,
    and dedup semantics stay exactly first-seen-wins."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")

    def land(tick, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        staging = str(tmp_path / f"s{tick}")
        df.coalesce(1).write.parquet(staging)
        _arrive(src, staging)

    land(0, [(i, f"doc body {i}") for i in range(30)])
    assert idp.dedup_tick(spark, src, out)["n_emitted"] == 30
    rec = idp.compact_ticks(spark, out, n_files=4, bucketed=True)
    assert rec and rec["bucketed"]["n_buckets"] == 4
    tbl = rec["bucketed"]["table"]

    # catalog loss (fresh session analog): drop, then the read path must
    # re-register the bucketed table from the manifest alone
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    state = ticks.read_state(out, idp.STATE_FILE)
    frames = idp._state_fp_frames(spark, out, state)
    assert len(frames) == 1 and spark.catalog.tableExists(tbl)

    # plan: anti-join against the bucketed state — the state side scan
    # is bucketed, and the ONLY Exchange in the whole plan is the
    # new-docs side shuffling to the bucket count
    from bmspark.functions import text

    new_docs = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc body "), F.col("id")).alias("text"),
    ).withColumn("fp", text.fingerprint("text"))
    # at this fixture size the planner would (correctly) broadcast the
    # state; disable broadcast to surface the at-scale plan — a
    # sort-merge join that reads the state bucketed
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            new_docs.join(frames[0], on="fp", how="left_anti")
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan, plan
    # the ONLY exchange is the new-docs side shuffling to the bucket
    # count; the state side has neither Exchange nor Sort (SORTED BY
    # metadata satisfies the merge-join ordering)
    assert plan.count("Exchange") == 1, plan
    state_branch = plan.split("+- Sort")[-1] if "+- Sort" in plan else plan
    assert "Bucketed: true" in state_branch, plan

    # semantics: a tick with 10 dups of tick-0 docs + 5 fresh emits 5
    land(1, [(100 + i, f"doc body {i}") for i in range(10)]
            + [(200 + i, f"fresh {i}") for i in range(5)])
    assert idp.dedup_tick(spark, src, out)["n_emitted"] == 5
    corpus = idp.read_corpus(spark, out)
    assert corpus.count() == 35
    assert corpus.select("fp").distinct().count() == 35


def test_state_tables_are_scoped_per_pipeline(spark, tmp_path):
    """Two dedup pipelines sharing ONE catalog must never collide on
    state table names (a collision silently anti-joins against the
    WRONG pipeline's fingerprints): names embed a hash of out_dir, and
    even on a name hit _ensure_state_table verifies the registered
    LOCATION against the manifest and re-registers on mismatch."""
    def land(src_root, tick, rows, tag):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        staging = str(tmp_path / f"stage_{tag}_{tick}")
        df.coalesce(1).write.parquet(staging)
        _arrive(src_root, staging)

    out_a = str(tmp_path / "pipe_a" / "out")
    out_b = str(tmp_path / "pipe_b" / "out")
    src_a = str(tmp_path / "pipe_a" / "src")
    src_b = str(tmp_path / "pipe_b" / "src")

    land(src_a, 0, [(i, f"corpus A doc {i}") for i in range(10)], "a")
    land(src_b, 0, [(i, f"corpus B doc {i}") for i in range(10)], "b")
    assert idp.dedup_tick(spark, src_a, out_a)["n_emitted"] == 10
    assert idp.dedup_tick(spark, src_b, out_b)["n_emitted"] == 10

    rec_a = idp.compact_ticks(spark, out_a, n_files=2, bucketed=True)
    rec_b = idp.compact_ticks(spark, out_b, n_files=2, bucketed=True)
    tbl_a, tbl_b = rec_a["bucketed"]["table"], rec_b["bucketed"]["table"]
    # same gen number, same prefix — names still differ (out_dir scope)
    assert tbl_a != tbl_b
    assert tbl_a.endswith("_gen0000") and tbl_b.endswith("_gen0000")

    # each pipeline's state frame reads ITS OWN fingerprints
    fa = idp._state_fp_frames(spark, out_a, ticks.read_state(out_a, idp.STATE_FILE))[0]
    fb = idp._state_fp_frames(spark, out_b, ticks.read_state(out_b, idp.STATE_FILE))[0]
    assert fa.count() == 10 and fb.count() == 10
    assert {r.fp for r in fa.collect()}.isdisjoint({r.fp for r in fb.collect()})

    # defense in depth: a FOREIGN registration under B's name (pointing
    # at A's data) must be detected by the LOCATION check and replaced
    spark.sql(f"DROP TABLE {tbl_b}")
    spark.sql(
        f"CREATE TABLE {tbl_b} (fp string) USING parquet "
        f"LOCATION '{rec_a['path']}'"
    )
    resolved = idp._ensure_state_table(spark, ticks.read_state(out_b, idp.STATE_FILE)["compaction"])
    assert resolved == tbl_b
    loc = idp._table_location(spark, tbl_b)
    assert idp._same_location(loc, rec_b["path"]), loc

    # cross-tick dedup still exact per pipeline after the repair: a
    # tick re-landing A-texts into pipeline B emits them (B never saw
    # them), while re-landing into A emits nothing
    land(src_a, 1, [(100 + i, f"corpus A doc {i}") for i in range(10)], "a")
    land(src_b, 1, [(100 + i, f"corpus A doc {i}") for i in range(10)], "b")
    assert idp.dedup_tick(spark, src_a, out_a)["n_emitted"] == 0
    assert idp.dedup_tick(spark, src_b, out_b)["n_emitted"] == 10


def test_span_tick_counts_come_from_its_writes(spark, tmp_path, monkeypatch):
    """The span tick's run record counts ride on its two writes as
    Observations: no DataFrame.count runs inside the tick, and the
    counts equal what the outputs hold when read back — on a tick with
    new spans, on one whose every span is a repeat (no doc emitted) and
    with an empty doc in the input."""
    import glob

    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")

    def land(tick, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        staging = str(tmp_path / f"cnt{tick}")
        df.coalesce(1).write.parquet(staging)
        _arrive(src, staging)

    def rows_in(path):
        return sum(pq.ParquetFile(f).metadata.num_rows
                   for f in glob.glob(f"{path}/*.parquet"))

    def no_count(self):
        raise AssertionError("DataFrame.count ran inside a span tick")

    ticks_in = [
        [(0, "a b c d e f g h"), (1, "a b c d x y z w"), (2, "")],
        [(10, "a b c d e f g h"), (11, "x y z w")],  # every span repeats
    ]
    for tick, rows in enumerate(ticks_in):
        land(tick, rows)
        with monkeypatch.context() as m:
            # the session's concrete DataFrame class, which overrides count
            m.setattr(type(spark.range(1)), "count", no_count)
            run = idp.span_dedup_tick(spark, src, out, span_tokens=4)
        assert run["tick"] == tick
        assert run["n_docs_in"] == len(rows)
        assert run["n_emitted"] == rows_in(ticks.tick_dir(out, tick))
        assert run["n_spans_kept"] == rows_in(ticks.tick_dir(out, tick, "spans"))
    assert run["n_emitted"] == 0 and run["n_spans_kept"] == 0


def test_incremental_span_dedup_matches_batch_and_compacts(spark, tmp_path):
    """Cross-tick SPAN dedup: with doc_ids increasing across ticks
    (arrival order == id order) the concatenated tick outputs must
    equal BATCH dedup_spans over the union of all inputs (empty-doc
    drops included); a planted cross-tick duplicate span is stripped at
    its second appearance; compaction bounds the state read; a crashed
    tick's retry is idempotent."""
    from bmspark.functions import curation

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    span = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"  # one exact 10-token span

    def land(tick, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        staging = str(tmp_path / f"sp{tick}")
        df.coalesce(1).write.parquet(staging)
        _arrive(src, staging)

    all_rows = []
    for tick in range(6):
        rows = [
            (tick * 10 + j,
             f"t{tick} d{j} w1 w2 w3 w4 w5 w6 w7 w8 unique{tick}{j}")
            for j in range(3)
        ]
        # doc +9 = the planted span + a fresh tail in ticks 0,2,4; in
        # tick 0 the span survives, later appearances are stripped
        if tick % 2 == 0:
            rows.append((tick * 10 + 9, span + f" tail{tick} x y z"))
        # edge cases: NULL and whitespace-only text (no token, so no
        # span: never emitted), docs shorter than one span, a doc
        # repeating its own span
        if tick == 1:
            rows += [(14, None), (15, "    "), (16, "short doc"),
                     (17, "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 " * 2 + "end"),
                     (18, None), (19, "  \t "), (13, "a b")]
        all_rows += rows
        land(tick, rows)
        run = idp.span_dedup_tick(spark, src, out, span_tokens=10)
        assert run is not None and run["n_emitted"] > 0
        if tick == 3:
            rec = idp.compact_span_state(spark, out, n_files=2)
            assert rec is not None and rec["through_tick"] == 3

    # state read after compaction: one gen dir + span dirs 4..5 only
    state = ticks.read_state(out, idp.SPAN_STATE_FILE)
    dirs = ticks.live_dirs(out, state, "spans", "n_spans_kept")
    assert len(dirs) == 1 + 2, dirs
    assert "span_state/gen0000" in dirs[0]

    got = {
        r.doc_id: (r.text, r.n_spans, r.n_kept)
        for r in idp.read_span_corpus(spark, out).collect()
    }
    batch = {
        r.doc_id: (r.text_deduped, r.n_spans, r.n_kept)
        for r in curation.dedup_spans(
            spark.createDataFrame(all_rows, "doc_id long, text string"), 10
        ).filter(F.col("n_kept") > 0).collect()
    }
    assert got == batch
    assert not {14, 15, 18, 19} & set(got) and got[13] == ("a b", 1, 1)
    # the planted span survives exactly once, in its tick-0 doc
    carriers = [i for i, (t, _n, _k) in got.items() if span in t]
    assert carriers == [9]

    # crash-retry: rewind the manifest past the last run and re-tick —
    # identical output directory contents (exactly-once)
    state = ticks.read_state(out, idp.SPAN_STATE_FILE)
    last = state["runs"].pop()
    # each land() stages ONE coalesced part file, so the last tick
    # contributed exactly one processed file
    state["processed_files"] = state["processed_files"][:-1]
    lineage.write_atomic(os.path.join(out, idp.SPAN_STATE_FILE), state)
    rerun = idp.span_dedup_tick(spark, src, out, span_tokens=10)
    assert rerun is not None and rerun["tick"] == last["tick"]
    assert rerun["n_emitted"] == last["n_emitted"]
    assert rerun["n_spans_kept"] == last["n_spans_kept"]
    got2 = {
        r.doc_id: (r.text, r.n_spans, r.n_kept)
        for r in idp.read_span_corpus(spark, out).collect()
    }
    assert got2 == got
