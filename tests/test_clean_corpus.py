"""End-to-end training-corpus cleaning funnel (jobs/clean_corpus.py):
stage counts monotone, every contract enforced on the survivors, and the
whole run byte-deterministic across reruns."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobs.clean_corpus import clean_corpus
from tests.conftest import SF_DIR


def test_clean_corpus_funnel_contracts(spark, tmp_path):
    out = str(tmp_path / "clean")
    counts, _ = clean_corpus(
        spark,
        f"{SF_DIR}/documents.parquet",
        out,
        min_quality=0.3,
        lang_fractions={"en": 0.6, "fr": 0.5},
        default_fraction=0.4,
    )
    # funnel is monotone non-increasing and every stage is recorded
    order = ["input", "after_quality", "after_exact_dedup",
             "after_neardup_dedup", "output"]
    assert list(counts) == order
    for a, b in zip(order, order[1:]):
        assert counts[a] >= counts[b], (a, b, counts)
    assert counts["output"] > 0

    # frozen golden funnel for sf0.01 documents (everything upstream is
    # deterministic; regenerate only with a testdata version change)
    if SF_DIR.endswith("sf0.01"):
        assert counts == {
            "input": 500, "after_quality": 500, "after_exact_dedup": 500,
            "after_neardup_dedup": 476, "output": 232,
        }

    cleaned = spark.read.parquet(out)
    assert cleaned.count() == counts["output"]

    from bmspark.functions import dedup, text

    # contract 1: quality floor holds
    assert cleaned.filter(text.quality_score("text") < 0.3).isEmpty()
    # contract 2: no two survivors share a content fingerprint
    dup_fp = (
        cleaned.select(text.fingerprint("text").alias("fp"))
        .groupBy("fp").count().filter(F.col("count") > 1)
    )
    assert dup_fp.isEmpty()
    # contract 3: no surviving winnow near-dup pair (cluster roots only)
    assert dedup.winnow_neardup_pairs(cleaned, "text", "doc_id", 3).isEmpty()


def test_clean_corpus_minhash_path(spark, tmp_path):
    """--neardup-method minhash runs the banded-LSH candidate generator
    through the same clustering step: funnel monotone, deterministic
    (seed-fixed hash family), and no surviving pair with estimated
    Jaccard >= threshold."""
    out = str(tmp_path / "clean_mh")
    counts, _ = clean_corpus(
        spark,
        f"{SF_DIR}/documents.parquet",
        out,
        min_quality=0.3,
        neardup_method="minhash",
        minhash_threshold=0.7,
    )
    order = ["input", "after_quality", "after_exact_dedup",
             "after_neardup_dedup", "output"]
    assert list(counts) == order
    for a, b in zip(order, order[1:]):
        assert counts[a] >= counts[b], (a, b, counts)

    # frozen golden funnel for sf0.01 (seed-fixed minhash → deterministic)
    if SF_DIR.endswith("sf0.01"):
        assert counts == GOLDEN_MINHASH_FUNNEL, counts

    from bmspark.functions import dedup

    cleaned = spark.read.parquet(out)
    assert dedup.minhash_lsh_pairs(cleaned, "text", "doc_id", 0.7).isEmpty()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="neardup_method"):
        clean_corpus(spark, f"{SF_DIR}/documents.parquet", out,
                     neardup_method="bogus")


GOLDEN_MINHASH_FUNNEL = {
    "input": 500, "after_quality": 500, "after_exact_dedup": 500,
    "after_neardup_dedup": 476, "output": 476,
}


def test_clean_corpus_full_options_funnel(spark, tmp_path):
    """Round-3 curation stages wired into the CLI: repetition ceiling,
    per-source cap, and PII scrub — funnel stays monotone, the optional
    stage counts appear in order, caps hold on the survivors, and the
    scrub leaves no raw email in the output."""
    from pyspark.sql import functions as F

    from bmspark.functions import curation

    out = str(tmp_path / "clean_full")
    counts, _ = clean_corpus(
        spark,
        f"{SF_DIR}/documents.parquet",
        out,
        min_quality=0.3,
        max_top_bigram_frac=0.05,
        gopher=True,
        cap_per_source=20,
        scrub=True,
    )
    order = ["input", "after_quality", "after_repetition", "after_gopher",
             "after_exact_dedup", "after_neardup_dedup",
             "after_source_cap", "output"]
    assert list(counts) == order
    for a, b in zip(order, order[1:]):
        assert counts[a] >= counts[b], (a, b, counts)
    assert counts["output"] > 0

    cleaned = spark.read.parquet(out)
    per_src = cleaned.groupBy("source").count().collect()
    assert all(r["count"] <= 20 for r in per_src)
    # survivors respect the repetition ceiling
    bad = curation.repetition_metrics(cleaned, "text", "doc_id").filter(
        F.col("top_bigram_frac") > 0.05
    )
    assert bad.isEmpty()


def test_clean_corpus_decontaminate_stage(spark, tmp_path):
    """--benchmark drops exactly the training docs that leak benchmark
    n-grams: a benchmark built from two corpus docs' texts removes those
    docs (and any true 5-gram overlaps) from the output."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench_src = docs.filter("doc_id IN (3, 7)").selectExpr(
        "doc_id + 90000 AS doc_id", "text"
    )
    bench_path = str(tmp_path / "benchmark")
    bench_src.write.parquet(bench_path)

    out = str(tmp_path / "clean_decon")
    counts, _ = clean_corpus(
        spark,
        f"{SF_DIR}/documents.parquet",
        out,
        min_quality=0.0,
        benchmark_path=bench_path,
    )
    assert "after_decontaminate" in counts
    assert counts["after_decontaminate"] < counts["after_neardup_dedup"]
    survivors = {r.doc_id for r in
                 spark.read.parquet(out).select("doc_id").collect()}
    assert 3 not in survivors and 7 not in survivors


def test_clean_corpus_is_deterministic(spark, tmp_path):
    """Rerunning the whole funnel yields the identical doc_id set — the
    property RNG-based sampling cannot give (and the reason hash sampling
    is the scale-correct design)."""
    a_out = str(tmp_path / "a")
    b_out = str(tmp_path / "b")
    kwargs = dict(
        min_quality=0.35,
        lang_fractions={"en": 0.5},
        default_fraction=0.2,
    )
    clean_corpus(spark, f"{SF_DIR}/documents.parquet", a_out, **kwargs)
    clean_corpus(spark, f"{SF_DIR}/documents.parquet", b_out, **kwargs)
    a = {r.doc_id for r in spark.read.parquet(a_out).select("doc_id").collect()}
    b = {r.doc_id for r in spark.read.parquet(b_out).select("doc_id").collect()}
    assert a == b and a


def test_dedup_keep_best_quality_prefers_the_better_copy(spark, tmp_path):
    """--dedup-keep best-quality: of two content-identical docs the one
    with the higher quality score survives (min-id keeps the other);
    funnel totals are identical between the two modes."""
    from pyspark.sql import functions as F

    from bmspark.functions import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # plant a content-identical twin of doc 5 under a new id: same
    # normalized fingerprint AND same quality score, so best-quality
    # mode must fall back to the min-id tie-break — fully deterministic
    base = docs.filter("doc_id = 5").select("text").collect()[0].text
    extra = spark.createDataFrame(
        [(990001, base, "en", "srcX", len(base))],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    src = str(tmp_path / "src")
    docs.unionByName(extra).write.parquet(src)

    out_min = str(tmp_path / "min")
    out_best = str(tmp_path / "best")
    c1, _ = clean_corpus(spark, src, out_min, min_quality=0.0)
    c2, _ = clean_corpus(spark, src, out_best, min_quality=0.0,
                         dedup_keep="best-quality")
    assert c1["after_exact_dedup"] == c2["after_exact_dedup"]

    min_ids = {r.doc_id for r in spark.read.parquet(out_min).collect()}
    best_ids = {r.doc_id for r in spark.read.parquet(out_best).collect()}
    # min-id mode keeps doc 5, never the planted 990001
    assert 5 in min_ids and 990001 not in min_ids
    # best mode keeps exactly one of the pair, chosen by (quality, id)
    assert (5 in best_ids) ^ (990001 in best_ids)
    # same content quality (identical text) → tie-break keeps min id too
    assert 5 in best_ids



def test_ccnet_keep_rates_stage(spark, tmp_path):
    """--ccnet-keep: rate 1.0 everywhere is a no-op; head-only keeps
    about a third of the deduped corpus and is a subset of the all-keep
    output; the funnel records the stage in order."""
    all_out = str(tmp_path / "ccnet_all")
    c_all, _ = clean_corpus(
        spark, f"{SF_DIR}/documents.parquet", all_out,
        min_quality=0.0,
        ccnet_keep={"head": 1.0, "middle": 1.0, "tail": 1.0},
    )
    assert c_all["after_ccnet"] == c_all["after_neardup_dedup"]

    head_out = str(tmp_path / "ccnet_head")
    c_head, _ = clean_corpus(
        spark, f"{SF_DIR}/documents.parquet", head_out,
        min_quality=0.0,
        ccnet_keep={"head": 1.0, "middle": 0.0, "tail": 0.0},
    )
    n = c_all["after_ccnet"]
    assert abs(c_head["after_ccnet"] - n / 3) <= n * 0.05 + 2

    kept_all = {r.doc_id for r in spark.read.parquet(all_out).collect()}
    kept_head = {r.doc_id for r in spark.read.parquet(head_out).collect()}
    assert kept_head <= kept_all
    assert list(c_head).index("after_ccnet") ==         list(c_head).index("after_neardup_dedup") + 1


def test_span_dedup_stage(spark, tmp_path):
    """--span-dedup N: corpus-wide exact span dedup runs between exact
    dedup and near-dup clustering (Lee et al. 2022 order); the funnel
    records the stage, docs emptied of every span are dropped, and the
    surviving corpus carries NO duplicate span (verified by re-running
    the operator over the output: every doc keeps all its spans)."""
    from bmspark.functions import curation

    out = str(tmp_path / "spanclean")
    counts, _ = clean_corpus(
        spark,
        f"{SF_DIR}/documents.parquet",
        out,
        min_quality=0.3,
        lang_fractions={"en": 0.6, "fr": 0.5},
        default_fraction=0.4,
        span_dedup=10,
    )
    order = ["input", "after_quality", "after_exact_dedup",
             "spans_removed", "after_span_dedup", "after_neardup_dedup",
             "output"]
    assert list(counts) == order
    assert counts["after_span_dedup"] <= counts["after_exact_dedup"]
    assert counts["spans_removed"] >= 0
    if SF_DIR.endswith("sf0.01"):
        # frozen golden funnel (deterministic end to end): 151 spans
        # stripped, 4 docs fully deduplicated away, and near-dup
        # clustering drops FEWER docs than the span-free funnel (the
        # planted near-dups lose their shared spans to first
        # occurrences, so their remainders no longer pair)
        assert counts == {
            "input": 500, "after_quality": 500, "after_exact_dedup": 500,
            "spans_removed": 151, "after_span_dedup": 496,
            "after_neardup_dedup": 493, "output": 239,
        }

    cleaned = spark.read.parquet(out)
    assert cleaned.count() == counts["output"]
    # idempotence contract: a second span-dedup pass over the survivors
    # finds nothing to remove (no duplicate span survived)
    again = curation.dedup_spans(cleaned, 10)
    assert again.filter(F.col("n_kept") != F.col("n_spans")).isEmpty()
    # determinism: rerun yields the identical doc_id set
    out2 = str(tmp_path / "spanclean2")
    counts2, _ = clean_corpus(
        spark, f"{SF_DIR}/documents.parquet", out2, min_quality=0.3,
        lang_fractions={"en": 0.6, "fr": 0.5}, default_fraction=0.4,
        span_dedup=10,
    )
    assert counts2 == counts
    a = {r.doc_id for r in cleaned.select("doc_id").collect()}
    b = {r.doc_id for r in spark.read.parquet(out2).select("doc_id").collect()}
    assert a == b


def test_dsir_keep_stage(spark, tmp_path):
    """--dsir-keep 0.5 --dsir-target <pred>: keeps about half the
    deduped corpus — the most target-like half by DSIR importance
    weight — deterministically (rerun identical), as a subset of the
    no-dsir run; requires the target predicate."""
    base_out = str(tmp_path / "dsir_base")
    sel_out = str(tmp_path / "dsir_sel")
    kwargs = dict(min_quality=0.0)
    c0, _ = clean_corpus(spark, f"{SF_DIR}/documents.parquet", base_out, **kwargs)
    c1, _ = clean_corpus(
        spark, f"{SF_DIR}/documents.parquet", sel_out,
        dsir_keep=0.5, dsir_target="source IN ('src0', 'src1')", **kwargs,
    )
    assert "after_dsir" in c1 and "after_dsir" not in c0
    n_before = c1["after_neardup_dedup"]
    # percentile cutoff with >=: at least half, at most ~60% with ties
    assert 0.45 * n_before <= c1["after_dsir"] <= 0.65 * n_before
    base_ids = {r.doc_id for r in spark.read.parquet(base_out).collect()}
    sel_ids = {r.doc_id for r in spark.read.parquet(sel_out).collect()}
    assert sel_ids < base_ids
    # rerun → identical selection (deterministic hash features)
    sel2 = str(tmp_path / "dsir_sel2")
    c2, _ = clean_corpus(
        spark, f"{SF_DIR}/documents.parquet", sel2,
        dsir_keep=0.5, dsir_target="source IN ('src0', 'src1')", **kwargs,
    )
    assert c2 == c1
    import pytest as _pt
    with _pt.raises(ValueError, match="dsir-target"):
        clean_corpus(spark, f"{SF_DIR}/documents.parquet",
                     str(tmp_path / "x"), dsir_keep=0.5, **kwargs)


def test_dsir_stage_keeps_unscorable_short_docs(spark, tmp_path):
    """ADVICE r5: a doc with <2 tokens has no bigram feature, hence no
    DSIR weight row — it must be KEPT unconditionally (length policing
    belongs to the quality floor), not silently dropped by the
    weight join; and only scored docs compete for the percentile cutoff."""
    src = str(tmp_path / "docs_in")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    extra = spark.createDataFrame(
        [(999_999, "solo", "en", "src0", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.unionByName(extra).write.parquet(src)
    out = str(tmp_path / "dsir_short")
    counts, _ = clean_corpus(
        spark, src, out,
        min_quality=0.0,
        dsir_keep=0.5, dsir_target="source IN ('src0', 'src1')",
    )
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert 999_999 in kept
    # the scored population still honors the cutoff fraction
    n_scored = counts["after_neardup_dedup"] - 1
    assert 0.45 * n_scored <= counts["after_dsir"] - 1 <= 0.65 * n_scored


def test_gopher_rep_stage(spark, tmp_path):
    """--gopher-rep: a planted boilerplate doc (one 5-gram repeated)
    breaches the dup-5-gram ceiling and is dropped before dedup, while
    the organic corpus passes untouched; funnel records the stage in
    order. (The Table A1 top-n-gram defaults are tuned for natural
    prose — this fixture's ~40-word vocabulary makes organic top-2-gram
    mass exceed 0.20 for ~20% of docs, so the test pins the dup-5-gram
    rule, which cleanly separates repetition from small vocabulary.)"""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    spam = spark.createDataFrame(
        [(990001, ("alpha beta gamma delta epsilon " * 40).strip(),
          "en", "srcspam", 31 * 40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    src = str(tmp_path / "src")
    docs.unionByName(spam).write.parquet(src)

    out = str(tmp_path / "gr")
    counts, _ = clean_corpus(
        spark, src, out, min_quality=0.0, gopher_rep={"dup5gram_char_frac": 0.5},
    )
    assert list(counts)[:4] == [
        "input", "after_quality", "after_gopher_rep", "after_exact_dedup"
    ]
    assert counts["input"] == counts["after_quality"] == 501
    # exactly the planted boilerplate doc is dropped at this fixture's
    # thresholds (organic docs are word-soup with low n-gram repetition)
    assert counts["after_gopher_rep"] == 500
    ids = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert 990001 not in ids


def test_all_optional_stages_compose(spark, tmp_path):
    """Integration: every optional stage enabled at once — gopher-rep,
    span dedup, best-quality exact dedup, semantic dedup, CCNet
    keep-rates, DSIR selection, learned quality filter, per-source cap,
    decontamination, stratified sampling, PII scrub — runs end-to-end
    with a monotone funnel and the frozen golden counts at sf0.01 (each
    stage's semantics are pinned by its own test; this pins their
    COMPOSITION)."""
    import duckdb

    bench_path = str(tmp_path / "benchtbl.parquet")
    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{SF_DIR}/documents.parquet') "
        f"WHERE doc_id % 11 = 0) TO '{bench_path}' (FORMAT parquet)"
    )
    out = str(tmp_path / "full")
    counts, _ = clean_corpus(
        spark,
        f"{SF_DIR}/documents.parquet",
        out,
        min_quality=0.2,
        gopher_rep={"dup5gram_char_frac": 0.5},
        span_dedup=10,
        dedup_keep="best-quality",
        semantic_dedup_path=f"{SF_DIR}/embeddings.parquet",
        semantic_threshold=0.95,
        ccnet_keep={"head": 1.0, "middle": 0.7, "tail": 0.2},
        dsir_keep=0.8,
        dsir_target="source IN ('src0', 'src1')",
        quality_model_keep=0.9,
        quality_target="source IN ('src0', 'src1')",
        cap_per_source=40,
        benchmark_path=bench_path,
        lang_fractions={"en": 0.8, "fr": 0.6},
        default_fraction=0.5,
        scrub=True,
    )
    order = ["input", "after_quality", "after_gopher_rep",
             "after_exact_dedup", "spans_removed", "after_span_dedup",
             "after_neardup_dedup", "after_semantic_dedup", "after_ccnet",
             "after_dsir", "after_quality_model", "after_source_cap",
             "after_decontaminate", "output"]
    assert list(counts) == order
    stages = [k for k in order if k != "spans_removed"]
    for a, b in zip(stages, stages[1:]):
        assert counts[a] >= counts[b], (a, b, counts)
    if SF_DIR.endswith("sf0.01"):
        assert counts == {
            "input": 500, "after_quality": 500, "after_gopher_rep": 500,
            "after_exact_dedup": 500, "spans_removed": 151,
            "after_span_dedup": 496, "after_neardup_dedup": 493,
            "after_semantic_dedup": 493, "after_ccnet": 306,
            "after_dsir": 245, "after_quality_model": 220,
            "after_source_cap": 220, "after_decontaminate": 191,
            "output": 126,
        }
    assert spark.read.parquet(out).count() == counts["output"]


def test_semantic_dedup_stage_drops_planted_embedding_clones(spark, tmp_path):
    """--semantic-dedup: docs whose embeddings are near-identical to a
    lower-id surviving doc are dropped; docs without an embedding row
    and all distinct-embedding docs survive; rerun deterministic."""
    import numpy as np

    rng = np.random.RandomState(11)
    docs_rows, emb_rows = [], []
    base = rng.randn(30, 64)
    for i in range(30):
        docs_rows.append(
            (i, " ".join(f"d{i}w{j}" for j in range(30)), "en", "src0", 120)
        )
        v = base[i] / np.linalg.norm(base[i])
        emb_rows.append((i, [float(x) for x in v]))
    # ids 100/101: embedding clones of doc 3 (tiny perturbation) —
    # semantically restated docs with DIFFERENT text
    for j in range(2):
        docs_rows.append(
            (100 + j, " ".join(f"c{j}w{k}" for k in range(30)), "en", "src0", 120)
        )
        v = base[3] + rng.randn(64) * 0.01
        v = v / np.linalg.norm(v)
        emb_rows.append((100 + j, [float(x) for x in v]))
    # id 200: no embedding row at all — must pass through
    docs_rows.append((200, " ".join(f"n{k}" for k in range(30)), "en", "src0", 120))

    src = str(tmp_path / "docs")
    embp = str(tmp_path / "emb")
    spark.createDataFrame(
        docs_rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(src)
    spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<double>"
    ).write.parquet(embp)

    out = str(tmp_path / "clean")
    counts, _ = clean_corpus(
        spark, src, out,
        min_quality=0.0,
        semantic_dedup_path=embp, semantic_threshold=0.95,
    )
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert counts["after_semantic_dedup"] == counts["after_neardup_dedup"] - 2
    assert 100 not in kept and 101 not in kept  # clones dropped
    assert 3 in kept and 200 in kept            # representative + no-embedding doc
    assert kept == set(range(30)) | {200}


def test_quality_model_stage_keeps_target_like_docs(spark, tmp_path):
    """--quality-model-keep 0.5 --quality-target <pred>: trains the
    logistic filter target-vs-rest and keeps the most target-like half;
    with disjoint vocabularies the kept set is dominated by
    target-vocabulary docs; rerun identical (deterministic Adagrad)."""
    import random as _r

    rnd = _r.Random(17)
    gv = ["solid", "careful", "analysis", "of", "primary", "sources",
          "with", "clear", "methods", "and", "honest", "results"]
    sv = ["click", "win", "casino", "free", "pills", "now",
          "buy", "cheap", "offer", "prize", "jackpot", "bonus"]
    rows = []
    for i in range(80):
        vocab = gv if i % 2 == 0 else sv
        src_tag = "tgt" if i % 2 == 0 else "raw"
        words = [rnd.choice(vocab) for _ in range(rnd.randint(15, 30))]
        rows.append((i, " ".join(words), "en", src_tag, 120))
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(src)

    out1, out2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    kwargs = dict(
        min_quality=0.0,
        quality_model_keep=0.5, quality_target="source = 'tgt'",
    )
    c1, _ = clean_corpus(spark, src, out1, **kwargs)
    n = c1["after_neardup_dedup"]
    assert 0.45 * n <= c1["after_quality_model"] <= 0.65 * n
    kept = spark.read.parquet(out1)
    kinds = {r.source: r.c for r in kept.groupBy("source")
             .agg(F.count(F.lit(1)).alias("c")).collect()}
    # the kept half is overwhelmingly the target class
    assert kinds.get("tgt", 0) >= 0.9 * sum(kinds.values())
    c2, _ = clean_corpus(spark, src, out2, **kwargs)
    assert c2 == c1
    assert (
        {r.doc_id for r in spark.read.parquet(out2).select("doc_id").collect()}
        == {r.doc_id for r in kept.select("doc_id").collect()}
    )


def test_lm_keep_stage(spark, tmp_path):
    """--lm-keep 0.5 --lm-train <pred>: keeps about half the deduped
    corpus — the most train-like half by bigram-LM log probability —
    deterministically; requires the train predicate."""
    out = str(tmp_path / "lm_sel")
    kwargs = dict(min_quality=0.0)
    c1, _ = clean_corpus(
        spark, f"{SF_DIR}/documents.parquet", out,
        lm_keep=0.5, lm_train="source IN ('src0', 'src1')", **kwargs,
    )
    assert "after_lm" in c1
    n = c1["after_neardup_dedup"]
    assert 0.45 * n <= c1["after_lm"] <= 0.65 * n
    out2 = str(tmp_path / "lm_sel2")
    c2, _ = clean_corpus(
        spark, f"{SF_DIR}/documents.parquet", out2,
        lm_keep=0.5, lm_train="source IN ('src0', 'src1')", **kwargs,
    )
    assert c2 == c1
    import pytest as _pt
    with _pt.raises(ValueError, match="lm-train"):
        clean_corpus(spark, f"{SF_DIR}/documents.parquet",
                     str(tmp_path / "x"), lm_keep=0.5, **kwargs)


def _write_lined_corpus(spark, path: str):
    """Synthetic multi-line corpus for the C4 / paragraph stages (the
    sf fixture text is single-line): per-doc unique prose lines + a
    shared boilerplate line + per-doc junk lines C4 must strip."""
    rows = []
    for i in range(40):
        lines = [
            f"Document {i} opens with its own unique sentence number one.",
            "Accept all cookies to continue reading this excellent site.",
            f"Unique middle sentence {i} carries the real document payload.",
            "menu home about",                      # short, unterminated
            "Please enable javascript to view this page properly.",
            f"Closing remark {i} wraps the document with a question?",
        ]
        rows.append((i, "\n".join(lines), "en", f"src{i % 3}"))
    # two docs C4 must drop whole: code markers / nothing survives
    rows.append((90, "if (x) { return y; }\nReal sentence here though.",
                 "en", "src0"))
    rows.append((91, "no punctuation anywhere here", "en", "src0"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(path)


def test_c4_stage(spark, tmp_path):
    """--c4: line rules run before any metric; junk lines vanish from
    every surviving doc, marker docs drop, funnel starts input ->
    after_c4 and stays monotone."""
    src = str(tmp_path / "lined")
    _write_lined_corpus(spark, src)
    out = str(tmp_path / "c4out")
    counts, _ = clean_corpus(
        spark, src, out, min_quality=0.0, c4=True,
    )
    assert list(counts)[:3] == ["input", "after_c4", "after_quality"]
    assert counts["input"] == 42 and counts["after_c4"] == 40
    cleaned = spark.read.parquet(out)
    texts = [r.text for r in cleaned.select("text").collect()]
    assert texts and all("javascript" not in t.lower() for t in texts)
    assert all("menu home about" not in t for t in texts)
    # kept lines survive verbatim, joined by single newlines
    assert all(
        all(l.rstrip()[-1] in '.!?"' for l in t.split("\n")) for t in texts
    )
    # extra columns (lang, source) pass through the narrow C4 path
    assert {"lang", "source"} <= set(cleaned.columns)


def test_para_dedup_stage(spark, tmp_path):
    """--para-dedup: a boilerplate paragraph shared by every doc
    survives exactly once corpus-wide; rerunning the operator over the
    output finds nothing left to remove (idempotence)."""
    from bmspark.functions import curation

    boiler = "Subscribe to our newsletter for updates."
    rows = [
        (i, f"Unique lead paragraph {i} for this doc.\n\n{boiler}\n\n"
            f"Unique tail paragraph {i} closes it.", "en", "src0")
        for i in range(30)
    ]
    src = str(tmp_path / "paras")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "paraout")
    counts, _ = clean_corpus(
        spark, src, out, min_quality=0.0, para_dedup=True,
    )
    assert "paras_removed" in counts and "after_para_dedup" in counts
    assert counts["paras_removed"] == 29       # 30 copies -> 1 survivor
    assert counts["after_para_dedup"] == 30    # no doc emptied
    cleaned = spark.read.parquet(out)
    n_boiler = cleaned.filter(
        F.col("text").contains("Subscribe to our newsletter")
    ).count()
    assert n_boiler == 1
    again = curation.dedup_paragraphs(cleaned)
    assert again.filter(F.col("n_kept") != F.col("n_paras")).isEmpty()


def test_c4_and_para_dedup_compose(spark, tmp_path):
    """--c4 --para-dedup --para-sep line: C4 strips junk lines first,
    then line-granularity paragraph dedup removes the shared
    boilerplate line corpus-wide; funnel monotone and deterministic."""
    src = str(tmp_path / "lined2")
    _write_lined_corpus(spark, src)
    out = str(tmp_path / "both")
    counts, _ = clean_corpus(
        spark, src, out, min_quality=0.0,
        c4=True, para_dedup=True, para_sep="\n",
    )
    order = ["input", "after_c4", "after_quality", "after_exact_dedup",
             "paras_removed", "after_para_dedup", "after_neardup_dedup",
             "output"]
    assert list(counts) == order
    # 40 surviving docs each had the cookie-banner line; 39 copies die
    assert counts["paras_removed"] == 39
    assert counts["after_para_dedup"] == 40
    cleaned = spark.read.parquet(out)
    assert cleaned.filter(
        F.col("text").contains("Accept all cookies")
    ).count() == 1
    counts2, _ = clean_corpus(
        spark, src, str(tmp_path / "both2"), min_quality=0.0,
        c4=True, para_dedup=True, para_sep="\n",
    )
    assert counts2 == counts


def test_funnel_without_near_dup_pairs_counts_every_stage(spark, tmp_path, monkeypatch):
    """A corpus with no near-duplicate pair empties the whole clustering
    input, and AQE replaces the subtrees holding the early stages'
    observations by empty relations, so Spark drops those metrics. The
    funnel still reports every stage's true count (observe() recomputes
    them), and the recompute path is the one taken."""
    from pyspark.sql import Observation

    from bmspark import session

    dropped = []

    class Spy(Observation):
        @property
        def get(self):
            try:
                return super().get
            except Exception:
                dropped.append(self)
                raise

    monkeypatch.setattr(session, "Observation", Spy)
    rows = [
        (i, "\n\n".join(" ".join(f"d{i}p{p}w{j}" for j in range(12)) + "."
                        for p in range(3)), "en", "src0")
        for i in range(20)
    ]
    src = str(tmp_path / "distinct")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(src)
    counts, out = clean_corpus(
        spark, src, str(tmp_path / "out"), min_quality=0.0, para_dedup=True
    )
    assert counts == {
        "input": 20, "after_quality": 20, "after_exact_dedup": 20,
        "paras_removed": 0, "after_para_dedup": 20,
        "after_neardup_dedup": 20, "output": 20,
    }
    assert spark.read.parquet(out).count() == 20
    assert dropped, "no observation was dropped: the recompute path went untested"


@pytest.mark.parametrize("kwargs, match", [
    (dict(lm_keep=0.5), "lm-train"),
    (dict(dsir_keep=0.5), "dsir-target"),
    (dict(quality_model_keep=0.5), "quality-target"),
    (dict(dedup_keep="newest"), "dedup_keep"),
    (dict(neardup_method="bogus"), "neardup_method"),
    (dict(ccnet_keep={"head": 1.0, "middel": 0.5}), "ccnet_keep"),
    (dict(ccnet_keep={"head": 1.5}), "ccnet_keep"),
    (dict(ccnet_keep={"tail": -0.1}), "ccnet_keep"),
    (dict(gopher_rep={"top2gram_frac": 0.2}), "gopher_rep"),
], ids=["lm", "dsir", "quality_model", "dedup_keep", "neardup_method",
        "ccnet_key", "ccnet_over_1", "ccnet_negative", "gopher_rep_key"])
def test_arg_errors_fail_before_any_job(spark, tmp_path, kwargs, match):
    """Every argument check runs before the funnel's first Spark job: a
    missing selection predicate, an unknown mode, a CCNet bucket other
    than head/middle/tail (a typo would silently keep that bucket at 0),
    a CCNet fraction outside [0, 1] or an unknown Gopher ceiling raises
    ValueError with no job run and no output written."""
    out = tmp_path / "out"
    sc = spark.sparkContext
    group = f"clean_corpus_fail_fast_{'_'.join(kwargs)}_{match}"
    sc.setJobGroup(group, "clean_corpus fail-fast probe")
    try:
        with pytest.raises(ValueError, match=match):
            clean_corpus(spark, f"{SF_DIR}/documents.parquet", str(out), **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert not out.exists()


@pytest.mark.parametrize("flags", [
    ["--langs", "en"],
    ["--langs", "en=half"],
    ["--ccnet-keep", "head=1,middle"],
    ["--gopher-rep", "top2gram_char_frac=0.2=0.3"],
], ids=["langs_no_value", "langs_not_float", "ccnet_no_value", "gopher_two_values"])
def test_cli_rejects_malformed_key_values(tmp_path, monkeypatch, flags):
    """A malformed key=value option is an argparse error (exit 2) raised
    before any session starts, not an IndexError after it."""
    from bmspark import session
    from jobs.clean_corpus import main

    def no_session(*a, **k):
        raise AssertionError("a session started")

    monkeypatch.setattr(session, "get_session", no_session)
    with pytest.raises(SystemExit) as exc:
        main(["--source", str(tmp_path / "docs"), "--out", str(tmp_path / "out")] + flags)
    assert exc.value.code == 2
    assert not (tmp_path / "out").exists()


def test_cli_key_value_options_parse(tmp_path, monkeypatch):
    """--langs, --ccnet-keep and --gopher-rep (bare = Table A1 defaults)
    reach clean_corpus as float dicts."""
    import jobs.clean_corpus as cc
    from bmspark import session

    seen = {}

    def fake(spark, source, out, **kwargs):
        seen.update(kwargs)
        return {"output": 0}, out

    monkeypatch.setattr(session, "get_session", lambda *a, **k: None)
    monkeypatch.setattr(cc, "clean_corpus", fake)
    base = ["--source", str(tmp_path / "d"), "--out", str(tmp_path / "o")]
    assert cc.main(base + ["--langs", "en=0.5,fr=0.25", "--ccnet-keep", "head=1,tail=0",
                           "--gopher-rep"]) == 0
    assert seen["lang_fractions"] == {"en": 0.5, "fr": 0.25}
    assert seen["ccnet_keep"] == {"head": 1.0, "tail": 0.0}
    assert seen["gopher_rep"] == cc.GOPHER_REP_DEFAULTS
    assert cc.main(base + ["--gopher-rep", "dup5gram_char_frac=0.5"]) == 0
    assert seen["gopher_rep"] == {"dup5gram_char_frac": 0.5}
    assert seen["lang_fractions"] is None and seen["ccnet_keep"] is None
