"""Corpus-curation operators (bmspark.functions.curation): per-group
caps, PII scrubbing, repetition metrics, sequence packing, benchmark
decontamination — behavioral contracts beyond the driver's value-hash
oracle parity (tests/test_oracle_parity.py covers exactness)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bmspark.functions import curation
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    # unpersist on teardown: a still-cached documents scan would be
    # substituted by the cache manager into LATER test files' plans
    # (observed: it broke test_plans' ReusedExchange assertion)
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()
    yield df
    df.unpersist()


def test_cap_per_group_bound_and_determinism(spark, docs):
    capped = curation.cap_per_group(docs, "source", cap=7)
    per = capped.groupBy("source").count().collect()
    assert per and all(r["count"] <= 7 for r in per)
    # groups with >= 7 docs are capped exactly at 7 (not under-filled)
    big = {
        r.source for r in docs.groupBy("source").count()
        .filter(F.col("count") >= 7).collect()
    }
    assert all(r["count"] == 7 for r in per if r.source in big)
    # deterministic: same surviving id set on rerun
    a = {r.doc_id for r in capped.select("doc_id").collect()}
    b = {r.doc_id for r in
         curation.cap_per_group(docs, "source", cap=7).select("doc_id").collect()}
    assert a == b and a <= {r.doc_id for r in docs.select("doc_id").collect()}


def test_cap_per_group_hot_group_prethin_identical(spark, docs):
    """The hot-group pre-thin path (codegen'd md5-prefix filter before
    the window) must return the IDENTICAL row set as the plain path —
    with every group forced hot, and with a large synthetic hot group."""
    plain = {r.doc_id for r in
             curation.cap_per_group(docs, "source", 7).select("doc_id").collect()}
    thinned = {r.doc_id for r in
               curation.cap_per_group(
                   docs, "source", 7, hot_group_threshold=1
               ).select("doc_id").collect()}
    assert plain == thinned

    from pyspark.sql import functions as F

    big = spark.range(20_000).select(
        F.col("id").alias("doc_id"), F.lit("hot").alias("source")
    )
    a = {r.doc_id for r in
         curation.cap_per_group(big, "source", 16).select("doc_id").collect()}
    b = {r.doc_id for r in
         curation.cap_per_group(
             big, "source", 16, hot_group_threshold=1000
         ).select("doc_id").collect()}
    assert a == b and len(a) == 16


def test_scrub_pii_redacts_and_is_idempotent(spark):
    rows = [
        (0, "write to alice.smith+x@corp.example.co.uk today"),
        (1, "server at 192.168.0.254 port 8080"),
        (2, "call +44-20-7946-0958 now"),
        (3, "no pii here at all"),
        (4, "mix: bob@x.io on 10.0.0.1 dial +1-555-0100"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.clean for r in
           df.select("doc_id", curation.scrub_pii("text").alias("clean")).collect()}
    assert out[0] == "write to <EMAIL> today"
    assert out[1] == "server at <IP> port 8080"
    assert out[2] == "call <PHONE> now"
    assert out[3] == "no pii here at all"
    assert out[4] == "mix: <EMAIL> on <IP> dial <PHONE>"
    # idempotent: scrubbing scrubbed text changes nothing
    twice = {r.doc_id: r.clean for r in
             df.select("doc_id",
                       curation.scrub_pii(curation.scrub_pii("text")).alias("clean"))
             .collect()}
    assert twice == out


def test_repetition_metrics_separate_spam_from_prose(spark):
    rows = [
        (0, "buy now " * 50),                     # one bigram dominates
        (1, " ".join(f"w{i}" for i in range(100))),  # fully diverse
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m = {r.doc_id: r for r in curation.repetition_metrics(df).collect()}
    assert m[0].top_bigram_frac > 0.4 > m[1].top_bigram_frac
    assert m[0].distinct_token_ratio < 0.05 < m[1].distinct_token_ratio
    assert m[1].distinct_token_ratio == 1.0


def test_pack_sequences_bin_invariants(spark, docs):
    budget = 256
    packed = curation.pack_sequences(docs, budget_tokens=budget, n_shards=8)
    rows = packed.collect()
    # every doc assigned exactly once
    assert len(rows) == docs.count()
    assert len({r.doc_id for r in rows}) == len(rows)
    assert all(r.shard == r.doc_id % 8 for r in rows)

    # per-bin budget: total <= budget unless the bin is a single oversized doc
    from collections import defaultdict

    bins = defaultdict(list)
    for r in rows:
        bins[(r.shard, r.seq_id)].append(r)
    for (shard, seq), members in bins.items():
        total = sum(r.n_tokens for r in members)
        if total > budget:
            assert len(members) == 1, (shard, seq, total)

    # sequential fill: within a shard, bin ids are non-decreasing in doc
    # order and start at 0 without gaps
    for shard in range(8):
        seqs = [r.seq_id for r in sorted(
            (r for r in rows if r.shard == shard), key=lambda r: r.doc_id)]
        assert seqs[0] == 0
        assert all(b - a in (0, 1) for a, b in zip(seqs, seqs[1:]))

    # greedy tightness: a new bin opens only when the doc would overflow
    for shard in range(8):
        ordered = sorted((r for r in rows if r.shard == shard),
                         key=lambda r: r.doc_id)
        acc = 0
        for prev, cur in zip(ordered, ordered[1:]):
            acc = cur.n_tokens if cur.seq_id != prev.seq_id else acc + cur.n_tokens
            if cur.seq_id != prev.seq_id:
                # the doc that opened a new bin must not have fit
                fill = sum(
                    r.n_tokens for r in ordered
                    if r.seq_id == prev.seq_id
                )
                assert fill + cur.n_tokens > budget


def test_vocab_and_tfidf_semantics(spark):
    rows = [
        (0, "the cat sat"),
        (1, "the dog ran"),
        (2, "the the the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    v = {r.term: (r.term_count, r.doc_freq) for r in curation.vocab(df).collect()}
    assert v["the"] == (5, 3) and v["cat"] == (1, 1)

    ti = {(r.doc_id, r.term): r.tfidf for r in curation.tfidf(df).collect()}
    # a term present in EVERY doc has idf = ln(1) = 0 regardless of tf
    assert ti[(0, "the")] == 0.0 and ti[(2, "the")] == 0.0
    # rare terms: tf=1, idf=ln(3)
    import math

    assert ti[(0, "cat")] == round(math.log(3), 4)


def _pack_reference(pairs, budget, n_shards):
    """Pure-Python reference of the sequential fill, for property tests."""
    out = {}
    for shard in range(n_shards):
        members = sorted((i, n) for i, n in pairs if i % n_shards == shard)
        seq, acc, first = 0, 0, True
        for i, n in members:
            if first:
                seq, acc, first = 0, n, False
            elif acc + n <= budget:
                acc += n
            else:
                seq, acc = seq + 1, n
            out[i] = (shard, seq)
    return out


def test_pack_sequences_matches_reference_on_random_corpora(spark):
    """Property: over seeded random token-size distributions (incl.
    oversized docs, zero-token docs, budget-exact fits), the distributed
    packing equals the pure-Python sequential fill doc-for-doc."""
    import numpy as np

    for seed in (1, 7, 99):
        rnd = np.random.RandomState(seed)
        n_docs = int(rnd.randint(50, 200))
        sizes = rnd.choice(
            [0, 1, 5, 17, 64, 100, 128, 130, 300], size=n_docs
        )  # 300 > budget → oversized bins; 128 = exact fit
        rows = [(int(i), "w " * int(s)) for i, s in enumerate(sizes)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.shard, r.seq_id)
            for r in curation.pack_sequences(
                df, budget_tokens=128, n_shards=4
            ).collect()
        }
        want = _pack_reference(
            [(i, int(s)) for i, s in enumerate(sizes)], 128, 4
        )
        assert got == want, f"seed {seed}"


def test_contaminated_docs_detects_planted_leak(spark):
    bench_text = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (100, "training doc with " + bench_text + " copied straight in"),
        (101, "completely unrelated content about spark shuffle partitions"),
        (102, " ".join(f"t{i}" for i in range(40))),
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(0, bench_text)], "doc_id long, text string")
    got = {r.doc_id: r.n_shared for r in
           curation.contaminated_docs(train, bench, n=5, min_shared=1).collect()}
    assert 100 in got and got[100] >= 8  # long copied span → many 5-grams
    assert 101 not in got and 102 not in got

    # min_shared raises the bar
    strict = curation.contaminated_docs(train, bench, n=5, min_shared=100)
    assert strict.isEmpty()


def test_corpus_stats_modes_agree_on_mergeable_measures(spark):
    """corpus_stats approx=True (sketch-mergeable percentiles, the
    unbounded-group-key scale mode) must agree with exact mode on every
    map-side-combinable measure; empty text counts 0 tokens (the
    token_count convention)."""
    rows = [
        ("a", "en", "one two three"),
        ("a", "en", "one two three four five six seven"),
        ("a", "en", ""),
        ("b", "fr", "un deux"),
    ]
    df = spark.createDataFrame(rows, "source string, lang string, text string")
    exact = {(r.source, r.lang): r for r in curation.corpus_stats(df).collect()}
    approx = {
        (r.source, r.lang): r
        for r in curation.corpus_stats(df, approx=True).collect()
    }
    assert exact.keys() == approx.keys() == {("a", "en"), ("b", "fr")}
    a = exact[("a", "en")]
    assert (a.n_docs, a.total_tokens, a.max_tokens) == (3, 10, 7)
    assert a.total_chars == sum(len(t) for _, _, t in rows[:3])
    for k in exact:
        for fld in ("n_docs", "total_tokens", "mean_tokens", "max_tokens",
                    "total_chars"):
            assert getattr(exact[k], fld) == getattr(approx[k], fld), (k, fld)


def test_contamination_fraction_normalizes_by_doc_size(spark):
    """contamination_fraction must flag by the OVERLAP SHARE of the doc,
    not the absolute hit count: a short doc that is mostly benchmark
    text outranks a long doc containing the same absolute leak."""
    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"t{i}" for i in range(200))
    rows = [
        (100, bench_text + " plus little else here"),   # short, mostly leak
        (101, bench_text + " " + filler),                # same leak, diluted
        (102, filler),                                   # no leak
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(0, bench_text)], "doc_id long, text string")

    all_fracs = {
        r.doc_id: (r.n_grams, r.n_shared, r.contam_frac)
        for r in curation.contamination_fraction(
            train, bench, n=5, threshold=0.0
        ).collect()
    }
    assert 102 not in all_fracs  # zero-hit docs never surface (or shuffle)
    assert all_fracs[100][1] == all_fracs[101][1]  # same absolute leak
    assert all_fracs[100][2] > all_fracs[101][2]   # but higher share

    # denominator is the row-local distinct-gram count of the doc itself
    n_grams_100 = all_fracs[100][0]
    toks = rows[0][1].split()
    want = len({" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)})
    assert n_grams_100 == want

    # threshold keeps only the concentrated leak
    flagged = {
        r.doc_id
        for r in curation.contamination_fraction(
            train, bench, n=5, threshold=0.5
        ).collect()
    }
    assert flagged == {100}


def test_vocab_tfidf_df_pruning_knobs(spark, duck):
    """min_df/max_df: stopwords (the skewed join keys) and the hapax
    Zipf tail are pruned BEFORE the term join; Spark output equals the
    DuckDB twin carrying the SAME predicates; broadcast_vocab puts the
    pruned vocab on a BroadcastExchange while the default stays a
    shuffle join (the honest claim at 10^8 terms)."""
    def txt(i):
        mid = "quick brown fox " if i < 20 else ""
        return f"the {mid}hapax{i}"

    rows = [(i, txt(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    duck.execute("CREATE OR REPLACE TABLE _vt AS SELECT * FROM (VALUES "
                 + ",".join(f"({i}, '{txt(i)}')" for i in range(40))
                 + ") t(doc_id, text)")

    v = curation.vocab(df, min_df=2, max_df=39)
    got = {r.term for r in v.collect()}
    assert "the" not in got          # df=40 > max_df
    assert "hapax3" not in got       # df=1 < min_df
    assert {"quick", "brown", "fox"} <= got
    want = duck.execute(
        curation.vocab_sql("_vt", min_df=2, max_df=39)
    ).fetchdf()
    assert got == set(want["term"])

    t = curation.tfidf(df, min_df=2, max_df=39)
    terms = {r.term for r in t.select("term").distinct().collect()}
    assert "the" not in terms and "hapax7" not in terms
    wt = duck.execute(curation.tfidf_sql("_vt", min_df=2, max_df=39)).fetchdf()
    assert terms == set(wt["term"].unique())
    # value parity on the pruned output
    sp = {(r.doc_id, r.term): (r.tf, r.doc_freq, r.tfidf) for r in t.collect()}
    dk = {(int(r.doc_id), r.term): (int(r.tf), int(r.doc_freq), float(r.tfidf))
          for r in wt.itertuples()}
    assert sp == dk

    # plan honesty: default = term-keyed shuffle join (what actually
    # happens at 10^8 terms); broadcast_vocab opts into a broadcast
    plain = t._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plain or "ShuffledHashJoin" in plain, plain
    bc = curation.tfidf(df, min_df=2, max_df=39, broadcast_vocab=True)
    bc_plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in bc_plan, bc_plan


def test_gopher_quality_separates_prose_from_junk(spark):
    """Planted verdicts: real-ish prose passes; too-short, symbol-heavy,
    no-alpha, and stopword-free docs fail on the right signal."""
    prose = ("the quick brown fox jumps over that lazy dog and then have "
             "some rest with friends of theirs ") * 5  # >50 tokens, stopwords
    rows = [
        (1, prose),
        (2, "too short to pass"),                          # n_tokens < 50
        (3, " ".join(["###"] * 60)),                       # symbols, no alpha
        (4, " ".join(["12345"] * 60)),                     # alpha_frac = 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in curation.gopher_quality(df).collect()}
    assert got[1].gopher_pass is True
    assert got[2].gopher_pass is False and got[2].n_tokens < 50
    assert got[3].gopher_pass is False and got[3].symbol_ratio == 1.0
    assert got[4].gopher_pass is False and got[4].alpha_frac == 0.0


def test_dedup_spans_first_occurrence_wins(spark):
    """A 10-token span repeated across docs (and within one doc) survives
    only at its global first occurrence; unique spans all survive; a doc
    made entirely of seen spans comes back empty."""
    span_a = " ".join(f"a{i}" for i in range(10))
    span_b = " ".join(f"b{i}" for i in range(10))
    uniq = " ".join(f"u{i}" for i in range(10))
    rows = [
        (1, f"{span_a} {span_b} {span_a}"),   # span_a repeated IN-doc
        (2, f"{span_a} {uniq}"),              # span_a already seen in doc 1
        (3, span_b),                          # fully seen → empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in curation.dedup_spans(df, 10).collect()}
    assert got[1].text_deduped == f"{span_a} {span_b}"
    assert (got[1].n_spans, got[1].n_kept) == (3, 2)
    assert got[2].text_deduped == uniq
    assert got[3].text_deduped == "" and got[3].n_kept == 0


def test_mix_plan_feasible_and_closes_loop_with_sampler(spark):
    """mix_plan: fractions are all <= 1, the scarcest-relative source is
    used in full (frac = 1), target_tokens match the weights, and the
    plan executes through the deterministic stratified sampler with
    realized token shares near the targets."""
    from bmspark.functions import sampling
    from bmspark.functions.text import token_count

    rows = []
    sizes = {"a": 4000, "b": 2000, "c": 500}   # c is scarce
    i = 0
    for src, n_docs in [("a", 400), ("b", 200), ("c", 50)]:
        for _ in range(n_docs):
            rows.append((i, " ".join(f"w{i}x{j}" for j in range(10)), src))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    targets = {"a": 0.5, "b": 0.3, "c": 0.2}
    plan = {r.source: r for r in curation.mix_plan(df, targets).collect()}

    assert set(plan) == set(targets)
    assert all(r.sample_frac <= 1.0 for r in plan.values())
    # c is the binding constraint: 500/0.2 = 2500 < 4000/0.5 < 2000/0.3
    assert plan["c"].sample_frac == 1.0
    t = 500 / 0.2
    assert plan["a"].target_tokens == int(0.5 * t)
    assert plan["b"].target_tokens == int(0.3 * t)

    sampled = sampling.stratified_sample(
        df, "source", {s: r.sample_frac for s, r in plan.items()},
        key="doc_id",
    )
    got = {
        r.source: r.n for r in sampled.groupBy("source")
        .agg(F.sum(token_count("text")).alias("n")).collect()
    }
    # realized shares within sampling tolerance of the targets
    total = sum(got.values())
    for s, w in targets.items():
        assert abs(got[s] / total - w) < 0.08, (s, got, total)


def test_dedup_spans_matches_reference_on_random_corpora(spark):
    """Property: over seeded random corpora with planted span sharing
    (docs assembled from a small pool of 10-token spans), the
    distributed span dedup equals a pure-Python first-occurrence
    reference doc-for-doc."""
    import numpy as np

    for seed in (3, 11):
        rnd = np.random.RandomState(seed)
        pool = [" ".join(f"s{seed}p{p}t{t}" for t in range(10))
                for p in range(12)]
        rows = []
        for i in range(120):
            k = rnd.randint(1, 5)
            rows.append((i, " ".join(pool[j] for j in rnd.randint(0, 12, k))))
        # pure-Python reference
        seen, ref = set(), {}
        for i, text in rows:
            toks = text.split()
            spans = [" ".join(toks[j:j + 10]) for j in range(0, len(toks), 10)]
            kept = []
            for sp in spans:
                if sp not in seen:
                    seen.add(sp)
                    kept.append(sp)
            ref[i] = (" ".join(kept), len(spans), len(kept))

        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.text_deduped, r.n_spans, r.n_kept)
               for r in curation.dedup_spans(df, 10).collect()}
        assert got == ref


def test_freq_score_ranks_common_above_rare(spark):
    """A doc of corpus-common tokens outranks a doc of hapax tokens, and
    a token-weighted mix sits between them."""
    common = "data value table row " * 10
    rows = [(i, common) for i in range(10)]          # make those tokens common
    rows += [(100, common),
             (101, " ".join(f"zq{i}" for i in range(40))),    # all hapax
             (102, common[:len(common) // 2] + " "
                   + " ".join(f"yx{i}" for i in range(20)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.freq_score for r in curation.freq_score(df).collect()}
    assert got[100] > got[102] > got[101]
    assert got[101] == 0.0  # log10(1) for every hapax token


def test_ccnet_buckets_are_even_terciles(spark, docs):
    """head/middle/tail split the corpus into near-equal thirds, ordered
    by freq_score (every head doc >= every middle doc >= every tail)."""
    out = curation.ccnet_buckets(docs).collect()
    n = len(out)
    sizes = {b: sum(1 for r in out if r.bucket == b)
             for b in ("head", "middle", "tail")}
    assert sum(sizes.values()) == n
    for b, c in sizes.items():
        assert abs(c - n / 3) <= n * 0.05 + 2, (b, sizes)
    lo_head = min(r.freq_score for r in out if r.bucket == "head")
    hi_mid = max(r.freq_score for r in out if r.bucket == "middle")
    lo_mid = min(r.freq_score for r in out if r.bucket == "middle")
    hi_tail = max(r.freq_score for r in out if r.bucket == "tail")
    assert lo_head >= hi_mid and lo_mid >= hi_tail


def test_mix_plan_strict_raises_on_absent_source(spark, docs):
    """A targeted source absent from the corpus must not silently
    distort the blend: strict mode (default) raises and names it;
    strict=False keeps the legacy planner-side behavior for callers
    with an externally verified source list."""
    bad = {"src0": 1.0, "no_such_source": 2.0}
    with pytest.raises(ValueError, match="no_such_source"):
        curation.mix_plan(docs, bad)
    # strict=False: runs, and the absent source simply yields no row
    out = curation.mix_plan(docs, bad, strict=False)
    assert "no_such_source" not in {r.source for r in out.collect()}


def test_mix_plan_strict_guards_high_cardinality_source_col(spark):
    """A mistyped source_col (e.g. a per-doc unique id) must not flood
    the driver through strict-mode validation: the distinct collect is
    capped and raises naming the column (VERDICT r6 #5)."""
    n = 10_050  # just over the 10^4 guard
    wide = spark.range(n).selectExpr(
        "cast(id as long) as doc_id",
        "concat('u', id) as source",  # unique per row — not a source col
        "'w w w' as text",
    )
    with pytest.raises(ValueError, match="source.*distinct|more than"):
        curation.mix_plan(wide, {"u1": 1.0})
    # a REAL source column of the same frame still validates fine
    ok = wide.withColumn("source", F.expr("concat('s', doc_id % 3)"))
    plan = curation.mix_plan(ok, {"s0": 1.0, "s1": 1.0}).collect()
    assert {r.source for r in plan} == {"s0", "s1"}


def test_dedup_spans_null_text_parity_with_oracle(spark):
    """NULL and whitespace-only text have no token, so no span: Spark
    and the DuckDB twin both leave the doc out, rather than emit an
    empty span the first such doc would own corpus-wide."""
    import duckdb
    import pandas as pd

    def both(rows):
        sdf = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.text_deduped, r.n_spans, r.n_kept)
            for r in curation.dedup_spans(sdf, 10).collect()
        }
        con = duckdb.connect()
        con.register("docs_null", pd.DataFrame(rows, columns=["doc_id", "text"]))
        ora = {
            int(r[0]): (r[1], int(r[2]), int(r[3]))
            for r in con.execute(
                curation.dedup_spans_sql("docs_null", 10)
            ).fetchall()
        }
        assert got == ora
        return got

    assert both([(1, None), (2, "  \t "), (3, "a b")]) == {3: ("a b", 1, 1)}
    got = both([
        (1, "a b c d e f g h i j k l"),
        (2, None),
        (3, "a b c d e f g h i j z z"),
    ])
    assert sorted(got) == [1, 3]


def test_contaminated_docs_broadcast_knob_same_answer(spark, docs):
    """broadcast_bench=False (the unbounded-benchmark escape hatch)
    changes only the join strategy, never the answer."""
    train = docs.filter("doc_id % 7 != 0")
    bench = docs.filter("doc_id % 7 = 0")
    a = {
        (r.doc_id, r.n_shared)
        for r in curation.contaminated_docs(train, bench, n=5).collect()
    }
    b = {
        (r.doc_id, r.n_shared)
        for r in curation.contaminated_docs(
            train, bench, n=5, broadcast_bench=False
        ).collect()
    }
    assert a == b and a


def test_ccnet_buckets_approx_knob(spark, docs):
    """approx=True (bounded-memory t-digest cutoffs for the 10^12-doc
    design point) keeps the tercile shape: same schema, same row count,
    bucket populations within a loose band of exact terciles."""
    exact = curation.ccnet_buckets(docs)
    approx = curation.ccnet_buckets(docs, approx=True)
    assert exact.columns == approx.columns
    n = docs.count()
    sizes = {r.bucket: r["count"] for r in approx.groupBy("bucket").count().collect()}
    assert sum(sizes.values()) == n
    for b in ("head", "middle", "tail"):
        assert sizes.get(b, 0) == pytest.approx(n / 3, rel=0.35)


def test_repetition_ngrams_flags_planted_boilerplate(spark):
    """A doc that is one 5-gram repeated back-to-back must show high
    top-n-gram and dup-5-gram char mass; diverse prose shows ~0 dup
    mass. Zero-length docs are excluded; short docs read 0 for ns they
    cannot form."""
    rep = ("alpha beta gamma delta epsilon " * 6).strip()
    prose = "one two three four five six seven eight nine ten"
    tiny = "solo"
    sdf = spark.createDataFrame(
        [(1, rep), (2, prose), (3, tiny), (4, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in curation.repetition_ngrams(sdf).collect()}
    assert set(out) == {1, 2, 3}  # empty doc excluded (n_chars = 0)
    assert out[1].dup5gram_char_frac > 0.8
    assert out[1].top2gram_char_frac > 0.15
    assert out[2].dup5gram_char_frac == 0.0
    # 'solo' forms no 2-grams at all: every fraction reads 0
    assert out[3].top2gram_char_frac == 0.0
    assert out[3].dup5gram_char_frac == 0.0


def test_dsir_weight_ranks_target_like_docs_higher(spark):
    """DSIR: raw docs drawn from the target's vocabulary must out-score
    raw docs from a disjoint vocabulary (the resampling criterion), and
    the logratio join must be a broadcast (bucket table is 10^4-capped
    — never a corpus-wide shuffle)."""
    target_rows = [
        (100 + i, "spark shuffle partition broadcast join " * 5, "tgt")
        for i in range(5)
    ]
    like_target = [(1, "spark shuffle partition broadcast join query", "raw")]
    unlike = [(2, "zebra yak xylophone walrus vulture unicorn", "raw")]
    df = spark.createDataFrame(
        target_rows + like_target + unlike,
        "doc_id long, text string, source string",
    )
    out = curation.dsir_weight(df, df.filter("source = 'tgt'"))
    w = {r.doc_id: r.dsir_logw for r in out.collect()}
    assert w[1] > w[2]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dedup_substrings_overlapping_window_semantics(spark):
    """Arbitrary-granularity substring dedup: a 10-gram restated in a
    later doc (or later in the SAME doc) is deleted at token precision
    — surrounding novel text survives — while short docs and the global
    first occurrence pass through untouched; a doc made entirely of
    earlier text comes back empty."""
    span = "a b c d e f g h i j"
    rows = [
        (1, f"{span} tail1 one"),
        (2, f"lead2 {span} tail2"),          # strip the restated middle
        (3, "x1 x2 x3 x4 x5"),               # shorter than window
        (4, None),
        (5, f"{span} {span}"),               # entirely covered by doc 1
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text_deduped, r.n_tokens, r.n_removed)
        for r in curation.dedup_substrings(sdf, 10).collect()
    }
    assert got[1] == (f"{span} tail1 one", 12, 0)
    assert got[2] == ("lead2 tail2", 12, 10)
    assert got[3] == ("x1 x2 x3 x4 x5", 5, 0)
    assert got[4] == ("", 0, 0)                 # NULL text: no token
    assert got[5] == ("", 20, 20)
    # precision vs dedup_spans: the fixed-segment form can only strip
    # aligned segments — here the restated 10-gram in doc 2 is OFFSET
    # by one token, so span dedup keeps the whole doc while substring
    # dedup excises exactly the repeated tokens
    spans_out = {
        r.doc_id: r.n_kept for r in curation.dedup_spans(sdf, 10).collect()
    }
    assert spans_out[2] == 2  # both of doc 2's segments survive span dedup


def test_span_and_substring_dedup_survive_hot_boilerplate_gram(spark):
    """Skew fixture (VERDICT r5 watch #3): ONE 10-token boilerplate
    phrase opens 10% of a 3000-doc corpus — under the round-5
    min-over-window form all ~300 occurrences of that gram landed in a
    single reducer task; the round-6 min-struct aggregate collapses
    them map-side. Semantics under skew: exactly the lowest-id
    boilerplate doc keeps the phrase, every later occurrence is
    stripped (substrings) / deduplicated (spans), and unique tails all
    survive."""
    boiler = " ".join(f"b{i}" for i in range(10))
    rows = [
        (
            i,
            (f"{boiler} " if i % 10 == 0 else "")
            + " ".join(f"u{i}w{j}" for j in range(10)),
        )
        for i in range(3000)
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    sub = {r.doc_id: r for r in curation.dedup_substrings(sdf, 10).collect()}
    hot = [i for i in range(3000) if i % 10 == 0]
    assert sub[0].text_deduped.startswith(boiler)  # global first occurrence
    for i in hot[1:]:
        assert not sub[i].text_deduped.startswith("b0"), i
        assert sub[i].n_removed == 10, i
        assert sub[i].text_deduped == " ".join(f"u{i}w{j}" for j in range(10))
    for i in range(1, 100):
        if i % 10:
            assert sub[i].n_removed == 0, i

    sp = {r.doc_id: r for r in curation.dedup_spans(sdf, 10).collect()}
    assert sp[0].n_kept == 2
    for i in hot[1:]:
        assert sp[i].n_kept == 1, i  # boilerplate span deduped, tail kept


def test_lm_score_ranks_train_like_docs_higher(spark):
    """Bigram-LM scoring (the CCNet filter proper): docs restating the
    training distribution's bigrams outscore docs of unseen vocabulary;
    short/NULL docs come back with n_bigrams=0 and NULL logprob (kept,
    never dropped); every input doc appears exactly once."""
    train_like = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, train_like, "tgt"),
        (2, "the quick brown fox jumps over the fence", "raw"),  # mostly seen
        (3, "zx qv wk jj pq mm nn oo pp qq rr ss", "raw"),       # unseen vocab
        (4, "solo", "raw"),                                      # < 2 tokens
        (5, None, "raw"),
        (6, train_like, "tgt"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in curation.lm_score(
        df, df.filter("source = 'tgt'")
    ).collect()}
    assert len(out) == 6
    assert out[2].lm_logprob > out[3].lm_logprob  # seen bigrams beat unseen
    assert out[1].lm_logprob > out[2].lm_logprob  # pure restatement beats partial
    for d in (4, 5):
        assert out[d].n_bigrams == 0 and out[d].lm_logprob is None
    # oracle parity on this fixture (the driver runs the same check at
    # sf0.01; this pins the twin on adversarial short/NULL/unseen rows)
    import duckdb

    con = duckdb.connect()
    con.register("docs_lm", df.toPandas())
    exp = {
        int(r[0]): (int(r[1]), r[2])
        for r in con.execute(
            curation.lm_score_sql("source = 'tgt'", "docs_lm")
        ).fetchall()
    }
    got = {d: (r.n_bigrams, r.lm_logprob) for d, r in out.items()}
    assert got == exp


def test_dedup_substrings_hash_grams_design_point_equivalent(spark):
    """hash_grams=True (the 10^8+-gram shuffle-width design point:
    8-byte xxhash64 keys instead of ~100-byte gram strings) produces
    IDENTICAL output to the exact-string form on any collision-free
    corpus — here the sf0.001 documents table plus the adversarial
    fixture rows."""
    span = "a b c d e f g h i j"
    extra = spark.createDataFrame(
        [(990001, f"{span} tail"), (990002, f"lead {span}"), (990003, None)],
        "doc_id long, text string",
    )
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).unionByName(extra)
    a = {r.doc_id: (r.text_deduped, r.n_tokens, r.n_removed)
         for r in curation.dedup_substrings(d, 10).collect()}
    b = {r.doc_id: (r.text_deduped, r.n_tokens, r.n_removed)
         for r in curation.dedup_substrings(d, 10, hash_grams=True).collect()}
    assert a == b and a[990002][2] == 10


def test_c4_clean_line_rules(spark):
    """Each C4 rule fires independently: terminal punctuation, minimum
    words per line, the javascript marker, and the doc-level lorem
    ipsum / curly-brace / no-surviving-lines flags (Raffel et al. 2020
    §2.2). The DuckDB twin agrees row for row, CRLF lines included:
    a line's trailing \\r is whitespace, neither a word nor the end."""
    import duckdb
    import pandas as pd

    rows = [
        # one good line, one unterminated, one short, one javascript
        (1, 'Good sentence with words here.\nno terminal punct line\n'
            'Too short.\nPlease enable JavaScript to continue.'),
        (2, 'All lines die here'),                      # -> keep_doc False
        (3, 'Fine line number one is kept!\nAnd "quoted" endings count."'),
        (4, 'Contains lorem ipsum filler text here.\nKept line or not?'),
        (5, 'function f() { return 1; }\nReal sentence here though.'),
        (6, None),                                      # NULL text
        (7, 'First line ends here.\r\nToo short.\r\nno terminal here\r\n'),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in curation.c4_clean(d).collect()}
    con = duckdb.connect()
    con.register("c4_docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    ora = {r[0]: tuple(r[1:]) for r in con.execute(curation.c4_clean_sql("c4_docs")).fetchall()}
    assert {i: tuple(r[1:]) for i, r in out.items()} == ora
    assert out[1].n_lines == 4 and out[1].n_kept == 1
    assert out[1].text_clean == "Good sentence with words here."
    assert out[1].keep_doc
    assert out[2].n_kept == 0 and out[2].text_clean == "" \
        and not out[2].keep_doc
    assert out[3].n_kept == 2 and out[3].keep_doc
    # doc-level markers veto even when lines survive
    assert out[4].n_kept == 2 and not out[4].keep_doc      # lorem ipsum
    assert out[5].n_kept == 1 and not out[5].keep_doc      # curly brace
    assert out[6].n_lines == 1 and out[6].n_kept == 0 \
        and not out[6].keep_doc
    assert out[7].n_lines == 4 and out[7].text_clean == "First line ends here.\r"


def test_c4_clean_min_words_knob(spark):
    d = spark.createDataFrame(
        [(1, "One two.\nOne two three four.")], "doc_id long, text string"
    )
    strict = curation.c4_clean(d, min_words_per_line=4).collect()[0]
    lax = curation.c4_clean(d, min_words_per_line=2).collect()[0]
    assert strict.n_kept == 1 and lax.n_kept == 2


def test_dedup_paragraphs_first_occurrence_wins(spark):
    """CCNet paragraph dedup: global first-(doc_id, para_idx) wins on
    the trimmed paragraph; later copies vanish; docs rebuild in
    original order; whitespace-only paragraphs never participate."""
    boiler = "Accept cookies to continue"
    rows = [
        (10, f"{boiler}\n\nunique alpha content"),
        (20, f"{boiler}\n\nunique beta content\n\n{boiler}"),   # dup twice
        (30, f"  {boiler}  \n\nunique gamma content"),          # trim-equal
        (40, f"{boiler}"),                                      # all-dup doc
        (50, "\n\n\n\n"),  # only whitespace paragraphs -> absent from output
        (60, None),        # NULL text -> absent (no paragraphs)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in curation.dedup_paragraphs(d).collect()}
    assert set(out) == {10, 20, 30, 40}
    assert out[10].text_deduped == f"{boiler}\n\nunique alpha content"
    assert out[10].n_paras == 2 and out[10].n_kept == 2
    # doc 20: both boilerplate copies die (first occurrence is doc 10)
    assert out[20].text_deduped == "unique beta content"
    assert out[20].n_paras == 3 and out[20].n_kept == 1
    # doc 30: trim-equal paragraph dies even with different raw bytes
    assert out[30].text_deduped == "unique gamma content"
    # doc 40: everything seen earlier -> empty rebuild, still a row
    assert out[40].text_deduped == "" and out[40].n_kept == 0


def test_dedup_paragraphs_within_doc(spark):
    """Repetition inside ONE document dedups too (idx order decides)."""
    d = spark.createDataFrame(
        [(1, "same para\n\nmiddle bit\n\nsame para")],
        "doc_id long, text string",
    )
    r = curation.dedup_paragraphs(d).collect()[0]
    assert r.text_deduped == "same para\n\nmiddle bit"
    assert r.n_paras == 3 and r.n_kept == 2
