#!/usr/bin/env python
"""spark-submit entry point: end-to-end training-corpus cleaning.

Composes the LLM-data operators into the pipeline a corpus team actually
runs, with an auditable funnel count per stage:

    scan documents(doc_id, text, lang, …)
      → C4 line-level cleaning (optional: --c4 — keep lines ending in
        terminal punctuation with >= --c4-min-words words and no
        'javascript'; drop docs with lorem-ipsum/brace markers; runs
        FIRST so every metric below measures the cleaned text)
      → text metrics (tokens, quality, md5 fingerprint — one codegen pass)
      → quality floor filter
      → repetition ceiling (optional: drop boilerplate/spam docs whose
        top-bigram fraction exceeds --max-top-bigram-frac)
      → Gopher repetition-ngram ceilings (optional: --gopher-rep —
        top-{2,3,4}-gram / dup-5-gram char-mass thresholds, Rae et al.
        Table A1 defaults)
      → exact dedup (keep min doc_id per normalized-content fingerprint)
      → paragraph dedup (optional: --para-dedup — corpus-wide exact
        paragraph dedup, first occurrence of each trimmed paragraph
        wins, docs rewritten from surviving paragraphs; CCNet recipe,
        coarser than span dedup so it runs first)
      → span dedup (optional: --span-dedup N — corpus-wide exact
        N-token-span dedup, first occurrence wins, docs rewritten from
        surviving spans, emptied docs dropped; Lee et al. 2022 order:
        between exact and near-dup dedup)
      → near-dup cluster dedup (winnow or minhash pairs → connected
        components → keep each cluster's root)
      → CCNet bucket sampling (optional: --ccnet-keep head=1,middle=.5,
        tail=0 — tercile by the freq_score quality proxy, keep per rate)
      → semantic dedup (optional: --semantic-dedup <embeddings parquet>
        — SemDeDup-style: drop docs whose embeddings are cosine-near-
        identical to a lower-id surviving doc; SRP buckets → connected
        components → keep representatives)
      → LM perplexity selection (optional: --lm-keep FRAC --lm-train
        PRED — the CCNet filter proper: add-k bigram LM trained on the
        curated subset, keep the top fraction by mean log probability)
      → DSIR selection (optional: --dsir-keep FRAC --dsir-target PRED —
        keep the most target-like fraction by hashed-bigram importance
        weight, distributed-percentile cutoff)
      → learned quality filter (optional: --quality-model-keep FRAC
        --quality-target PRED — fastText-style logistic model on
        hashed-bigram features, deterministic Adagrad training, keep
        the top FRAC by model probability)
      → per-source cap (optional: --cap-per-source N, deterministic)
      → benchmark decontamination (optional: --benchmark <parquet with
        doc_id,text> drops training docs sharing any 5-gram with it)
      → deterministic stratified sample per lang (reproducible data mixing)
      → PII scrub (optional: --scrub-pii rewrites the text column)
      → parquet sink + lineage manifest

Usage:
    spark-submit --py-files /tmp/bmspark.zip jobs/clean_corpus.py \\
        --source /data/documents --out /data/clean \\
        --min-quality 0.3 --langs en=0.5,fr=0.25 --default-frac 0.1

Prints ONE JSON line: per-stage funnel counts + output path. Every stage
is deterministic, so reruns produce byte-identical corpora (asserted in
tests/test_clean_corpus.py).

Scale notes: metrics+filters are one codegen'd scan pass; exact dedup
shuffles (hash, id) only; winnow clustering joins on 60-bit content
hashes (uniform keys); sampling is a pure filter. Funnel counts are
``session.observe`` metrics (CollectMetrics accumulators) that ride the
actions the funnel must run anyway — the connected-components rounds,
the lineage-boundary checkpoints, the final write — so auditing adds no
job of its own (VERDICT r6 #3: the per-stage count() chain serialized
the DAG and idled a 4N fleet; measured 2→8 scaling efficiency 0.33).
The exception is a metric Spark drops: when AQE replaces the subtree
holding an observation by an empty relation (a corpus with no near-dup
pair empties the whole clustering input), that stage's count is
recomputed with one job of its own.
The early per-doc filter stages (quality floor, repetition ceiling,
Gopher ruleset, Gopher rep-ngrams) are folded into ONE pass: their
metric frames left-join the quality-filtered corpus once and a single
conjunctive filter applies them all, with cumulative stage counts as
conditional sums in one observation.
"""

from __future__ import annotations

import argparse
import json
import sys

#: Gopher repetition ceilings, Rae et al. 2021 Table A1 (public paper)
GOPHER_REP_DEFAULTS = {
    "top2gram_char_frac": 0.20,
    "top3gram_char_frac": 0.18,
    "top4gram_char_frac": 0.16,
    "dup5gram_char_frac": 0.15,
}
#: CCNet terciles, by freq_score (curation.ccnet_buckets)
CCNET_BUCKETS = ("head", "middle", "tail")


def clean_corpus(
    spark,
    source: str,
    out: str,
    min_quality: float = 0.3,
    c4: bool = False,
    c4_min_words: int = 3,
    para_dedup: bool = False,
    para_sep: str = "\n\n",
    lang_fractions: dict[str, float] | None = None,
    default_fraction: float = 0.1,
    winnow_min_shared: int = 3,
    winnow_max_df: int | None = None,
    neardup_method: str = "winnow",
    dedup_keep: str = "min-id",
    span_dedup: int | None = None,
    minhash_threshold: float = 0.7,
    max_top_bigram_frac: float | None = None,
    gopher: bool = False,
    gopher_rep: dict[str, float] | None = None,
    cap_per_source: int | None = None,
    ccnet_keep: dict[str, float] | None = None,
    dsir_keep: float | None = None,
    dsir_target: str | None = None,
    lm_keep: float | None = None,
    lm_train: str | None = None,
    quality_model_keep: float | None = None,
    quality_target: str | None = None,
    quality_model_iters: int = 12,
    semantic_dedup_path: str | None = None,
    semantic_threshold: float = 0.9,
    semantic_dim: int = 64,
    scrub: bool = False,
    benchmark_path: str | None = None,
    decontaminate_ngram: int = 5,
    broadcast_bench: bool = True,
):
    """Run the cleaning funnel; returns (counts dict, output path).

    The per-lang stratified sample runs when ``lang_fractions`` is set.
    Arguments are checked before any Spark job runs; a bad one raises
    ValueError."""
    if dedup_keep not in ("min-id", "best-quality"):
        raise ValueError(f"unknown dedup_keep: {dedup_keep!r}")
    if neardup_method not in ("winnow", "minhash"):
        raise ValueError(f"unknown neardup_method: {neardup_method!r}")
    for flag, frac, need, pred in (
        ("--lm-keep", lm_keep, "--lm-train", lm_train),
        ("--dsir-keep", dsir_keep, "--dsir-target", dsir_target),
        ("--quality-model-keep", quality_model_keep, "--quality-target", quality_target),
    ):
        if frac is not None and not pred:
            raise ValueError(f"{flag} requires {need} <pred>")
    if ccnet_keep is not None and (
        set(ccnet_keep) - set(CCNET_BUCKETS)
        or not all(0 <= f <= 1 for f in ccnet_keep.values())
    ):
        raise ValueError(
            f"ccnet_keep takes {'/'.join(CCNET_BUCKETS)} fractions in [0, 1]: {ccnet_keep}"
        )
    if gopher_rep is not None and set(gopher_rep) - set(GOPHER_REP_DEFAULTS):
        raise ValueError(
            f"unknown gopher_rep ceilings {sorted(set(gopher_rep) - set(GOPHER_REP_DEFAULTS))}"
            f"; known: {sorted(GOPHER_REP_DEFAULTS)}"
        )

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from bmspark.functions import curation, dedup, quality_model, sampling, text
    from bmspark.plans import lineage
    from bmspark.session import observe

    # read() of each observed stage in funnel order; called AFTER the
    # final write, by which point every observation has been filled by
    # one of the funnel's inherent actions (CC rounds, lineage
    # checkpoints, model training, the write itself) or is recomputed
    reads = []

    def observed(frame, **aggs):
        frame, read = observe(frame, **aggs)
        reads.append(read)
        return frame

    def counted(frame, stage: str):
        return observed(frame, **{stage: F.count(F.lit(1))})

    docs = spark.read.parquet(source)

    # optional C4 line-level cleaning (Raffel et al. 2020 §2.2) FIRST —
    # it rewrites text, so every metric below measures the cleaned doc.
    # Narrow codegen pass (extra_cols passthrough, no join); `input`
    # moves onto the pre-clean scan so it still counts raw docs.
    if c4:
        extras = [c for c in docs.columns if c not in ("doc_id", "text")]
        c4f = curation.c4_clean(
            docs, min_words_per_line=c4_min_words, extra_cols=tuple(extras)
        )
        docs = counted(c4f, "input").filter(F.col("keep_doc")).select(
            "doc_id", F.col("text_clean").alias("text"), *extras
        )
        docs = counted(docs, "after_c4")

    measured = docs.select(
        "*",
        text.token_count("text").cast("bigint").alias("n_tokens"),
        text.quality_score("text").alias("quality"),
        text.fingerprint("text").alias("fp"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    base_cols = measured.columns
    persisted = [measured]
    try:
        measured_o = measured if c4 else counted(measured, "input")
        quality_ok = measured_o.filter(F.col("quality") >= min_quality)

        # ---- folded early filter pass ----
        # The quality floor and the optional per-doc ceilings
        # (repetition, Gopher ruleset, Gopher rep-ngrams) are all
        # intrinsic per-doc predicates: each metric frame left-joins the
        # quality survivors ONCE and one conjunctive filter applies
        # every active ceiling — one job region instead of a
        # join+count() action per stage. NULL metric rows (docs too
        # short to measure) reproduce the old anti/semi-join semantics:
        # anti-joined ceilings keep unmeasured docs, the Gopher semi
        # join drops them. Cumulative stage counts are conditional sums
        # in a single observation (rows reaching it = quality
        # survivors).
        early_aggs = {"after_quality": F.count(F.lit(1))}
        keep = F.lit(True)
        joined = quality_ok
        if max_top_bigram_frac is not None:
            rep_m = curation.repetition_metrics(
                quality_ok, "text", "doc_id"
            ).select("doc_id", "top_bigram_frac")
            joined = joined.join(rep_m, on="doc_id", how="left")
            keep = keep & ~F.coalesce(
                F.col("top_bigram_frac") > max_top_bigram_frac, F.lit(False)
            )
            early_aggs["after_repetition"] = F.sum(F.when(keep, 1).otherwise(0))
        if gopher:
            gq = curation.gopher_quality(quality_ok).select(
                "doc_id", "gopher_pass"
            )
            joined = joined.join(gq, on="doc_id", how="left")
            keep = keep & F.coalesce(F.col("gopher_pass"), F.lit(False))
            early_aggs["after_gopher"] = F.sum(F.when(keep, 1).otherwise(0))
        if gopher_rep is not None:
            rep_ng = curation.repetition_ngrams(quality_ok).select(
                "doc_id", *gopher_rep.keys()
            )
            joined = joined.join(rep_ng, on="doc_id", how="left")
            breach = None
            for col, ceil_v in gopher_rep.items():
                c = F.col(col) > ceil_v
                breach = c if breach is None else (breach | c)
            keep = keep & ~F.coalesce(breach, F.lit(False))
            early_aggs["after_gopher_rep"] = F.sum(F.when(keep, 1).otherwise(0))
        quality_ok = observed(joined, **early_aggs).filter(keep).select(*base_cols)

        # exact dedup: one survivor per content fingerprint — min doc_id,
        # or the highest-quality copy (crawl duplicates often differ in
        # extraction quality; min-id throws the good copy away whenever
        # the worse one crawled first)
        order = [F.col("doc_id").asc()]
        if dedup_keep == "best-quality":
            order.insert(0, F.col("quality").desc())
        exact = counted(dedup.keep_first(quality_ok, "fp", *order), "after_exact_dedup")
        # persist the exact-dedup survivors: every downstream stage
        # (paragraph/span dedup builds AND their join-backs, winnow
        # pairing, the final chain) re-derives this frame, so without
        # the cache each consumer re-runs the metric joins + dedup
        # window AND — measured via the round-8 event-log profile —
        # Catalyst re-optimizes that whole subtree before every action
        # (~0.8 s driver gaps per heavy action at sf0.1). After first
        # materialization the cache substitutes as a leaf in both
        # execution and planning. Spill-safe; released with `measured`.
        exact = exact.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(exact)

        # optional corpus-wide rewrite dedup, coarse to fine. CCNet
        # paragraph dedup (Wenzek et al. 2020) runs first — nav
        # bars/cookie banners vanish at paragraph granularity before
        # spans chase finer repetition. With --c4 on, cleaned docs carry
        # single newlines only, so pass para_sep="\n" (--para-sep line)
        # to dedup at line granularity there. Span dedup follows (Lee et
        # al. 2022 ordering: after exact dedup — identical docs are
        # already collapsed so their spans don't fight — and BEFORE
        # near-dup clustering, which then sees boilerplate-stripped text
        # and stops pairing docs on shared boilerplate alone). Each
        # rewrites docs from their surviving segments and joins the text
        # back; docs whose every segment was seen earlier elsewhere come
        # back empty and are dropped. The rewrite is persisted for the
        # rest of the funnel (downstream stages re-read the rewritten
        # text; unpersisted with `measured`), and the removed-segment
        # count observes ABOVE the cache (rows flow through once at
        # materialization, from cache afterwards).
        rewrites = (
            ("para", "paras", para_dedup,
             lambda d: curation.dedup_paragraphs(d, sep=para_sep)),
            ("span", "spans", span_dedup is not None,
             lambda d: curation.dedup_spans(d, span_dedup)),
        )
        for stage, unit, on, rewrite in rewrites:
            if not on:
                continue
            rw = rewrite(exact).persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(rw)
            removed = F.sum(F.col(f"n_{unit}") - F.col("n_kept"))
            rw = observed(rw, **{f"{unit}_removed": removed})
            exact = exact.drop("text").join(
                rw.filter(F.col("n_kept") > 0).select(
                    "doc_id", F.col("text_deduped").alias("text")
                ),
                on="doc_id",
            )
            exact = counted(exact, f"after_{stage}_dedup")

        # near-dup cluster dedup: candidate pairs → components → keep roots.
        # winnow = exact shared-fingerprint evidence (deterministic, has a
        # SQL oracle); minhash = banded LSH on estimated Jaccard — the
        # scale-preferred generator when winnow's exact-fingerprint
        # density is too high (boilerplate-heavy corpora).
        if neardup_method == "winnow":
            pairs = dedup.winnow_neardup_pairs(
                exact, "text", "doc_id", min_shared=winnow_min_shared,
                max_df=winnow_max_df,
            )
        else:
            pairs = dedup.minhash_lsh_pairs(
                exact, "text", "doc_id", threshold=minhash_threshold
            ).select("id_a", "id_b")
        clusters = dedup.connected_components(pairs)
        drop = clusters.filter(F.col("id") != F.col("root")).select(
            F.col("id").alias("doc_id")
        )
        neardup_free = counted(
            exact.join(drop, on="doc_id", how="left_anti"), "after_neardup_dedup"
        )

        # lineage boundary: every optional stage below (semantic dedup,
        # CCNet, DSIR, quality model) is SELF-REFERENTIAL — it derives a
        # cutoff/weight/keep-set from `final` and joins it back, so each
        # stage embeds the previous plan subtree several times. Stacked,
        # the logical plan grows exponentially (measured: the all-stages
        # funnel OOMed the driver just *printing* the plan). persist()
        # caches blocks but not the plan; localCheckpoint truncates the
        # lineage itself — at real scale this boundary is a materialized
        # intermediate table.
        final = neardup_free.localCheckpoint(eager=True)
        # optional SemDeDup-style semantic dedup (Abbas et al. 2023):
        # docs whose EMBEDDINGS are cosine-near-identical are semantic
        # restatements textual dedup can't see — keep one per embedding
        # cluster. The pair graph is built over the embeddings of docs
        # still alive at this stage (so every cluster representative is
        # a survivor by construction); docs without an embedding row
        # pass through untouched.
        if semantic_dedup_path is not None:
            from bmspark.functions import similarity

            emb = spark.read.parquet(semantic_dedup_path)
            alive = emb.join(
                final.select(F.col("doc_id").alias("vec_id")),
                on="vec_id", how="left_semi",
            )
            sem = similarity.semantic_dedup(
                alive, threshold=semantic_threshold, dim=semantic_dim
            )
            sem_drop = sem.filter(~F.col("is_rep")).select(
                F.col("vec_id").alias("doc_id")
            )
            final = counted(
                final.join(sem_drop, on="doc_id", how="left_anti"),
                "after_semantic_dedup",
            )
        # optional CCNet bucket sampling: tercile the deduped corpus by
        # the freq_score quality proxy, then keep each bucket at its
        # configured rate via the deterministic hash sampler
        if ccnet_keep is not None:
            buckets = curation.ccnet_buckets(final).select("doc_id", "bucket")
            final = (
                final.join(buckets, on="doc_id")
                .transform(lambda d: sampling.stratified_sample(
                    d, "bucket", ccnet_keep, key="doc_id",
                    default_fraction=0.0, salt="ccnet"))
                .drop("bucket")
            )
            final = counted(final, "after_ccnet")
        # optional score selections, each keeping the top FRAC of docs:
        #  - lm: bigram-LM perplexity — the ACTUAL CCNet filter (Wenzek
        #    et al. 2020: rank by the perplexity of an LM trained on
        #    curated text; --ccnet-keep's freq_score is the model-free
        #    proxy): add-k bigram model trained on the --lm-train
        #    subset, scored by mean log probability;
        #  - dsir (Xie et al. 2023): hashed-bigram log importance ratio
        #    against the --dsir-target subset (most target-like first);
        #  - quality_model (fastText-style linear model, Brown et al.
        #    2020 App. A): target-vs-rest logistic regression on
        #    hashed-bigram features over the CURRENT corpus, scored by
        #    model probability; every doc gets a score (short docs
        #    score by bias alone).
        # The cutoff comes from ONE exact distributed F.percentile over
        # the rounded scores (bounded buffer, same invariant as
        # ccnet_buckets) — never a corpus-wide rank window. Ties at the
        # cutoff keep (deterministic; may retain slightly more than the
        # requested fraction). Docs too short to score (<2 tokens: NULL
        # LM logprob, no DSIR weight row) are kept unconditionally
        # rather than silently dropped (ADVICE r5): only SCORED docs
        # compete for the cutoff, and an unscored doc is a quality-floor
        # concern (--min-tokens), not a selection one.
        selections = (
            ("lm", lm_keep, "lm_logprob",
             lambda f: curation.lm_score(f, f.filter(lm_train))),
            ("dsir", dsir_keep, "dsir_logw",
             lambda f: curation.dsir_weight(f, f.filter(dsir_target))),
            ("quality_model", quality_model_keep, "q_prob",
             lambda f: quality_model.quality_classifier(
                 f, quality_target, iters=quality_model_iters)),
        )
        for stage, frac, score_col, score in selections:
            if frac is None:
                continue
            if stage == "quality_model":
                # second lineage boundary: training reads `final` many
                # times (pos/neg feature builds + per-round scoring) and
                # the semantic/ccnet/dsir stages above stack
                # self-referential joins on it after the first boundary
                final = final.localCheckpoint(eager=True)
            scores = score(final).select("doc_id", score_col)
            cut = scores.agg(
                F.percentile(score_col, F.lit(1.0 - frac)).alias("__cut")
            )
            final = counted(
                final.crossJoin(F.broadcast(cut))
                .join(scores, on="doc_id", how="left")
                .filter(
                    F.col(score_col).isNull()
                    | (F.col(score_col) >= F.col("__cut"))
                )
                .drop(score_col, "__cut"),
                f"after_{stage}",
            )
        if cap_per_source is not None:
            final = counted(
                curation.cap_per_group(final, "source", cap_per_source),
                "after_source_cap",
            )
        if benchmark_path is not None:
            bench = spark.read.parquet(benchmark_path)
            leaked = curation.contaminated_docs(
                final, bench, n=decontaminate_ngram, min_shared=1,
                broadcast_bench=broadcast_bench,
            ).select("doc_id")
            final = counted(
                final.join(leaked, on="doc_id", how="left_anti"),
                "after_decontaminate",
            )
        if lang_fractions:
            final = sampling.stratified_sample(
                final,
                "lang",
                lang_fractions,
                key="doc_id",
                default_fraction=default_fraction,
            )
        # output count observes ABOVE the row-preserving scrub rewrite
        # and fills during the write — the old count()-then-write shape
        # executed the whole post-checkpoint chain twice.
        final = counted(final, "output")
        if scrub:
            final = final.withColumn("text", curation.scrub_pii(F.col("text")))
        final.drop("fp").write.mode("overwrite").parquet(out)

        counts = {k: v for read in reads for k, v in read().items()}
        lineage.commit_manifest(
            out,
            sink="clean_corpus",
            row_count=counts["output"],
            plan_fingerprint=f"clean_corpus_v1:{neardup_method}",
            metrics={"funnel": counts},
        )
        return counts, out
    finally:
        for frame in persisted:
            frame.unpersist()


def _kv_floats(arg: str) -> dict[str, float]:
    """argparse type for ``key=F,key=F`` options (--langs, --ccnet-keep,
    --gopher-rep): a malformed value is a usage error (exit 2)."""
    try:
        return {k: float(v) for k, v in (kv.split("=") for kv in arg.split(","))}
    except ValueError:
        raise argparse.ArgumentTypeError(f"expected key=F[,key=F...], got {arg!r}") from None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument(
        "--c4", action="store_true",
        help="C4 line-level cleaning before any metric (Raffel et al. "
             "2020 §2.2): keep lines ending in terminal punctuation "
             "with >= --c4-min-words words and no 'javascript'; drop "
             "docs with lorem-ipsum/curly-brace markers or no "
             "surviving lines",
    )
    ap.add_argument("--c4-min-words", type=int, default=3)
    ap.add_argument(
        "--para-dedup", action="store_true",
        help="corpus-wide exact paragraph dedup between exact and span "
             "dedup (CCNet recipe): first occurrence of each trimmed "
             "paragraph wins, docs are rewritten from surviving "
             "paragraphs, emptied docs are dropped",
    )
    ap.add_argument(
        "--para-sep", choices=["blank", "line"], default="blank",
        help="paragraph boundary for --para-dedup: 'blank' = blank "
             "line (\\n\\n, the CCNet default), 'line' = every newline "
             "(use with --c4, whose cleaned docs carry single newlines)",
    )
    ap.add_argument(
        "--langs", type=_kv_floats, default=None,
        help="per-lang sample fractions, e.g. en=0.5,fr=0.25 (omit = no sampling)",
    )
    ap.add_argument("--default-frac", type=float, default=0.1)
    ap.add_argument("--winnow-min-shared", type=int, default=3)
    ap.add_argument(
        "--winnow-max-df", type=int, default=None,
        help="stop-fingerprint cap: drop winnow fingerprints shared by "
             "more docs than this before pairing (boilerplate guard; "
             "None = exact semantics)",
    )
    ap.add_argument(
        "--span-dedup", type=int, default=None, metavar="N",
        help="corpus-wide exact N-token-span dedup between exact and "
             "near-dup dedup (Lee et al. 2022 order): first occurrence "
             "of each span wins, docs are rewritten from surviving "
             "spans, fully-deduplicated docs are dropped",
    )
    ap.add_argument(
        "--neardup-method", choices=["winnow", "minhash"], default="winnow",
        help="near-dup candidate generator (minhash = banded LSH, the "
        "scale-preferred path for boilerplate-heavy corpora)",
    )
    ap.add_argument("--minhash-threshold", type=float, default=0.7)
    ap.add_argument(
        "--dedup-keep", choices=["min-id", "best-quality"],
        default="min-id",
        help="which copy survives exact dedup: lowest doc_id, or the "
             "highest-quality copy (quality-score tie-broken by id)",
    )
    ap.add_argument(
        "--max-top-bigram-frac", type=float, default=None,
        help="drop docs whose most frequent bigram exceeds this share "
        "(Gopher-style repetition ceiling; omit = no repetition filter)",
    )
    ap.add_argument(
        "--cap-per-source", type=int, default=None,
        help="keep at most N docs per source (deterministic md5 order)",
    )
    ap.add_argument(
        "--scrub-pii", action="store_true",
        help="redact emails/IPs/phones in the output text column",
    )
    ap.add_argument(
        "--benchmark", default=None,
        help="parquet path of an eval/benchmark table (doc_id, text); "
        "training docs sharing any n-gram with it are dropped",
    )
    ap.add_argument("--decontaminate-ngram", type=int, default=5)
    ap.add_argument(
        "--no-broadcast-bench", action="store_true",
        help="let the planner pick the decontamination join strategy "
             "instead of force-broadcasting the benchmark gram set — "
             "use when the benchmark is large enough to threaten the "
             "broadcast ceiling / driver memory",
    )
    ap.add_argument(
        "--ccnet-keep", type=_kv_floats, default=None,
        help="CCNet bucket keep-rates as head=F,middle=F,tail=F — "
             "tercile the deduped corpus by the freq_score quality "
             "proxy and keep each bucket at its rate (deterministic "
             "hash sampling)",
    )
    ap.add_argument(
        "--dsir-keep", type=float, default=None, metavar="FRAC",
        help="keep the most target-like FRAC of docs by DSIR hashed-"
             "bigram importance weight (requires --dsir-target)",
    )
    ap.add_argument(
        "--dsir-target", default=None, metavar="PRED",
        help="SQL predicate over the documents frame selecting the "
             "DSIR target subset, e.g. \"source IN ('src0','src1')\"",
    )
    ap.add_argument(
        "--lm-keep", type=float, default=None, metavar="FRAC",
        help="keep the top FRAC of docs by add-k bigram-LM mean log "
             "probability, model trained on the --lm-train subset "
             "(the CCNet perplexity filter)",
    )
    ap.add_argument(
        "--lm-train", default=None, metavar="PRED",
        help="SQL predicate selecting the LM training subset, e.g. "
             "\"source IN ('src0','src1')\"",
    )
    ap.add_argument(
        "--quality-model-keep", type=float, default=None, metavar="FRAC",
        help="train a fastText-style logistic quality model "
             "(--quality-target positives vs the rest, hashed-bigram "
             "features, deterministic Adagrad) and keep the top FRAC "
             "of docs by model probability",
    )
    ap.add_argument(
        "--quality-target", default=None, metavar="PRED",
        help="SQL predicate selecting the quality-model positive class, "
             "e.g. \"source IN ('src0','src1')\"",
    )
    ap.add_argument(
        "--semantic-dedup", default=None, metavar="PATH",
        help="parquet embeddings table (vec_id, embedding) — drop docs "
             "whose embeddings are cosine-near-identical to a "
             "lower-id surviving doc (SemDeDup-style; SRP buckets + "
             "connected components)",
    )
    ap.add_argument("--semantic-threshold", type=float, default=0.9)
    ap.add_argument("--semantic-dim", type=int, default=64)
    ap.add_argument(
        "--gopher", action="store_true",
        help="apply the Gopher word-level quality ruleset after the "
             "quality floor (token count, mean word length, symbol "
             "ratio, alpha fraction, stopword hits)",
    )
    ap.add_argument(
        "--gopher-rep", type=_kv_floats, nargs="?",
        const=GOPHER_REP_DEFAULTS, default=None,
        metavar="COL=CEIL,...",
        help="apply Gopher repetition-ngram ceilings: drop docs whose "
             "top-{2,3,4}-gram / dup-5-gram char mass exceeds its "
             "ceiling. Bare flag = Rae et al. Table A1 defaults "
             "(0.20/0.18/0.16/0.15); or pass e.g. "
             "top2gram_char_frac=0.3,dup5gram_char_frac=0.2",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from bmspark.session import get_session

    spark = get_session("bmspark-clean-corpus", master=args.master)
    counts, out = clean_corpus(
        spark,
        args.source,
        args.out,
        min_quality=args.min_quality,
        c4=args.c4,
        c4_min_words=args.c4_min_words,
        para_dedup=args.para_dedup,
        para_sep="\n\n" if args.para_sep == "blank" else "\n",
        lang_fractions=args.langs,
        default_fraction=args.default_frac,
        winnow_min_shared=args.winnow_min_shared,
        winnow_max_df=args.winnow_max_df,
        neardup_method=args.neardup_method,
        dedup_keep=args.dedup_keep,
        span_dedup=args.span_dedup,
        minhash_threshold=args.minhash_threshold,
        max_top_bigram_frac=args.max_top_bigram_frac,
        gopher=args.gopher,
        gopher_rep=args.gopher_rep,
        cap_per_source=args.cap_per_source,
        dsir_keep=args.dsir_keep,
        dsir_target=args.dsir_target,
        lm_keep=args.lm_keep,
        lm_train=args.lm_train,
        quality_model_keep=args.quality_model_keep,
        quality_target=args.quality_target,
        semantic_dedup_path=args.semantic_dedup,
        semantic_threshold=args.semantic_threshold,
        semantic_dim=args.semantic_dim,
        ccnet_keep=args.ccnet_keep,
        scrub=args.scrub_pii,
        benchmark_path=args.benchmark,
        decontaminate_ngram=args.decontaminate_ngram,
        broadcast_bench=not args.no_broadcast_bench,
    )
    print(json.dumps({"funnel": counts, "out": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
