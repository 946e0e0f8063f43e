#!/usr/bin/env python
"""Empirical 10x scale probe (VERDICT r5 next #1): measure the heavy
dedup/curation/ANN operators at two corpus sizes a decade apart and
record the observed scaling exponent per op, converting SCALE.md's
design arguments into measurements.

Protocol:
- corpora are a deterministic high-entropy probe fixture (150-500
  tokens/doc drawn from a 5e7-token space, planted 10% clone rate —
  half exact, half near; see docs_path below for why the 31-word-vocab
  pages fixture is wrong for near-dup ops) at SMALL and
  BIG = 10 x SMALL rows.
- embeddings ops use a synthetic deterministic embedding table
  (per-id JVM-side trig hash — no Python, no RNG state) at
  SMALL/10 and BIG/10 rows (ANN tables are usually an order smaller
  than the raw corpus; the RATIO is what the probe measures).
- each op is timed once per scale after an untimed warm-up of the
  exact code path at 1/100 scale (JIT + Python workers), via
  noop-format writes (no driver materialization).
- budget guard: if the small-scale run extrapolates past
  BMSPARK_PROBE_OP_BUDGET seconds (default 1200) for the big run, the
  op is measured at (SMALL/10, SMALL) instead and reported with its
  actual pair — a smaller decade, never a silent skip.
- scaling exponent = log10(t_big / t_small) for a 10x row step:
  1.0 = linear, <1 = sublinear (fixed overheads amortizing), >1.1 =
  superlinear — the red flag the probe exists to catch.

Prints ONE JSON line; BENCH/SCALE_PROBE.md gets the full table. Run:
    SPARK_GRAFT_CPUS=32 python scale_probe.py
Env: BMSPARK_PROBE_SMALL (default 400000), BMSPARK_PROBE_OP_BUDGET.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

PAGES_GEN_VERSION = 2  # keep in sync with bench.py


def gen_probe_docs(spark, n: int, scratch: str, cpus: int) -> str:
    """Materialize (once) and return the path of the n-row high-entropy
    probe corpus described in the module docstring: per-doc tokens from
    a 5*10^7-token space + a planted 10% clone rate (half exact, half
    near: first token dropped). Pure JVM codegen, text a deterministic
    function of doc_id — the same n always yields the same bytes.
    Module-level so other harnesses (bench_funnel_scale.py) can share
    the exact fixture instead of re-deriving the formula.
    """
    from pyspark.sql import functions as F

    d = os.path.join(scratch, f"probedocs_v1_{n}")
    if os.path.exists(os.path.join(d, "_SUCCESS")):
        return d
    print(f"generating {n:,} probe docs -> {d}", file=sys.stderr)

    def _gen_text(src: "F.Column"):
        n_words = F.pmod(F.xxhash64(src), F.lit(350)) + F.lit(150)
        return F.array_join(
            F.transform(
                F.sequence(F.lit(1), n_words),
                lambda j: F.concat(
                    F.lit("w"),
                    F.pmod(
                        F.xxhash64(src * F.lit(1_000_003) + j),
                        F.lit(50_000_000),
                    ).cast("string"),
                ),
            ),
            " ",
        )

    base = spark.range(0, n, numPartitions=max(64, cpus * 4)).select(
        F.col("id").alias("doc_id"), _gen_text(F.col("id")).alias("text")
    )
    clones = spark.range(
        0, n // 10, numPartitions=max(16, cpus)
    ).select((F.col("id") * 10).alias("src"))
    near = F.array_join(
        F.slice(F.split(_gen_text(F.col("src")), " "), 2, 1_000_000),
        " ",
    )
    clones = clones.select(
        (F.col("src") + F.lit(10_000_000_000)).alias("doc_id"),
        F.when(F.col("src") % 20 == 0, _gen_text(F.col("src")))
        .otherwise(near).alias("text"),
    )
    base.write.mode("overwrite").parquet(d)
    clones.write.mode("append").parquet(d)
    return d


def main() -> None:
    small = int(os.environ.get("BMSPARK_PROBE_SMALL", "400000"))
    big = small * 10
    budget = float(os.environ.get("BMSPARK_PROBE_OP_BUDGET", "1200"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    scratch = os.environ.get("BMSPARK_BENCH_DIR", "/tmp/bmspark_bench")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

    from pyspark.sql import functions as F

    from bmspark.functions import curation, dedup, similarity
    from bmspark.session import get_session

    spark = get_session("bmspark-scale-probe", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # Probe corpus: the bench pages fixture draws words from a 31-word
    # vocabulary — EVERY doc is a true near-dup of every other, so pair
    # generators correctly emit O(n^2) pairs on it (measured: x20 for
    # x10 rows at tiny scale). Real web corpora are the opposite:
    # high-entropy text with a bounded duplicate RATE. The probe corpus
    # models that: tokens drawn per-doc from a 5*10^7-token space
    # (cross-doc collisions negligible) + a planted 10% clone rate
    # (half exact, half near: first token dropped) — the structure
    # every dedup op is designed for, with linear true-pair counts.
    # Pure JVM codegen, materialized to parquet once (generation
    # untimed), text a pure function of the source doc id — see
    # gen_probe_docs (module level, shared with bench_funnel_scale.py).
    def docs_path(n: int) -> str:
        return gen_probe_docs(spark, n, scratch, cpus)

    def docs_at(n: int):
        return spark.read.parquet(docs_path(n))

    def emb_at(n: int):
        # deterministic 64-d vectors with INDEPENDENT per-coordinate
        # hashes + a planted 10% near-clone rate. (First version used
        # sin(id*a + i*b) — every vector is then a phase-shift of ONE
        # sinusoid, cos(u,v) = cos(dphase), so ~14% of ALL pairs are
        # genuine near-dups and near-dup ops correctly emit O(n^2)
        # pairs on it. Same lesson as the 31-word-vocab text fixture:
        # degenerate corpora make quadratic output the right answer.)
        def gen_vec(src):
            return F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: F.pmod(
                    F.xxhash64(src * F.lit(67) + i), F.lit(2_000_001)
                ) / F.lit(1_000_000.0) - F.lit(1.0),
            )

        base = spark.range(0, n, numPartitions=max(32, cpus * 2)).select(
            F.col("id").alias("vec_id"), gen_vec(F.col("id")).alias("embedding")
        )
        src = (F.col("id") * 10).alias("src")
        clone_vec = F.concat(
            F.array(F.element_at(gen_vec(F.col("src")), 1) * 0.9),
            F.slice(gen_vec(F.col("src")), 2, 63),
        )
        clones = (
            spark.range(0, n // 10, numPartitions=max(16, cpus))
            .select(src)
            .select(
                (F.col("src") + F.lit(1_000_000_000)).alias("vec_id"),
                clone_vec.alias("embedding"),
            )
        )
        return base.unionByName(clones)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # op name -> (frame builder, action). Frames are built per scale.
    def op_spans(d):
        noop(curation.dedup_spans(d, 10))

    def op_substrings(d):
        noop(curation.dedup_substrings(d, 10))

    def op_substrings_hashed(d):
        noop(curation.dedup_substrings(d, 10, hash_grams=True))

    def op_minhash(d):
        noop(dedup.minhash_lsh_pairs(d, "text", "doc_id", threshold=0.5))

    def op_dsir(d):
        noop(curation.dsir_weight(d, d.filter(F.col("doc_id") % 10 < 2)))

    def op_clusters(d):
        pairs = dedup.winnow_neardup_pairs(d, "text", "doc_id", min_shared=3)
        dedup.connected_components(pairs).write.format("noop").mode(
            "overwrite"
        ).save()

    def op_exact_dedup(d):
        noop(dedup.exact_dedup(d, "text", "doc_id"))

    def op_lm_score(d):
        # train side = 1/5th of the corpus (CCNet trains on the curated
        # slice); both sides scale with the probe so the term-keyed
        # shuffle joins and the count-table build are both exercised
        noop(curation.lm_score(d, d.filter(F.col("doc_id") % 5 == 0)))

    def op_bpe_train(d):
        from bmspark.functions import bpe

        # n_merges fixed at 10 (bench parity): the corpus-size question
        # is the ONE word-freq collapse scan + per-round vocab-frame
        # shuffles, which is what grows with rows; merge count is a
        # user knob, not a scale dimension
        rows = bpe.bpe_train(d, n_merges=10).collect()
        assert len(rows) == 10

    def op_quality(d):
        from bmspark.functions import quality_model

        noop(quality_model.quality_classifier(
            d, "doc_id % 10 < 2", iters=3
        ))

    def op_batch_topk(e):
        # query batch ∝ corpus (1/40th) — a realistic re-embedding /
        # retrieval batch. ALL-vectors-as-queries is an N x N ANN whose
        # work grows 100x per decade by definition (it OOMed the JVM at
        # 400k x 400k); that regime belongs to embedding_neardup_pairs /
        # semantic_dedup, probed separately below.
        qs = e.filter(F.col("vec_id") % 40 == 0).select(
            (F.col("vec_id") + 10_000_000).alias("query_id"), "embedding"
        )
        noop(similarity.batch_topk(e, qs, k=5, dim=64, drop_self=False,
                                   n_planes=12))

    def op_semantic(e):
        noop(similarity.semantic_dedup(e, threshold=0.9, dim=64,
                                       n_planes=12, n_tables=2))

    DOC_OPS = {
        "exact_dedup": op_exact_dedup,
        "dedup_spans": op_spans,
        "dedup_substrings": op_substrings,
        "dedup_substrings_hashed": op_substrings_hashed,
        "dedup_minhash": op_minhash,
        "text_dsir_weight": op_dsir,
        "dedup_clusters": op_clusters,
        "quality_classifier": op_quality,
        "text_lm_score": op_lm_score,
        "bpe_train": op_bpe_train,
    }
    EMB_OPS = {
        "sim_batch_topk": op_batch_topk,
        "dedup_semantic": op_semantic,
    }

    # warm the code paths untimed (JIT, Python worker imports)
    warm = docs_at(small).limit(4000).localCheckpoint(eager=True)
    for fn in DOC_OPS.values():
        fn(warm)
    warm_e = emb_at(2000).localCheckpoint(eager=True)
    for fn in EMB_OPS.values():
        fn(warm_e)

    results: dict[str, dict] = {}

    def timed(fn, frame) -> float:
        t0 = time.monotonic()
        fn(frame)
        return round(time.monotonic() - t0, 2)

    def probe(name, fn, mk_frame, n_small, n_big):
        t_small = timed(fn, mk_frame(n_small))
        pair = (n_small, n_big)
        # budget guard: assume ~linear for the estimate; skew-safe ops
        # should be near 10x + shuffle overheads, cap at 14x
        if t_small * 14 > budget:
            pair = (n_small // 10, n_small)
            t_tiny = timed(fn, mk_frame(pair[0]))
            t_small, t_big = t_tiny, t_small
        else:
            try:
                t_big = timed(fn, mk_frame(n_big))
            except Exception as e:  # OOM / disk-full at the big scale:
                # fall back a decade and RECORD the failure — a crash at
                # 10x is itself probe signal, never silently dropped
                print(f"{name}: big run FAILED ({type(e).__name__}); "
                      f"falling back a decade", file=sys.stderr)
                pair = (n_small // 10, n_small)
                t_tiny = timed(fn, mk_frame(pair[0]))
                t_small, t_big = t_tiny, t_small
                results[name + "__big_run_failed"] = {
                    "rows": n_big, "error": type(e).__name__,
                }
        ratio = t_big / max(t_small, 1e-9)
        results[name] = {
            "rows_small": pair[0], "rows_big": pair[1],
            "t_small_s": t_small, "t_big_s": t_big,
            "ratio": round(ratio, 2),
            "exponent": round(math.log10(max(ratio, 1e-9)), 3),
        }
        print(f"{name}: {pair[0]:,}->{pair[1]:,} rows, "
              f"{t_small}s -> {t_big}s (x{ratio:.1f})", file=sys.stderr)

    # materialize both corpora up front (generation untimed)
    docs_path(small), docs_path(big)

    # optional subset (comma-separated op names) — rerun just the ops
    # that failed or changed without repaying the full sweep
    only = os.environ.get("BMSPARK_PROBE_ONLY")
    only_set = set(only.split(",")) if only else None

    for name, fn in DOC_OPS.items():
        if only_set is None or name in only_set:
            probe(name, fn, docs_at, small, big)
    for name, fn in EMB_OPS.items():
        if only_set is None or name in only_set:
            probe(name, fn, emb_at, small // 10, big // 10)

    os.makedirs("BENCH", exist_ok=True)
    rows = "\n".join(
        f"| {n} | {r['rows_small']:,} | {r['rows_big']:,} | "
        f"{r['t_small_s']:.1f} | {r['t_big_s']:.1f} | x{r['ratio']:.1f} | "
        f"{r['exponent']:.2f} |"
        for n, r in results.items()
    )
    verdicts = "\n".join(
        f"- **{n}**: x{r['ratio']:.1f} for 10x rows (exponent "
        f"{r['exponent']:.2f}) — "
        + ("NEAR-LINEAR or better: scales." if r["ratio"] <= 12 else
           "SUPERLINEAR: needs investigation.")
        for n, r in results.items()
    )
    # subset runs must not clobber the full merged report
    out_md = ("BENCH/SCALE_PROBE_partial.md" if only_set
              else "BENCH/SCALE_PROBE.md")
    with open(out_md, "w") as f:
        f.write(f"""# Empirical 10x scale probe

Measured on local[{cpus}] ({os.environ.get('SPARK_GRAFT_DRIVER_MEM')}
heap). Corpora: deterministic high-entropy docs fixture (150-500
tokens/doc from a 5e7-token space, planted 10% clone rate);
embeddings: deterministic 64-d synthetic vectors. One timed run per
(op, scale) after untimed warm-up of the exact code path; noop sink.
Ops whose big run would blow the {budget:.0f}s/op budget are measured a
decade lower (the pair column shows actual rows).

| op | rows small | rows big | t_small (s) | t_big (s) | ratio | exponent (log10) |
|---|---|---|---|---|---|---|
{rows}

Exponent 1.0 = linear in rows; < 1 = fixed overheads amortizing;
> ~1.08 (ratio > 12) = superlinear — the red flag this probe exists
to catch.

{verdicts}

Caveat: a single box delivers ~11-12 effective cores and one shared
page cache — the big runs see more memory/disk pressure than a real
cluster would at the same per-executor data share, so these exponents
are PESSIMISTIC upper bounds for cluster scaling.
""")
    print(json.dumps({"metric": "10x scale probe", "ops": results,
                      "small": small, "big": big, "cpus": cpus}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
