#!/usr/bin/env python
"""Funnel scaling evidence at a COMPUTE-DOMINANT input size.

The bench.py funnel input (sf0.1 documents, 5,000 rows) stopped being a
scaling fixture the moment VERDICT r6 #4 landed: with the per-stage
count() actions replaced by observe() metrics, the whole 5k-doc funnel
runs in ~27-34 s at EVERY parallelism level — the wall is the fixed
job-scheduling / iteration floor (CC label rounds, lineage checkpoints,
percentile cutoffs), not per-doc compute, so a 2->8 thread efficiency
computed on it measures Amdahl's serial floor, not the plan (measured
r7: 167 -> 177 -> 183 docs/s across local[2/8/32] — flat).

This harness reruns the SAME clean_corpus job on the high-entropy probe
corpus (scale_probe.py generator: 5*10^7-token vocabulary + planted 10%
clone rate — the corpus shape the dedup stages are designed for) at
~44k and ~440k docs, where per-doc compute dominates the floor, and
reports throughput at local[2] vs local[8] (the N-vs-4N pair that fits
inside this host's real core budget — see BENCH/BASELINE.md CPU probe)
plus the input-size scaling at fixed parallelism. Stage selection vs
the bench funnel: gopher=False (the Gopher stopword rule correctly
empties a synthetic-vocabulary corpus — no English stopwords exist in
it) and min_quality=0 (same reason); every structural stage — exact
best-quality dedup, span dedup, rep-ngram ceilings, winnow cluster
dedup (CC), CCNet terciles, decontamination against a 1/997 benchmark
split — runs for real.

Writes BENCH/FUNNEL_SCALE.md; one JSON line on stdout.

Worker mode (internal): BMSPARK_FUNNEL_WORKER=<cpus>,<n_docs> runs one
timed funnel in this process and prints a JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

DOC_SIZES = (40_000, 400_000)
#: (cpus, n_docs, reps) cells. The parallel-efficiency pair runs at the
#: small (already compute-dominant: tens of minutes >> the ~30 s
#: floor) size; the input-growth decade runs at FIXED local[32] —
#: measured cell walls are ~8x the original estimate on this host, so
#: the decade at local[8] would blow the per-cell timeout, and a
#: (2, 400k) cell would add hours for no additional claim.
CELLS = (
    (2, 40_000, 2),
    (8, 40_000, 2),
    (32, 40_000, 1),
    (32, 400_000, 1),
)
SCRATCH = os.environ.get("BMSPARK_BENCH_DIR", "/tmp/bmspark_bench")


def worker(cpus: int, n_docs: int, reps: int) -> None:
    # 48g: the 400k-doc cell's shuffle spills (decontaminate 5-grams,
    # span/winnow exchanges) overflowed the sandbox disk at 16g — more
    # heap keeps the aggregation maps in memory. The host has 128 GiB.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    from bmspark.session import get_session
    from jobs.clean_corpus import GOPHER_REP_DEFAULTS, clean_corpus
    from scale_probe import gen_probe_docs

    spark = get_session(
        "bmspark-funnel-scale",
        master=f"local[{cpus}]",
        # zstd shuffle/spill compression (~2x lz4's ratio): the 400k
        # cell's peak scratch exceeded this sandbox's free disk with
        # lz4 even after the periodic-GC fix; the engine default stays
        # lz4 so the operator benches are unperturbed.
        extra_confs={"spark.io.compression.codec": "zstd"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Shared fixture with scale_probe.py — generated here (untimed,
    # deterministic) if the scratch dir was cleared.
    src = gen_probe_docs(spark, n_docs, SCRATCH, cpus)

    bench_tbl = os.path.join(SCRATCH, f"funnelscale_benchtbl_{n_docs}")
    if not os.path.exists(os.path.join(bench_tbl, "_SUCCESS")):
        (spark.read.parquet(src).filter("doc_id % 997 = 0")
         .select("doc_id", "text")
         .write.mode("overwrite").parquet(bench_tbl))

    out = os.path.join(SCRATCH, f"funnelscale_out_{cpus}_{n_docs}")
    best, counts = None, None
    for _ in range(reps):
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        t0 = time.monotonic()
        counts, _ = clean_corpus(
            spark, src, out,
            min_quality=0.0,
            dedup_keep="best-quality",
            span_dedup=10,
            gopher=False,
            gopher_rep=GOPHER_REP_DEFAULTS,
            ccnet_keep={"head": 1.0, "middle": 0.7, "tail": 0.2},
            benchmark_path=bench_tbl,
        )
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    print(json.dumps({
        "cpus": cpus, "n_docs": n_docs, "secs": round(best, 2),
        "docs_per_sec": round(counts["input"] / best, 1),
        "counts": counts,
    }))


def main() -> None:
    w = os.environ.get("BMSPARK_FUNNEL_WORKER")
    if w:
        cpus, n_docs, reps = (int(x) for x in w.split(","))
        worker(cpus, n_docs, reps)
        return

    results: dict[tuple[int, int], dict] = {}
    for cpus, n_docs, reps in CELLS:
        env = dict(os.environ,
                   BMSPARK_FUNNEL_WORKER=f"{cpus},{n_docs},{reps}")
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env, capture_output=True, text=True, timeout=14400,
        )
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-4000:])
            raise SystemExit(
                f"worker cell ({cpus},{n_docs}) failed rc={out.returncode}"
            )
        line = [l for l in out.stdout.strip().splitlines()
                if l.startswith("{")][-1]
        r = json.loads(line)
        results[(cpus, n_docs)] = r
        print(f"local[{cpus}] x {n_docs:,} docs: {r['secs']}s "
              f"({r['docs_per_sec']} docs/s) "
              f"[wall {time.monotonic() - t0:.0f}s]", file=sys.stderr)

    small, big = DOC_SIZES
    eff_small = round(
        results[(2, small)]["secs"] / results[(8, small)]["secs"] / 4, 3
    )
    growth_32 = round(
        results[(32, big)]["secs"] / results[(32, small)]["secs"], 2
    )
    md = f"""# Funnel scaling at compute-dominant input size

Why this file exists: the 5k-doc bench funnel is FLOOR-BOUND after the
r7 de-serialization (observe() counts riding inherent actions) — it
runs in ~27-34 s at every parallelism level, so its 2->8 efficiency
measures the fixed iteration floor (CC rounds, lineage checkpoints,
cutoff collects), not the plan. Scaling has to be read at an input size
where per-doc compute dominates; this harness supplies it.

Input: scale_probe.py high-entropy corpus (5*10^7-token vocab, planted
10% clone rate), {small:,} and {big:,} base docs (+10% clones). Stages:
quality metrics, exact best-quality dedup, 10-token span dedup,
rep-ngram ceilings, winnow cluster dedup (connected components), CCNet
terciles, decontamination vs a 1/997 benchmark split, parquet sink +
lineage manifest. gopher=False / min_quality=0 because those rules
correctly empty a synthetic-vocabulary corpus (no English stopwords in
it) — every structural/shuffle stage runs for real. Matrix: the
parallel pair (2 vs 8) at {small:,} docs (already compute-dominant:
wall >> the ~30 s floor); the input decade at FIXED local[32], where
a cell fits the per-cell budget (a (2, {big:,}) cell would add hours
for no additional claim).

## Results (min-of-reps per cell, fresh JVM per cell)

| config | {small:,} docs (s) | docs/s | {big:,} docs (s) | docs/s |
|---|---|---|---|---|
| local[2] | {results[(2, small)]['secs']:.1f} | {results[(2, small)]['docs_per_sec']:,.0f} | — | — |
| local[8] | {results[(8, small)]['secs']:.1f} | {results[(8, small)]['docs_per_sec']:,.0f} | — | — |
| local[32] | {results[(32, small)]['secs']:.1f} | {results[(32, small)]['docs_per_sec']:,.0f} | {results[(32, big)]['secs']:.1f} | {results[(32, big)]['docs_per_sec']:,.0f} |

- **Parallel efficiency 2->8 at {small:,} docs: {eff_small:.2f}** —
  read against the in-band core probe in BENCH/BASELINE.md (this host
  delivers well under 8 full cores to 8 workers; ceiling-normalize
  accordingly).
- **Input-size growth: 10x docs -> x{growth_32:.1f} wall at
  local[32]** — near-or-sub-linear growth means the iteration floor
  amortizes: at production input sizes the funnel is corpus-bound,
  exactly the regime a 4N cluster speeds up.

Funnel counts at {big:,} docs (local[32]):
```json
{json.dumps(results[(32, big)]['counts'])}
```

Regenerate: `python bench_funnel_scale.py` (probe corpora
auto-generate via scale_probe.gen_probe_docs; no prior run needed).
"""
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/FUNNEL_SCALE.md", "w") as f:
        f.write(md)
    print(json.dumps({
        "efficiency_2_to_8_at_small": eff_small,
        "growth_10x_docs_at_32": growth_32,
        "secs": {f"{c}x{n}": results[(c, n)]["secs"]
                 for c, n in results},
    }))


if __name__ == "__main__":
    main()
