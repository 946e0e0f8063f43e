"""Model-based quality filter: a fastText-style linear classifier over
hashed bigram features, trained target-vs-raw with deterministic
fixed-iteration batch gradient descent — no MLlib, no RNG.

The last missing pillar of the public LLM-curation stack (cf. GPT-3 /
PaLM data work, Brown et al. 2020 Appendix A: a linear classifier over
hashed n-gram features scores raw documents by similarity to a curated
positive set; docs are kept by score): heuristics (gopher_quality),
frequency proxies (freq_score/ccnet_buckets) and importance weights
(dsir_weight) already exist — this adds the LEARNED filter over the
same 10^4-bucket hashed-bigram feature space as dsir_weight
(sampling.sample_bucket, engine-portable md5), so features are shared
and reproducible across engines.

Model: logistic regression, p(quality) = sigmoid(w·x + b), x = per-doc
bucket tf (count / total bigrams). Training is full-batch gradient
descent with per-coordinate Adagrad steps (Duchi et al. 2011, public
paper — the bias coordinate sees gradients ~20× larger than tf-scaled
bucket coordinates, and a single global step size provably oscillates
on this scale mismatch; Adagrad's per-coordinate normalization is the
standard deterministic fix) and a FIXED iteration count:

- the feature frame (doc_id, y, buckets[], vals[]) is built in ONE
  corpus pass (explode → (doc,bucket) partial-agg → per-doc arrays) and
  persisted; every GD round reuses it — the corpus is never re-scanned.
- per round, per-doc margins come from an Arrow-batched pandas UDF with
  the weight vector in the closure (10^4 doubles — trivially shipped);
  NO join against a weight table, NO per-row Python.
- per-bucket gradients are one explode + map-side-combinable sum; the
  10^4+1 gradient rows are the ONLY per-round driver action (bounded
  collect, same class as dsir's bucket tables).
- determinism on any partitioning/core count: each doc's contribution
  r·x is fixed-pointed at 12 dp (round(r·x·1e12) as a long) and summed
  as DECIMAL(38,0) — an exact, order-independent sum (the dsir_weight
  convention, round-8 cheap form: checked value-identical to the old
  round-12dp DECIMAL(38,12) accumulate on the round-8 probe corpus,
  not proven — at a 12-dp half-way tie the two can differ by one
  fixed-point ulp, 1e-12) — before the driver applies
  the float update. Two runs on any layout produce bit-identical
  weights (tested).

Scale: one persisted corpus-wide feature frame (at 10^12 docs: disk
persist / a written feature table), `iters` × (one Arrow pass + one
partial-agg shuffle of the exploded features). The weight vector stays
B+1 = 10^4+1 doubles forever; nothing corpus-sized ever reaches the
driver.

Reference parity: upstream (bigmuddy) has no learned filters; this op
belongs to the LLM-training-data surface (SURVEY.md §2 addendum),
sharing its feature space with dsir_weight.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from bmspark.functions.curation import collect_sorted
from bmspark.functions.text import _c, tokens

_B = 10_000  # bucket count — fixed by sampling.sample_bucket's hash


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "qmodel",
    keep: dict[str, Column] | None = None,
) -> DataFrame:
    """Per-doc sparse hashed-bigram tf features:
    (doc_id, buckets array<int> sorted, vals array<double> tf).
    Docs with <2 tokens have no bigram → empty arrays (kept, scored by
    bias alone — they are a quality-floor concern, not dropped here;
    the ADVICE-r5 dsir lesson applied from day one).

    ``keep``: optional {name: Column} of per-doc passthrough columns
    (evaluated over ``df``) carried on the id spine — lets a caller tag
    labels in the SAME corpus pass instead of featurizing twice
    (round 8; default None leaves every existing plan unchanged)."""
    from bmspark.functions import sampling

    from bmspark.session import widen_small_scan

    keep = keep or {}
    toks = widen_small_scan(df).select(
        _c(id_col).alias("doc_id"),
        tokens(text_col).alias("toks"),
        *[c.alias(k) for k, c in keep.items()],
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.array_join(F.slice("toks", i, 2), " "),
                ),
            ).otherwise(F.array())
        ).alias("gram"),
    ).select(
        "doc_id", sampling.sample_bucket(F.col("gram"), salt).alias("bucket")
    )
    docbuck = grams.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = (
        docbuck.groupBy("doc_id")
        .agg(
            collect_sorted("bucket", "cnt").alias("bc"),
            F.sum("cnt").alias("tot"),
        )
        .select(
            "doc_id",
            F.transform("bc", lambda s: s["bucket"].cast("int")).alias("buckets"),
            F.transform("bc", lambda s: s["cnt"] / F.col("tot")).alias("vals"),
        )
    )
    # explode(array()) drops featureless docs — restore them with empty
    # feature arrays via a left join on the id spine
    spine = toks.select("doc_id", *keep.keys())
    return spine.join(per_doc, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("buckets", F.array().cast("array<int>")).alias("buckets"),
        F.coalesce("vals", F.array().cast("array<double>")).alias("vals"),
        *keep.keys(),
    )


def _margin_udf(w: np.ndarray):
    """sigmoid(w·x + b) per doc; weights (len B+1, bias last) ride the
    closure — Arrow-batched, no join, no shuffle. The whole batch is
    flattened once and segment-summed with ``np.add.reduceat`` (round 8:
    the per-row ``np.dot`` loop paid ~8 µs/row of Python+allocation; the
    flattened form is one gather + one segmented sum per batch). Each
    doc's sum is a pure function of its own (buckets, vals) — batch
    composition and partitioning cannot change it, preserving the
    bit-identical-across-layouts contract."""
    from pyspark.sql.functions import pandas_udf

    wv = np.asarray(w, dtype=np.float64)

    @pandas_udf("double")
    def prob(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for buckets, vals in batches:
            n = len(buckets)
            if n == 0:
                yield pd.Series(dtype="float64")
                continue
            bk_arr = buckets.to_numpy()
            xv_arr = vals.to_numpy()
            lens = np.fromiter((len(b) for b in bk_arr), np.int64, n)
            z = np.full(n, wv[-1])
            nz = lens > 0
            if nz.any():
                flat_b = np.concatenate(
                    [np.asarray(b, dtype=np.int64) for b in bk_arr[nz]]
                )
                flat_x = np.concatenate(
                    [np.asarray(x, dtype=np.float64) for x in xv_arr[nz]]
                )
                offs = np.zeros(int(nz.sum()), dtype=np.int64)
                np.cumsum(lens[nz][:-1], out=offs[1:])
                # nonempty segments are contiguous in the flat arrays, so
                # reduceat over their start offsets sums exactly each
                # doc's products (strict left-to-right, deterministic)
                z[nz] += np.add.reduceat(wv[flat_b] * flat_x, offs)
            yield pd.Series(1.0 / (1.0 + np.exp(-z)))

    return prob


def quality_train(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = 12,
    lr: float = 1.0,
    l2: float = 1e-4,
    salt: str = "qmodel",
) -> np.ndarray:
    """Train the logistic filter on positives (curated/target docs) vs
    negatives (raw docs) — disjoint frames by contract. Returns the
    dense weight vector, length B+1 (bias last), a pure deterministic
    function of the two inputs."""
    feats = (
        hashed_features(pos, text_col, id_col, salt).withColumn("y", F.lit(1.0))
        .unionByName(
            hashed_features(neg, text_col, id_col, salt)
            .withColumn("y", F.lit(0.0))
        )
        .persist()
    )
    n = feats.count()  # materializes the persist; n is the GD scale factor
    if n == 0:
        raise ValueError("quality_train: empty training set")
    try:
        return _train_rounds(feats, n, iters=iters, lr=lr, l2=l2)
    finally:
        feats.unpersist()


def _train_rounds(
    feats: DataFrame, n: int, iters: int, lr: float, l2: float
) -> np.ndarray:
    """The GD loop over a (persisted) labeled feature frame
    (doc_id, buckets, vals, y) — shared by quality_train and
    quality_classifier so the classifier can reuse ONE cached corpus
    pass for training AND scoring (round 8)."""
    w = np.zeros(_B + 1, dtype=np.float64)
    G = np.zeros(_B + 1, dtype=np.float64)  # Adagrad accumulator
    for _ in range(iters):
        resid = feats.withColumn(
            "r", _margin_udf(w)("buckets", "vals") - F.col("y")
        )
        # one exploded frame carries BOTH the per-bucket gradients and
        # the bias gradient (synthetic bucket -1 with x=1), so each
        # round is ONE partial-agg shuffle + ONE bounded collect of
        # <= B+1 rows. The order-independent exact sum accumulates
        # scaled-long contributions in DECIMAL(38,0). round(v*1e12, 0)
        # matched the integer round(v,12)*1e12 bucket-for-bucket on the
        # round-8 probe corpus; that is an empirical check, not a proof:
        # at a 12-dp half-way tie the double product v*1e12 can land
        # just below .5 and round to the other neighbour, one
        # fixed-point ulp (1e-12) off (test_quality_model pins such a
        # v). A long-valued decimal input more than halves the old
        # DECIMAL(38,12) per-row BigDecimal cost while keeping 10^38
        # headroom (a long alone would overflow at corpus scale).
        grad_rows = (
            resid.select(
                "r",
                F.explode(
                    F.concat(
                        F.zip_with(
                            "buckets", "vals",
                            lambda bk, xv: F.struct(
                                bk.alias("bucket"), xv.alias("x")
                            ),
                        ),
                        F.array(F.struct(
                            F.lit(-1).alias("bucket"),
                            F.lit(1.0).alias("x"),
                        )),
                    )
                ).alias("f"),
            )
            .groupBy("f.bucket")
            .agg(
                F.sum(
                    F.round(F.col("r") * F.col("f.x") * 1e12, 0)
                    .cast("long").cast("decimal(38,0)")
                ).alias("g")
            )
            .collect()
        )
        g = np.zeros(_B + 1, dtype=np.float64)
        for row in grad_rows:
            # bucket -1 → bias slot; unscale the 1e12 fixed point
            g[row["bucket"]] = float(row["g"]) / 1e12
        g /= n
        g[:-1] += l2 * w[:-1]  # no penalty on the bias
        G += g * g
        mask = G > 0
        w[mask] -= lr * g[mask] / np.sqrt(G[mask] + 1e-10)
    return w


def quality_score(
    df: DataFrame,
    weights: np.ndarray,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "qmodel",
) -> DataFrame:
    """Score every doc with trained weights: (doc_id, q_prob) — ONE
    corpus pass (feature build + closure-shipped dot product), rounded
    to 6 dp for engine-stable comparisons."""
    feats = hashed_features(df, text_col, id_col, salt)
    return feats.select(
        "doc_id",
        F.round(_margin_udf(weights)("buckets", "vals"), 6).alias("q_prob"),
    )


def quality_classifier(
    df: DataFrame,
    target_pred: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = 12,
    lr: float = 1.0,
    salt: str = "qmodel",
) -> DataFrame:
    """Convenience composition for the funnel/driver: split ``df`` by
    ``target_pred`` into positives vs the rest, train, score EVERY doc.
    Returns (doc_id, q_prob).

    Round 8: ONE hashed-feature corpus pass, tagged with the label in
    the same scan, serves both training rounds and final scoring (the
    old compose featurized the corpus twice — once into the training
    persist, once again inside quality_score — an entire extra text
    scan + two shuffles at corpus scale). Label semantics are exactly
    the old filter pair's: pred TRUE → y=1, pred FALSE → y=0, pred
    NULL → y NULL (scored, never trained on — the old filters dropped
    such docs from both training sides). Scores are materialized by an
    eager localCheckpoint before the cache is released: (doc_id,
    q_prob) is 16 bytes/row — at any scale far cheaper than re-running
    the feature build the old path paid."""
    y = (
        F.when(F.expr(target_pred), F.lit(1.0))
        .when(~F.expr(target_pred), F.lit(0.0))
    )
    feats = hashed_features(
        df, text_col, id_col, salt, keep={"y": y}
    ).persist()
    try:
        train = feats.filter(F.col("y").isNotNull())
        # materializes the persist; n is the GD scale factor
        n = train.count()
        if n == 0:
            raise ValueError("quality_train: empty training set")
        w = _train_rounds(train, n, iters=iters, lr=lr, l2=1e-4)
        return feats.select(
            "doc_id",
            F.round(_margin_udf(w)("buckets", "vals"), 6).alias("q_prob"),
        ).localCheckpoint(eager=True)
    finally:
        feats.unpersist()
