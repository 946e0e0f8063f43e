"""Learned quality filter (bmspark/functions/quality_model.py):
planted separation, bit-exact determinism across partitionings,
short-doc handling, and the clean_corpus stage."""

from __future__ import annotations

import random

import numpy as np

from pyspark.sql import functions as F

from bmspark.functions import quality_model as qm


def _corpus(spark, n=120, seed=407):
    """Half 'prose' docs (coherent vocabulary), half 'spam' docs —
    disjoint bigram distributions, so a working linear model separates
    them almost perfectly."""
    rnd = random.Random(seed)
    good_vocab = ["the", "quick", "analysis", "shows", "clear", "results",
                  "during", "careful", "review", "of", "data", "sources"]
    spam_vocab = ["click", "win", "casino", "free", "pills", "now",
                  "buy", "cheap", "offer", "prize", "jackpot", "bonus"]
    rows = []
    for i in range(n):
        vocab = good_vocab if i % 2 == 0 else spam_vocab
        words = [rnd.choice(vocab) for _ in range(rnd.randint(15, 30))]
        rows.append((i, " ".join(words), "good" if i % 2 == 0 else "spam"))
    return spark.createDataFrame(rows, "doc_id long, text string, kind string")


def test_quality_classifier_separates_planted_classes(spark):
    """Train on a labeled half, score everything: ranking by q_prob puts
    every good doc above every spam doc among HELD-OUT docs (AUC == 1.0
    on this fully-separable fixture), and probabilities point the right
    way."""
    df = _corpus(spark)
    # train only on doc_id < 60, evaluate separation on the held-out rest
    train = df.filter("doc_id < 60")
    w = qm.quality_train(
        train.filter("kind = 'good'"), train.filter("kind = 'spam'")
    )
    held = qm.quality_score(df.filter("doc_id >= 60"), w).join(
        df.select("doc_id", "kind"), on="doc_id"
    )
    rows = held.collect()
    good = sorted(r.q_prob for r in rows if r.kind == "good")
    spam = sorted(r.q_prob for r in rows if r.kind == "spam")
    assert good and spam
    # perfect separation: worst good doc outranks best spam doc
    assert good[0] > spam[-1], (good[0], spam[-1])
    assert good[0] > 0.5 > spam[-1]


def test_quality_train_bit_identical_across_partitionings(spark):
    """DECIMAL gradient sums make training a pure function of content:
    1-partition vs 17-partition layouts give bit-identical weights and
    identical scores (the determinism contract MLlib's SGD does not
    offer)."""
    df = _corpus(spark, n=60)
    pos, neg = df.filter("kind = 'good'"), df.filter("kind = 'spam'")
    w1 = qm.quality_train(pos.repartition(1), neg.repartition(1), iters=6)
    w2 = qm.quality_train(pos.repartition(17), neg.repartition(17), iters=6)
    assert np.array_equal(w1, w2)  # bit-exact, not allclose
    s1 = {r.doc_id: r.q_prob for r in qm.quality_score(df, w1).collect()}
    s2 = {r.doc_id: r.q_prob for r in qm.quality_score(df.repartition(17), w2).collect()}
    assert s1 == s2


def test_fixed_point_form_is_one_ulp_off_at_a_half_way_tie(spark):
    """The gradient sum fixes each contribution as round(v*1e12, 0).
    That equals the old round(v, 12) * 1e12 away from ties, but not at
    every 12-dp half-way tie: v*1e12 is a double, and for this v it
    lands just below .5, so the two integers differ by one ulp."""
    v = 0.5173266249315
    row = spark.createDataFrame([(v,)], "v double").select(
        F.round(F.col("v") * 1e12, 0).cast("long").alias("cheap"),
        (F.round("v", 12).cast("decimal(38,12)") * 10**12)
        .cast("long").alias("old"),
    ).first()
    assert (row.cheap, row.old) == (517326624931, 517326624932)


def test_quality_score_handles_short_and_null_docs(spark):
    """Docs with <2 tokens have no bigram feature: they are scored by
    the bias alone — present in the output, never dropped (the
    ADVICE-r5 dsir lesson, applied at the feature layer)."""
    df = _corpus(spark, n=40)
    extra = spark.createDataFrame(
        [(1000, "solo", "short"), (1001, None, "short"), (1002, "", "short")],
        "doc_id long, text string, kind string",
    )
    full = df.unionByName(extra)
    w = qm.quality_train(df.filter("kind = 'good'"), df.filter("kind = 'spam'"))
    scores = {r.doc_id: r.q_prob for r in qm.quality_score(full, w).collect()}
    assert len(scores) == 43
    bias_p = 1.0 / (1.0 + np.exp(-w[-1]))
    for d in (1000, 1001, 1002):
        assert abs(scores[d] - bias_p) < 1e-6


def test_quality_classifier_composition(spark):
    """quality_classifier(df, pred): trains pred-vs-rest and scores all
    rows; mean score of the positive class exceeds the rest."""
    df = _corpus(spark, n=80)
    out = qm.quality_classifier(df, "kind = 'good'").join(
        df.select("doc_id", "kind"), on="doc_id"
    )
    agg = {
        r.kind: r.m
        for r in out.groupBy("kind").agg(F.avg("q_prob").alias("m")).collect()
    }
    assert agg["good"] > 0.8 > 0.2 > agg["spam"]
