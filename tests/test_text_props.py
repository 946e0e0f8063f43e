"""Property-based tests for the text-analysis surface (hypothesis) —
the upgrade over the reference's table-driven-only tests (SURVEY.md §5.2.7).
Where a contract is shared by the JVM and the DuckDB twin, the test runs
both engines against the pure-Python reference."""

from __future__ import annotations

import hashlib
import random

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bmspark.functions.dedup import simhash_of_tokens
from bmspark.functions.text import WINNOW_K, WINNOW_W, _bind, _hash60, normalized
from bmspark.oracle_extract import extract


def test_token_rule_is_str_split_in_both_engines(spark, duck):
    """text.tokens (JVM) and TOKENS_SQL (DuckDB) both give s.split(),
    and both fingerprint normalizations give ' '.join(s.lower().split())
    (so fingerprint is the md5 of that), on ~2k seeded random strings
    over letters, every whitespace code point and U+200B (which is not
    whitespace), plus NULL, '' and edge whitespace."""
    from bmspark.functions import text

    spaces = [chr(c) for c in range(0x110000) if chr(c).isspace()]
    assert len(spaces) == 29
    rng = random.Random(0)
    cases = [None, "", "  \t ", "\n\nhello world\n", "a\x0bb", "x\u3000y"] + [
        "".join(
            rng.choice("abcXYZé" if rng.random() < 0.5 else spaces + ["\u200b"])
            for _ in range(rng.randint(0, 12))
        )
        for _ in range(2000)
    ]
    want = {}
    for i, s in enumerate(cases):
        norm = None if s is None else " ".join(s.lower().split())
        fp = None if s is None else hashlib.md5(norm.encode()).hexdigest()
        want[i] = ((s or "").split(), norm, fp)

    df = spark.createDataFrame(list(enumerate(cases)), "i int, s string")
    jvm = {
        r.i: (r.toks, r.norm, r.fp)
        for r in df.select(
            "i", text.tokens("s").alias("toks"),
            text.normalized("s").alias("norm"), text.fingerprint("s").alias("fp"),
        ).collect()
    }
    duck.register("__ws_cases", pd.DataFrame({"i": range(len(cases)), "s": cases}))
    try:
        ddb = {
            i: (toks, norm, fp)
            for i, toks, norm, fp in duck.execute(
                f"SELECT i, {text.TOKENS_SQL.format(t='s')}, "
                f"{text.NORMALIZED_SQL.format(t='s')}, "
                f"{text.FINGERPRINT_SQL.format(t='s')} FROM __ws_cases"
            ).fetchall()
        }
    finally:
        duck.unregister("__ws_cases")
    assert jvm == want
    assert ddb == want


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=12), max_size=60))
def test_simhash_deterministic_and_order_insensitive_for_bags(toks):
    """SimHash depends on the token BAG, not order (sign-sum commutes)."""
    assert simhash_of_tokens(toks) == simhash_of_tokens(list(reversed(toks)))
    s = simhash_of_tokens(toks)
    assert -(1 << 63) <= s < (1 << 63)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=8), min_size=1, max_size=40))
def test_simhash_single_token_change_small_hamming(toks):
    """Changing one token flips few bits relative to a disjoint rewrite."""
    a = simhash_of_tokens(toks)
    b = simhash_of_tokens(toks + ["zzz_novel_token"])
    ham = bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham <= 64  # sanity; near-dup property asserted statistically below


def test_simhash_near_vs_far_separation():
    base = [f"tok{i}" for i in range(60)]
    near = base.copy(); near[5] = "CHANGED"
    far = [f"other{i}" for i in range(60)]
    h = lambda x, y: bin((x ^ y) & ((1 << 64) - 1)).count("1")  # noqa: E731
    a, n, f = (simhash_of_tokens(t) for t in (base, near, far))
    assert h(a, n) < h(a, f), (h(a, n), h(a, f))
    assert h(a, n) <= 10


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=1024))
def test_extract_never_lossy_on_text_bytes(payload):
    """Whatever bytes went between <p>…</p> come back bit-exact."""
    html = b"<html><body><p>" + payload.replace(b"</p>", b"") + b"</p></body></html>"
    r = extract(html)
    assert r["text_bytes"] == payload.replace(b"</p>", b"")


def test_hash_sampling_deterministic_and_calibrated(spark):
    """Deterministic sampling properties: exact reproducibility across
    runs, per-stratum rate near the target, and salt independence (train
    vs holdout overlap ≈ product of rates, never correlated)."""
    from pyspark.sql import functions as F

    from bmspark.functions import sampling
    from tests.conftest import SF_DIR

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = d.count()

    def sample(salt):
        return sampling.stratified_sample(
            d, "lang", {}, key="doc_id", default_fraction=0.3, salt=salt)

    s1 = sample("a")
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    ids1_again = {r.doc_id for r in sample("a").select("doc_id").collect()}
    assert ids1 == ids1_again  # bit-for-bit reproducible

    # rate calibration: binomial 3σ bound around 0.3
    import math

    sigma = math.sqrt(0.3 * 0.7 / n)
    assert abs(len(ids1) / n - 0.3) < 3 * sigma + 0.01

    # independent salts: overlap ≈ 0.3 * 0.3
    ids2 = {r.doc_id for r in sample("b").select("doc_id").collect()}
    overlap = len(ids1 & ids2) / n
    assert abs(overlap - 0.09) < 0.06

    # stratified: en rate ≈ 0.5, others ≈ default 0.1
    strat = sampling.stratified_sample(
        d, "lang", {"en": 0.5}, key="doc_id", default_fraction=0.1
    )
    rates = {
        r.lang: r.kept / r.total
        for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("total"))
        .join(
            strat.groupBy("lang").agg(F.count(F.lit(1)).alias("kept")),
            on="lang", how="left",
        ).fillna(0).collect()
    }
    assert abs(rates.get("en", 0) - 0.5) < 0.15
    for lang, rate in rates.items():
        if lang != "en":
            assert rate < 0.3, (lang, rate)


def test_canonical_url_cross_engine_exact(spark, duck):
    """canonical_url / url_host vs their DuckDB twins on the hostile
    cases: mixed-case scheme+host, userinfo+port, tracking params in
    first/middle/last/only position, fragments, trailing slashes, and
    a scheme-less string (passes through untouched)."""
    from bmspark.functions import text

    cases = [
        "http://Example.COM/A/Path/?utm_source=feed&x=1#top",
        "https://example.com/a?utm_a=1",
        "https://example.com/a?x=1&utm_a=2&y=3",
        "HTTPS://User@HOST.test:8080/Path/",
        "https://example.com/",
        "https://example.com/?utm_a=1&fbclid=zz",
        "example.com/x?utm_a=1",
        "https://example.com/a?gclid=1&msclkid=2&keep=3",
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, url string"
    )
    got = {
        r.i: (r.cu, r.h)
        for r in df.select(
            "i",
            text.canonical_url("url").alias("cu"),
            text.url_host("url").alias("h"),
        ).collect()
    }
    duck.execute(
        "CREATE OR REPLACE TABLE __urls AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, '{c}')" for i, c in enumerate(cases))
        + ") v(i, url)"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in duck.sql(
            f"SELECT i, {text.CANONICAL_URL_SQL('url')} AS cu, "
            f"{text.url_host_sql('url')} AS h FROM __urls"
        ).fetchall()
    }
    assert got == want
    # spot-pin the semantics themselves (not just twin agreement)
    assert got[0] == ("http://example.com/A/Path/?x=1", "example.com")
    assert got[3] == ("https://user@host.test:8080/Path", "host.test")
    assert got[5] == ("https://example.com", "example.com")
    assert got[6] == ("example.com/x", "")


def winnow_fingerprints_jvm(text, k: int = WINNOW_K, w: int = WINNOW_W):
    """All-JVM higher-order-function form of ``text.winnow_fingerprints``:
    the original implementation, kept here as its equality-pinned twin.
    HOF lambdas are interpreted, so this form is ~3x slower per doc.

    Docs shorter than k tokens get one whole-text gram; fewer than w
    grams collapse to a single window. The token array and the gram-hash
    array are each _bind-ed so they are computed once per row — never
    inside a per-element lambda (see _bind)."""

    def _grams(t):
        n = F.size(t)
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: _hash60(F.concat_ws(" ", F.slice(t, i, k))),
            ),
            # concat_ws(" ", t) == the normalized text (t = split on " ")
        ).otherwise(F.array(_hash60(F.concat_ws(" ", t))))

    def _selected(g):
        m = F.size(g)
        wlen = F.least(m, F.lit(w))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), m - wlen + 1),
                lambda j: _bind(
                    F.slice(g, j, wlen),
                    lambda win: F.struct(
                        # rightmost occurrence of the window minimum:
                        # position from the END via array_position(reverse)
                        (
                            j + wlen
                            - F.array_position(F.reverse(win), F.array_min(win))
                        ).cast("long").alias("pos"),
                        F.array_min(win).alias("fp"),
                    ),
                ),
            )
        )

    return _bind(
        F.split(normalized(text), " "),
        lambda toks: _bind(_grams(toks), _selected),
    )


def test_winnow_arrow_form_equals_jvm_form(spark):
    """winnow_fingerprints (Arrow-batched gram-hash + numpy selection,
    round 8) must be array-for-array identical to the original all-JVM
    HOF form on real docs AND the adversarial edges: NULL text, empty
    text, sub-k docs, all-tie hashes, mixed whitespace, non-ASCII case."""
    from bmspark.functions import text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    extra = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "one"), (9004, "one two"),
         (9005, "a a a a a a a a a a"), (9006, "Tab\tand  spaces\nnewline"),
         (9007, "ÜPPER Çase ünïcode tëxt ôver hërë thère everywhere")],
        "doc_id long, text string")
    d = docs.select("doc_id", "text").unionByName(extra)
    arrow = {r.doc_id: r.f for r in d.select(
        "doc_id", text.winnow_fingerprints("text").alias("f")).collect()}
    jvm = {r.doc_id: r.f for r in d.select(
        "doc_id", winnow_fingerprints_jvm("text").alias("f")).collect()}
    assert arrow == jvm


def test_simhash_matches_definitional_form():
    """The vectorized unpackbits simhash (round 8) must equal the
    definitional per-token sign-sum of blake2b bits, bit for bit."""
    import hashlib
    import random

    import numpy as np

    from bmspark.functions import dedup as dd

    def definitional(toks):
        if not toks:
            return 0
        acc = np.zeros(64, dtype=np.int64)
        for tok in toks:
            h = int.from_bytes(
                hashlib.blake2b(tok.encode(), digest_size=8).digest(), "big"
            )
            acc += np.array(
                [((h >> i) & 1) * 2 - 1 for i in range(64)], dtype=np.int64
            )
        sig = sum(int(acc[i] > 0) << i for i in range(64))
        return sig - (1 << 64) if sig >= 1 << 63 else sig

    rnd = random.Random(11)
    vocab = ["tok%d" % i for i in range(200)] + ["ünïcode", "x", ""]
    for _ in range(60):
        toks = [rnd.choice(vocab) for _ in range(rnd.randrange(0, 120))]
        assert dd.simhash_of_tokens(toks) == definitional(toks)
