"""Deduplication operators for training-data pipelines.

Four tiers, each the idiomatic Spark shape for its scale:

1. exact_dedup        — hash group-by on a content fingerprint (one
                        shuffle of (hash, id) pairs; never ships text).
2. ngram_jaccard_*    — exact word-bigram Jaccard. All-pairs is O(n²) and
                        only for candidate verification / oracle checks;
                        the scale path is one-vs-all retrieval.
3. minhash_lsh_pairs  — MinHash signatures + banded LSH: candidates come
                        from an equi-join on (band, band-hash) buckets —
                        a SHUFFLE JOIN, not a cross join — then exact
                        Jaccard verifies. This is the 10^12-doc path:
                        cost is O(n · sig) + join on buckets.
4. simhash64          — 64-bit SimHash fingerprints; near-dups = small
                        hamming distance. Candidate blocking is Manku-
                        style multi-table (WWW'07): C(6,3)=20 permuted
                        ~32-bit keys per fingerprint keep bucket
                        population ~n/2^32 — no 16-bit-chunk n/65k
                        quadratic blowup at 10^12 docs.

MinHash/SimHash signatures are computed in a vectorized pandas UDF (hash
loops don't codegen); bucketing/joining/verification stay JVM-side.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from bmspark.functions.text import fingerprint, tokens
from bmspark.session import widen_small_scan

# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Duplicate groups by normalized-content fingerprint: (fingerprint,
    keep_id = min id, dup_count). Shuffles only (128-bit hash, id)."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def keep_first(df: DataFrame, key: str | Column, *order: Column) -> DataFrame:
    """Keep exactly ONE row per ``key``: the first in ``order``.

    Positional (row_number) rather than a (key, min) semi-join: ONE
    window shuffle on the key instead of a groupBy + join pass, and a
    row that appears twice under the same id passes a semi-join twice
    but can hold rn = 1 only once. Spark plans the rank-1 filter as a
    map-side (Partial) WindowGroupLimit, so a hot key ships at most one
    candidate per map task into the shuffle."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per identical normalized content:
    ``keep_first`` on the uniform content hash."""
    return keep_first(df, fingerprint(text_col), F.col(id_col).asc())


def exact_dedup_best(
    df: DataFrame, text_col: str, id_col: str, quality_col: str
) -> DataFrame:
    """Exact dedup keeping the BEST copy per identical normalized
    content: highest ``quality_col`` wins, min id breaks ties (so the
    choice is total and reruns keep the same rows). The knob a corpus
    team wants once quality scores exist — identical crawl duplicates
    often differ in extraction quality, and min-id throws the good copy
    away whenever the worse one crawled first. ``keep_first`` on the
    128-bit content hash (uniform keys)."""
    return keep_first(
        df, fingerprint(text_col), F.col(quality_col).desc(), F.col(id_col).asc()
    )


# ---------------------------------------------------------------------------
# 2. exact n-gram Jaccard
# ---------------------------------------------------------------------------

def _bigram_sets(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """id → distinct word-bigram set, built JVM-side: posexplode tokens,
    lead() window per doc, collect_set. Matches the oracle's
    unnest + lead + list(DISTINCT) construction token-for-token."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("i", "w")
    )
    w = Window.partitionBy(id_col).orderBy("i")
    big = (
        toks.withColumn("w_next", F.lead("w").over(w))
        .filter(F.col("w_next").isNotNull())
        .withColumn("bg", F.concat_ws(" ", F.col("w"), F.col("w_next")))
    )
    return big.groupBy(id_col).agg(F.collect_set("bg").alias("ngrams"))


def jaccard_of(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / F.greatest(union, F.lit(1))


def ngram_jaccard_vs_query(
    df: DataFrame, text_col: str, id_col: str, query_id: int, k: int = 20
) -> DataFrame:
    """One-vs-all near-dup retrieval: bigram Jaccard of every doc against
    doc ``query_id``; top-k by (score desc, id). The query doc's set is
    broadcast — O(n) with no shuffle beyond the final top-k."""
    sets = _bigram_sets(df, text_col, id_col)
    q = sets.filter(F.col(id_col) == query_id).select(
        F.col("ngrams").alias("q_ngrams")
    )
    return (
        sets.filter(F.col(id_col) != query_id)
        .join(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(jaccard_of(F.col("ngrams"), F.col("q_ngrams")), 4).alias("jac"),
        )
        .orderBy(F.desc("jac"), id_col)
        .limit(k)
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float, max_id: int
) -> DataFrame:
    """All-pairs exact bigram Jaccard over ids < max_id (verification /
    oracle harness — intentionally bounded; the unbounded path is LSH)."""
    sets = _bigram_sets(
        df.filter(F.col(id_col) < max_id), text_col, id_col
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("ngrams").alias("na"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("ngrams").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(jaccard_of(F.col("na"), F.col("nb")), 4).alias("jac"))
        .filter(F.col("jac") >= threshold)
    )


# ---------------------------------------------------------------------------
# 3. MinHash + banded LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1
_N_HASHES = 64


def _minhash_params(n: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rnd = np.random.RandomState(seed)
    a = rnd.randint(1, _MERSENNE, size=n, dtype=np.int64).astype(np.uint64)
    b = rnd.randint(0, _MERSENNE, size=n, dtype=np.int64).astype(np.uint64)
    return a, b


_MH_A, _MH_B = _minhash_params(_N_HASHES)


#: per-worker memo token → uint64 blake2b hash (Zipf reuse). Shared by
#: the MinHash shingle mixer AND SimHash (round 8 — SimHash previously
#: memoized the expanded ±1 bit VECTOR per token and accumulated one
#: tiny numpy add per distinct token, ~176 µs/doc = 65% of the parse
#: stage; both now share this scalar memo and SimHash bit-expands each
#: doc's distinct hashes in one vectorized op, bit-exact identical).
_TOKEN_H64: dict[str, np.uint64] = {}
_TOKEN_H64_MAX = 1 << 20
_P1 = np.uint64(0x9E3779B97F4A7C15)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)


def _token_h64(tok: str) -> np.uint64:
    v = _TOKEN_H64.get(tok)
    if v is None:
        if len(_TOKEN_H64) >= _TOKEN_H64_MAX:
            _TOKEN_H64.clear()
        v = np.uint64(int.from_bytes(
            hashlib.blake2b(tok.encode(), digest_size=8).digest(), "big"
        ))
        _TOKEN_H64[tok] = v
    return v


def _shingle_hashes(text: str, width: int = 3) -> np.ndarray:
    toks = text.split()
    if not toks:
        return np.array([0], dtype=np.uint64)
    th = np.array([_token_h64(t) for t in toks], dtype=np.uint64)
    if len(toks) < width:
        # single shingle = the whole (short) doc
        mix = np.uint64(0)
        for h in th:
            mix = mix * _P1 + h
        return np.array([mix], dtype=np.uint64)
    # rolling width-3 windows, vectorized (uint64 wrap-around is the mix)
    a, b, c = th[:-2], th[1:-1], th[2:]
    return np.unique(a * _P1 + b * _P2 + c)


@pandas_udf(ArrayType(LongType()))
def minhash_sig(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """64-hash MinHash signature of word 3-shingles. Vectorized over the
    hash family: per doc, one (n_shingles × 64) broadcast-multiply."""
    for texts in batches:
        out = []
        for t in texts:
            sh = _shingle_hashes(t or "")
            # (k,1)*(64,) -> min over shingles per hash fn, all uint64 mod-Mersenne
            vals = (sh[:, None] * _MH_A[None, :] + _MH_B[None, :]) % _MERSENNE
            out.append(vals.min(axis=0).astype(np.int64).tolist())
        yield pd.Series(out)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    bands: int = 16,
) -> DataFrame:
    """Near-dup pairs at 10^12-doc scale:
    signature → split into ``bands`` bands of 64/bands rows → explode →
    groupable (band_idx, band_hash) bucket key → self-equi-join on the
    bucket (shuffle join, NOT a cross join) → dedupe candidates → verify
    with exact signature-estimated Jaccard ≥ threshold.
    """
    rows_per_band = _N_HASHES // bands
    sig = df.select(F.col(id_col), minhash_sig(F.col(text_col)).alias("sig"))
    # ids-only banded frame: the 64-long signature does NOT ride the
    # band shuffle. The round-5 form shipped sig on BOTH self-join sides
    # — 2 x bands x 512B per doc through the exchange (~70 GB of spill
    # at 4M docs; it filled the probe machine's disk) for data only the
    # verification step needs. Candidates are found on (band, bhash, id)
    # alone; signatures are fetched back by id afterwards, touching only
    # the (tiny) candidate id set.
    banded = sig.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                    ).alias("bhash"),
                ),
            )
        ).alias("bucket"),
    ).select(id_col, "bucket.band", "bucket.bhash")
    # true self-join (both sides the SAME subplan, aliased at join level):
    # the band-bucket shuffle canonicalizes identically on both sides, so
    # AQE reuses one Exchange at runtime and the signature UDF runs ONCE
    # for candidate generation. Verified post-execution: ReusedExchange in
    # the adaptive plan (tests/test_plans.py::test_lsh_selfjoin_reuses_exchange).
    a, b = banded.alias("a"), banded.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # signature fetch-back: two id-keyed joins against the sig table.
    # Both fetch sides hash-partition the SAME sig subtree on its id, so
    # the exchange is reused and the verification pass re-runs the
    # signature UDF once (2 corpus UDF passes total vs 1 + a 70 GB
    # shuffle — the right trade at every scale where pairs << corpus).
    cand = cand_ids.join(
        sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")),
        on="id_a",
    ).join(
        sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")),
        on="id_b",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(_N_HASHES)
    )
    return cand.select(
        "id_a", "id_b", F.round(est, 4).alias("est_jaccard")
    ).filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------

_SH_SHIFTS = np.arange(64, dtype=np.uint64)

def simhash_of_tokens(toks: list[str]) -> int:
    """64-bit SimHash of a token list: sign-sum of per-token blake2b bits.
    Signed-int64 domain for Spark LongType. Shared by the standalone UDF
    and the parse stage's single-pass fingerprinting.

    Round 8: one memo-gather of the occurrence hashes + a single
    ``np.unpackbits`` C pass + one column sum per doc — the sign-sum
    Σ(2b−1) equals 2·(count of 1-bits) − n per position, so the ±1
    expansion and per-distinct-token accumulate loop (~176 µs/doc, 65%
    of the whole parse stage) are gone. ``_SH_SHIFTS`` is arange(64),
    so little-endian unpackbits column j IS bit j; bit-exact identical
    (pinned vs the definitional form in tests/test_text_props.py)."""
    if not toks:
        return 0
    from collections import Counter

    counts = Counter(toks)
    m = len(counts)
    hs = np.fromiter((_token_h64(t) for t in counts), np.uint64, m)
    cs = np.fromiter(counts.values(), np.float64, m)
    bits = np.unpackbits(
        hs.astype("<u8").view(np.uint8).reshape(-1, 8),
        axis=1, bitorder="little",
    )
    # exact in float64: every product/partial sum is an integer < 2^53,
    # so the dot is order-independent and bit-reproducible
    acc = 2.0 * (cs @ bits) - len(toks)
    sig = int(((acc > 0).astype(np.uint64) << _SH_SHIFTS).sum())
    return sig - (1 << 64) if sig >= 1 << 63 else sig


@pandas_udf(LongType())
def simhash64(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """64-bit SimHash over word tokens. Near-dup ⇔ small hamming distance."""
    for texts in batches:
        yield pd.Series(
            [simhash_of_tokens((t or "").split()) for t in texts], dtype="int64"
        )


def _simhash_block_layout(n_blocks: int) -> list[tuple[int, int]]:
    """Split 64 bits into n_blocks contiguous blocks: [(offset, width)].
    Widths differ by at most 1 (e.g. 6 blocks → 11,11,11,11,10,10)."""
    base, extra = divmod(64, n_blocks)
    layout, off = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        layout.append((off, width))
        off += width
    return layout


def simhash_blocking_keys(
    sh: Column, max_hamming: int = 3, n_blocks: int = 6
) -> Column:
    """Manku-style multi-table blocking keys (Manku/Jain/Sarma, WWW'07
    §3: near-duplicate detection at Google crawl scale): array of
    (table, key) structs, one per combination of (n_blocks − max_hamming)
    bit-blocks of the 64-bit fingerprint.

    Pigeonhole: a pair within hamming ≤ max_hamming has ≥ n_blocks −
    max_hamming clean blocks, so at least one combination is entirely
    clean → the pair shares that table's key. Unlike the naive 4×16-bit
    chunk scheme (≤65,536 buckets/chunk → ~1.5·10^7 rows per bucket at
    10^12 docs → quadratic within-bucket blowup), the key here
    concatenates (n_blocks − max_hamming) blocks — 32+ bits for the
    default (6,3) — so the expected bucket population at 10^12 docs is
    10^12/2^32 ≈ 233 rows: the within-bucket self-join stays flat.
    Tradeoff: C(n_blocks, max_hamming) = 20 replicas per row instead
    of 4 — linear shuffle growth buys quadratic join relief.
    """
    from itertools import combinations

    if not 0 < max_hamming < n_blocks:
        raise ValueError("need 0 < max_hamming < n_blocks")
    layout = _simhash_block_layout(n_blocks)
    keep = n_blocks - max_hamming
    tables = []
    for t, combo in enumerate(combinations(range(n_blocks), keep)):
        key = F.lit(0).cast("long")
        for i in combo:
            off, width = layout[i]
            block = F.shiftrightunsigned(sh, off).bitwiseAND(F.lit((1 << width) - 1))
            key = F.shiftleft(key, width).bitwiseOR(block)
        tables.append(F.struct(F.lit(t).alias("table"), key.alias("key")))
    return F.array(*tables)


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash with Manku multi-table blocking:
    fingerprint → C(n_blocks, max_hamming) (table, 32-bit key) replicas →
    self-equi-join on (table, key) — a SHUFFLE join whose bucket
    population is bounded by n/2^keybits, never the 16-bit chunk blowup —
    → dedupe candidates → verify exact hamming via bit_count(xor).

    Both join sides are the SAME subplan, so AQE reuses one Exchange at
    runtime and the signature UDF runs once (same pattern as
    minhash_lsh_pairs; verified post-execution in tests/test_plans.py).

    n_blocks defaults to max(6, max_hamming + 3): the pigeonhole needs
    keep = n_blocks − max_hamming ≥ 1 blocks, and keeping 3 blocks keeps
    the join key wide (~3·64/n_blocks bits). Wider hamming budgets cost
    combinatorially more tables — C(9,6)=84 replicas at max_hamming=6 —
    which is Manku's own trade: replication is linear, the within-bucket
    blowup it prevents is quadratic.
    """
    if n_blocks is None:
        n_blocks = max(6, max_hamming + 3)
    df = widen_small_scan(df)
    sig = df.select(F.col(id_col), simhash64(F.col(text_col)).alias("sh"))
    keyed = sig.select(
        id_col,
        "sh",
        F.explode(simhash_blocking_keys(F.col("sh"), max_hamming, n_blocks)).alias("t"),
    ).select(id_col, "sh", "t.table", "t.key")
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# 5. Winnowing near-dup pairs (position-robust, oracle-exact)
# ---------------------------------------------------------------------------

def winnow_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_shared: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints (Schleimer et al.
    SIGMOD'03 — the MOSS scheme): two docs are candidates when they share
    ≥ min_shared selected k-gram fingerprints. Position-robust where
    whole-doc md5/simhash are not: inserting a paragraph leaves the other
    fingerprints intact, so partial overlap is still caught.

    Plan shape (round 3, one shuffle fewer than the original self-join
    form, identical answers): explode fingerprints → groupBy(fp) with
    collect_set(id) — ONE shuffle keyed on the 60-bit content hash
    (uniform, no hot keys) where the set dedups (id, fp) for free — →
    generate the ordered id pairs of each ≥2-doc fingerprint with JVM
    array HOFs inside the task → groupBy(id_a, id_b) count ≥ min_shared
    (second shuffle). The old plan needed distinct + a self-join (three
    exchanges and a join build); this needs two exchanges and no join.
    Per-fingerprint pair fan-out is m(m-1)/2 for m docs sharing the
    fingerprint. At web scale a BOILERPLATE k-gram (navigation chrome,
    licence footers) is shared by 10^6+ docs — one 10^6-element array
    and 5×10^11 pairs in a SINGLE task. ``max_df`` is the stop-
    fingerprint cap (MOSS does exactly this, Schleimer §5): fingerprints
    whose document frequency exceeds it are DROPPED before pairing —
    they carry no pairwise signal (any doc pair truly near-identical
    shares plenty of sub-max_df fingerprints, and mass EXACT duplicates
    are already caught by exact_dedup upstream), and dropping them
    bounds every surviving task's pair fan-out at max_df(max_df-1)/2.
    (The collect_set buffer for a dropped hot fp is still O(df) — ~8 MB
    at 10^6 sharers, absorbed by one task; it is the O(df²) pairing that
    was catastrophic.) Default None = exact semantics (the DuckDB
    oracle's form); production setting per docs/SCALE.md is O(10^2).
    Same pre-thinning pattern as curation.cap_per_group's hot-group cap.

    Fully deterministic (sets are sorted before pairing), so unlike
    MinHash/SimHash this candidate stage has an exact DuckDB oracle.
    """
    from bmspark.functions.text import winnow_fingerprints

    groups = (
        df.select(
            F.col(id_col), F.explode(winnow_fingerprints(text_col)).alias("p")
        )
        .groupBy(F.col("p.fp").alias("fp"))
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_df is not None:
        groups = groups.filter(F.size("ids") <= max_df)
    # ordered pairs of each sorted id set: for position i, pair ids[i]
    # with every later element. `ids` is a bound aggregate output column
    # (the HOF-lambda re-evaluation trap applies to computed expressions,
    # not attribute references — see text.py _bind).
    n = F.size("ids")
    pairs = groups.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.transform(
                        F.slice("ids", i + 1, n - i),
                        lambda y: F.struct(
                            F.element_at("ids", i).alias("id_a"), y.alias("id_b")
                        ),
                    ),
                )
            )
        ).alias("pr")
    )
    return (
        pairs.groupBy(
            F.col("pr.id_a").alias("id_a"), F.col("pr.id_b").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# 6. Duplicate clusters — connected components over near-dup pairs
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    shortcut: bool = True,
    round_partitions: int | None = None,
    small_graph_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components by min-label propagation WITH pointer doubling
    — the step that turns near-dup PAIRS into duplicate CLUSTERS (keep
    one doc per component). Returns (id, root) for every vertex appearing
    in edges, root = min id of its component.

    Algorithm: every vertex adopts the minimum label among itself and its
    neighbors (one hop per round), then twice shortcuts through its
    root's root (``root ← root(root(id))``, pointer jumping). The
    shortcut step doubles the effective propagation distance each round,
    so convergence is O(log diameter) rounds instead of O(diameter) —
    the label-doubling family of CC algorithms (cf. large-star/small-star,
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Measured: a 50-link chain converges in 4 rounds, a
    1000-link chain in 6 (vs 51 / 1001 with plain propagation — the
    round-2 adversarial-chain weakness). ``shortcut=False`` recovers the
    plain one-hop variant (kept as the slow twin for tests).

    ``max_iterations`` guards against non-convergence and raises rather
    than silently returning a partial clustering; with doubling, 25
    rounds covers any diameter ≤ 2^25.

    Scale notes: each round is one shuffle join (edges ⋈ labels) + one
    groupBy-min + two label self-joins — all JVM; labels (2×long) are the
    only shuffled state. The round's OLD root rides along as a ``prev``
    column, so the per-round driver-side convergence check is a bare
    filter+count over the just-checkpointed partitions — no extra join,
    no extra shuffle (round 4; previously an old⋈new join per round —
    iterative rounds are job-latency-bound, so a shuffle job saved per
    round is the lever that matters). The count is a bounded action
    (documented exception to the no-driver-loop rule — iteration counts,
    not data, cross the driver). Checkpoint-truncate the lineage each
    round so the plan doesn't grow exponentially across iterations.

    ``round_partitions`` caps AQE's ``initialPartitionNum`` for the
    label rounds only (default: 2x defaultParallelism). The session
    profile's 512-partition headroom is right for corpus-wide shuffles
    but each CC round plans ~4 tiny label exchanges; at 512 initial
    partitions each, task-scheduling floor dominated and sf0.1
    regressed 1.54x (VERDICT r6 #1). Labels are 2 longs/row, so even
    10^9 vertices is ~16 GB — at 2x a real cluster's parallelism that
    is well under spill size per task; raise the knob for larger
    components runs. The EDGE pipeline (the expensive corpus-side
    shuffles feeding ``edges``) is materialized into the persist
    BEFORE the scope narrows, so it still plans under full headroom.

    ``small_graph_edges``: when the symmetrized edge list is at most
    this many rows (known from the persist-materializing count — no
    extra action), the whole components problem fits in ONE task and a
    distributed iterative loop is pure scheduling overhead (measured:
    3 label rounds x ~7 AQE stage materializations ~= 2.0 s for a
    416-pair graph at sf0.1). The small path runs the SAME
    min-label + pointer-jump fixpoint as vectorized numpy inside a
    single-task ``mapInPandas`` (no driver collect — the edge list
    never leaves the executor plane) and returns the identical
    (id, root = min id of component) labeling. 10^6 edges is ~16 MB
    of int64 in the task, far under any executor budget; corpus-scale
    graphs take the unchanged distributed path. Equivalence on chain /
    star / random graphs is pinned in tests/test_dedup_sim.py.
    """
    from pyspark.storagelevel import StorageLevel

    from bmspark.session import observe, scoped_conf

    # Persist the (static) symmetrized edge list: each round is its own
    # job, and Spark reuses only map-side shuffle output across jobs —
    # without the persist, the EDGE PIPELINE'S reduce stages (for winnow
    # input: the collect_set + HOF pairing + pair-count aggregation) re-
    # execute every round. Spill-aware persist, released before return.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Materialize the edge pipeline under the session's full AQE headroom
    # (its upstream corpus shuffles are the big ones), so the narrowed
    # conf below only ever governs the label rounds. Bounded action:
    # one long crosses the driver.
    n_sym = sym.count()
    spark = edges.sparkSession
    if n_sym <= small_graph_edges:
        # single-task fixpoint: same min-label + pointer-jump algorithm,
        # vectorized numpy over the one partition (see docstring). Vertex
        # ids keep their column type; for strings, numpy's code-point
        # order is Spark's UTF-8 byte order, so both paths pick one root.
        id_type = sym.schema["a"].dataType.simpleString()

        def _labels_one_task(batches):
            import numpy as np
            import pandas as pd

            aa, bb = [], []
            for pdf in batches:
                aa.append(pdf["a"].to_numpy())
                bb.append(pdf["b"].to_numpy())
            if not aa:
                yield pd.DataFrame({"id": [], "root": []})
                return
            a = np.concatenate(aa)
            b = np.concatenate(bb)
            verts = np.unique(np.concatenate([a, b]))  # sorted ascending
            ia = np.searchsorted(verts, a)
            ib = np.searchsorted(verts, b)
            lbl = np.arange(len(verts))
            while True:
                prev = lbl.copy()
                # adopt the minimum neighbor label (sym carries both
                # edge directions, so one side suffices)
                np.minimum.at(lbl, ia, lbl[ib])
                # pointer jump twice: label indices only ever decrease,
                # so lbl[lbl] <= lbl elementwise
                lbl = lbl[lbl]
                lbl = lbl[lbl]
                if np.array_equal(lbl, prev):
                    break
            yield pd.DataFrame({"id": verts, "root": verts[lbl]})

        out = sym.coalesce(1).mapInPandas(
            _labels_one_task, f"id {id_type}, root {id_type}"
        ).localCheckpoint(eager=True)
        sym.unpersist()
        return out
    if round_partitions is None:
        round_partitions = 2 * spark.sparkContext.defaultParallelism
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("root", F.col("id"))
    )

    def _jump(lbl: DataFrame) -> DataFrame:
        """root ← min(root, root(root(id))). Min-label roots are always
        vertex ids, so the self-join hits; left join guards the fixpoint
        rows where root(root) = root already. ``prev`` (the round's
        starting root) passes through untouched."""
        x, y = lbl.alias("x"), lbl.alias("y")
        return x.join(y, F.col("x.root") == F.col("y.id"), "left").select(
            F.col("x.id").alias("id"),
            F.least(
                F.col("x.root"), F.coalesce(F.col("y.root"), F.col("x.root"))
            ).alias("root"),
            F.col("x.prev").alias("prev"),
        )

    with scoped_conf(
        spark,
        {
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
                round_partitions
            ),
        },
    ):
        for _ in range(max_iterations):
            neighbor_min = (
                sym.join(labels, sym["b"] == labels["id"])
                .groupBy(sym["a"].alias("id"))
                .agg(F.min("root").alias("nbr_root"))
            )
            new_labels = (
                labels.join(neighbor_min, on="id", how="left")
                .select(
                    "id",
                    F.least(
                        F.col("root"),
                        F.coalesce(F.col("nbr_root"), F.col("root")),
                    ).alias("root"),
                    F.col("root").alias("prev"),
                )
            )
            if shortcut:
                new_labels = _jump(_jump(new_labels))
            # truncate lineage: localCheckpoint materializes the frame so
            # the next round's plan starts fresh (eager=True runs it now).
            # The convergence probe rides THAT materialization as an
            # Observation (CollectMetrics fills during the eager
            # checkpoint job — measured round 8), so each round is ONE
            # job, not checkpoint + a separate count. Iterative rounds
            # are job-latency-bound; a job saved per round is the lever
            # that matters (same lesson as the r4 prev-column change).
            new_labels, read = observe(
                new_labels,
                changed=F.sum(F.when(F.col("root") != F.col("prev"), 1)),
            )
            new_labels = new_labels.localCheckpoint(eager=True)
            labels = new_labels.drop("prev")
            if read()["changed"] == 0:
                sym.unpersist()  # labels are checkpointed — independent now
                return labels
    sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def dedup_clusters(
    df: DataFrame, text_col: str, id_col: str, min_shared: int = 3
) -> DataFrame:
    """End-to-end near-dup clustering: winnow-fingerprint pairs → connected
    components → (doc_id, cluster_root). Deterministic (winnowing is
    exact), so the whole thing has a DuckDB recursive-CTE oracle. Keep
    one doc per cluster with: df.join(out.filter(id != root), on=id,
    how='left_anti')."""
    pairs = winnow_neardup_pairs(df, text_col, id_col, min_shared=min_shared)
    return connected_components(pairs).select(
        F.col("id").alias(id_col), F.col("root").alias("cluster_root")
    )
