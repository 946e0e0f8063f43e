"""Similarity search over embedding columns (array<float>).

Two tiers:
- cosine_topk       — brute-force exact top-k for a small query set:
                      broadcast the queries, score every row with JVM
                      higher-order functions (zip_with + aggregate — no
                      Python in the loop), rank per query. At 100 TB this
                      is the *verification* path and the right answer for
                      few queries (one scan, no index).
- lsh_bucketed_topk — sign-random-projection LSH: n_planes-bit
                      hyperplane signature per vector (knob, default 8),
                      candidates = rows sharing the query's bucket in any
                      of n_tables independent tables (OR-amplified
                      recall; multi-probe hamming ≤2 neighbors), exact
                      rescore inside buckets. The scale path for many
                      queries: turns all-pairs scoring into an equi-join
                      on (table, bucket) ids.

Hyperplanes are seed-fixed pseudo-random (deterministic across runs and
engines' reruns). Embedding arithmetic is double-precision with explicit
sequential fold order so results are oracle-reproducible.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bmspark.session import widen_small_scan


def _dvec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query id (excluding self). Query
    vectors broadcast; one scan scores all rows; per-query rank via
    window. Output: (query_id, vec_id, score, rk)."""
    q = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), _dvec(vec_col).alias("qv"))
    )
    scored = (
        widen_small_scan(emb).select(F.col(id_col), _dvec(vec_col).alias("v"))
        .join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("v"), F.col("qv")), 4).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


# -- sign-random-projection LSH ----------------------------------------------

# Default 8 planes → 256 buckets: sized for 10^2..10^3-row demo tables.
# At real scale raise ``n_planes`` with corpus size so bucket populations
# stay task-sized (buckets ≈ n / desired_bucket_size): 20 planes → ~10^6
# buckets (~10^6 rows/bucket at 10^12 docs), 30 planes → ~10^9 buckets
# (~10^3 rows/bucket). Every entry point below takes ``n_planes``; see
# docs/SCALE.md for the population table. Multiple independent tables
# OR'd together (classic LSH) recover recall lost to extra planes.
_N_PLANES = 8


def _hyperplanes(dim: int, n_planes: int = _N_PLANES, seed: int = 42) -> np.ndarray:
    rnd = np.random.RandomState(seed)
    return rnd.randn(n_planes, dim)


def srp_signature(vec_col: str | Column, dim: int, n_planes: int = _N_PLANES) -> Column:
    """``n_planes``-bit sign signature, computed JVM-side: bit i =
    (v · h_i) > 0. Hyperplane constants are folded into the plan as
    literals. n_planes ≤ 62 (signature packs into a long)."""
    if not 1 <= n_planes <= 62:
        raise ValueError(f"n_planes must be in [1, 62], got {n_planes}")
    planes = _hyperplanes(dim, n_planes)
    v = _dvec(vec_col)
    sig = F.lit(0).cast("long")
    for i in range(n_planes):
        h = F.array(*[F.lit(float(x)) for x in planes[i]])
        bit = (dot(v, h) > 0).cast("long")
        sig = sig + F.shiftleft(bit, i)
    return sig


def srp_signature_tables(
    vec_col: str | Column, dim: int, n_planes: int = _N_PLANES, n_tables: int = 1
) -> Column:
    """Array of ``n_tables`` independent SRP signatures (per-table
    hyperplane seeds) — the OR-construction of classic LSH: a candidate
    matches if it shares a bucket in ANY table. Raising n_planes sharpens
    buckets (precision, smaller buckets); raising n_tables recovers the
    recall that sharper buckets lose. Miss probability for a pair with
    per-plane agreement p is (1 - p^n_planes)^n_tables."""
    planes = [
        _hyperplanes(dim, n_planes, seed=42 + 1000 * t) for t in range(n_tables)
    ]
    v = _dvec(vec_col)
    sigs = []
    for t in range(n_tables):
        sig = F.lit(0).cast("long")
        for i in range(n_planes):
            h = F.array(*[F.lit(float(x)) for x in planes[t][i]])
            sig = sig + F.shiftleft((dot(v, h) > 0).cast("long"), i)
        sigs.append(sig)
    return F.array(*sigs)


def lsh_bucketed_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = True,
    n_planes: int = _N_PLANES,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share the query's SRP bucket in ANY
    of ``n_tables`` independent tables (or a hamming≤2 neighbor bucket
    when multiprobe). Equi-join on (table, bucket) — scales as
    O(n_tables · n/2^n_planes) candidates per query instead of O(n)."""
    base = emb.select(
        F.col(id_col),
        _dvec(vec_col).alias("v"),
        F.posexplode(
            srp_signature_tables(vec_col, dim, n_planes, n_tables)
        ).alias("tbl", "sig"),
    )
    probes = [F.col("sig")]
    if multiprobe:  # hamming ≤ 2 neighborhood of the query bucket
        probes += [F.col("sig").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
        probes += [
            F.col("sig").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    q = (
        base.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("tbl").alias("qtbl"),
            F.col("v").alias("qv"),
            F.explode(F.array(*probes)).alias("qsig"),
        )
    )
    cand = base.join(
        F.broadcast(q),
        (F.col("tbl") == F.col("qtbl")) & (F.col("sig") == F.col("qsig")),
    ).filter(F.col(id_col) != F.col("query_id"))
    scored = cand.select(
        "query_id",
        id_col,
        F.round(cosine(F.col("v"), F.col("qv")), 4).alias("score"),
    ).dropDuplicates(["query_id", id_col])
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def _bounded_sample(
    emb: DataFrame, vec_col: str, id_col: str, cap: int = 4096
) -> np.ndarray:
    """Deterministic bounded training sample: the ``cap`` rows with the
    SMALLEST ids (TakeOrderedAndProject — a top-k, never a global sort),
    so the sample is a pure function of the table contents, independent
    of file layout, partition count, or retry scheduling. A plain
    ``limit(cap)`` is whichever rows arrive first — codebooks/centroids
    could then differ across runs of the same data (ADVICE r5)."""
    rows = emb.select(id_col, vec_col).orderBy(id_col).limit(cap).collect()
    return np.array([r[1] for r in rows], dtype=np.float64)


def _ivf_centroids(
    emb: DataFrame, vec_col: str, k: int, iters: int = 3,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic k-means-lite on a seeded sample (driver-side numpy —
    centroids are tiny; the expensive assignment stays distributed). At
    10^12 vectors you'd sample ~10^6 rows; here the sample cap bounds it."""
    sample = _bounded_sample(emb, vec_col, id_col)
    if len(sample) < k:
        raise ValueError(
            f"ivf: need >= {k} vectors to seed {k} centroids, got {len(sample)}"
        )
    rnd = np.random.RandomState(42)
    cents = sample[rnd.choice(len(sample), size=k, replace=False)]
    for _ in range(iters):
        d = sample @ cents.T  # cosine-ish assignment on normalized-ish data
        assign = d.argmax(axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: vectors are assigned to their nearest centroid
    (inverted list); each query scores only the rows in its ``n_probe``
    nearest lists. Centroids are literals folded into the plan; the
    assignment argmax is JVM higher-order functions — no Python in the
    distributed path. Cost per query: O(n × n_probe / n_lists)."""
    cents = _ivf_centroids(emb, vec_col, n_lists, id_col=id_col)

    def best_list(v: Column, n: int) -> Column:
        """index array of the n centroids with the largest dot products."""
        scored = F.array(*[
            F.struct(dot(v, F.array(*[F.lit(float(x)) for x in cents[i]])).alias("s"),
                     F.lit(i).alias("i"))
            for i in range(n_lists)
        ])
        top = F.slice(F.reverse(F.array_sort(scored)), 1, n)
        return F.transform(top, lambda st: st["i"])

    base = emb.select(
        F.col(id_col), _dvec(vec_col).alias("v")
    ).withColumn("list_id", best_list(F.col("v"), 1)[0])

    q = (
        base.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(best_list(F.col("v"), n_probe)).alias("list_id"),
        )
    )
    cand = base.join(F.broadcast(q), on="list_id").filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = cand.select(
        "query_id", id_col, F.round(cosine(F.col("v"), F.col("qv")), 4).alias("score")
    ).dropDuplicates(["query_id", id_col])
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = _N_PLANES,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP bucketing: near-identical
    vectors share all n_planes sign bits (in at least one of n_tables
    independent tables — OR-amplified recall) with high probability;
    verify with exact cosine ≥ threshold inside buckets.

    In-bucket verification is a per-bucket normalized block matmul
    (grouped applyInPandas — the batch_topk convention), NOT a bucket
    self-join: a self-join materializes every candidate PAIR as a row
    carrying BOTH full vectors (at 400k vectors / 12 planes that is
    ~8·10^7 pairs × ~1 KB ≈ 80 GB through the exchange — it OOMed the
    10x scale probe); here each vector enters its bucket's task exactly
    once and only the (id_a, id_b, score) survivors leave. Bucket
    population is ~n/2^n_planes per table — raise ``n_planes`` with
    corpus size to keep the per-task matmul block bounded (module
    docstring table); degenerate corpora (everything identical) land
    one hot bucket, the same bound as any LSH scheme.

    Scores are numpy-double matmul cosines rounded to 4 (rows-only
    key; pair SET equality with the exact JVM form is what the recall
    tests pin, not the 16th decimal of the score)."""
    base = emb.select(
        F.col(id_col).alias("__vid"),
        _dvec(vec_col).alias("v"),
        F.posexplode(
            srp_signature_tables(vec_col, dim, n_planes, n_tables)
        ).alias("tbl", "sig"),
    )

    def _bucket_pairs(ids: np.ndarray, vecs: list) -> pd.DataFrame | None:
        if len(ids) < 2:
            return None
        V = np.stack(vecs).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0] = 1.0
        S = (V / norms[:, None]) @ (V / norms[:, None]).T
        ii, jj = np.nonzero(np.triu(np.round(S, 4) >= threshold, k=1))
        if not len(ii):
            return None
        a, b = ids[ii], ids[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({
            "id_a": lo, "id_b": hi,
            "score": np.round(S[ii, jj], 4),
        })

    # One Python call PER TASK, not per bucket: repartition+sort brings
    # each (tbl, sig) bucket in contiguously and the iterator streams
    # bucket-by-bucket holding only the current bucket's vectors
    # (round 8 — the old groupBy().applyInPandas paid a separate
    # Arrow/protocol round-trip per bucket, ~4 ms x n_tables·2^n_planes
    # groups dominated the whole operator at small scale; same per-
    # bucket matmul, same pair set, bounded memory either way).
    def _stream_buckets(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        cur_key: tuple | None = None
        cur_ids: list = []
        cur_vecs: list = []

        def _flush() -> pd.DataFrame | None:
            out = _bucket_pairs(np.asarray(cur_ids, dtype=np.int64),
                                cur_vecs)
            cur_ids.clear()
            cur_vecs.clear()
            return out

        for pdf in batches:
            if not len(pdf):
                continue
            tbls = pdf["tbl"].to_numpy()
            sigs = pdf["sig"].to_numpy()
            vids = pdf["__vid"].to_numpy()
            vs = pdf["v"].to_numpy()
            # contiguous bucket runs within the (sorted) batch
            change = np.flatnonzero(
                (tbls[1:] != tbls[:-1]) | (sigs[1:] != sigs[:-1])
            ) + 1
            bounds = np.concatenate(([0], change, [len(pdf)]))
            for s, e in zip(bounds[:-1], bounds[1:]):
                key = (tbls[s], sigs[s])
                if key != cur_key:
                    if cur_key is not None:
                        out = _flush()
                        if out is not None:
                            yield out
                    cur_key = key
                cur_ids.extend(vids[s:e])
                cur_vecs.extend(vs[s:e])
        if cur_key is not None:
            out = _flush()
            if out is not None:
                yield out

    pairs = (
        base.repartition("tbl", "sig")
        .sortWithinPartitions("tbl", "sig")
        .mapInPandas(_stream_buckets, schema="id_a long, id_b long, score double")
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


# -- batch-many-queries ANN (block-matrix scored, no query broadcast) ---------

def batch_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    probe_hamming: int = 1,
    n_planes: int = _N_PLANES,
    drop_self: bool = True,
) -> DataFrame:
    """Approximate top-k for a LARGE query set (10^4..10^6 queries) —
    the shape where cosine_topk/lsh_bucketed_topk's broadcast-the-queries
    plan stops working (the broadcast side no longer fits).

    Plan (no broadcast anywhere):
      1. SRP-bucket BOTH sides (corpus once; queries exploded over the
         hamming ≤ probe_hamming probe neighborhood).
      2. cogroup on the bucket id — a pair of SHUFFLES, both scaling with
         their own side only.
      3. inside each bucket, score candidates × queries as ONE numpy
         matmul (Arrow-batched applyInPandas; the pair expansion is never
         materialized) and emit per-query LOCAL top-k — the map-side
         combine.
      4. global per-query top-k over the ≤ probes·k partials per query.

    Cost: O(n + Q·probes) shuffle rows + one (bucket_n × bucket_q × dim)
    matmul per bucket; per-query candidate work is n/2^n_planes · probes,
    independent of Q. At 10^12 docs raise ``n_planes`` so bucket
    populations stay matmul-sized (docs/SCALE.md).

    ``drop_self``: only set True when queries and corpus share ONE id
    space (queries drawn from the corpus) — a candidate whose vec_id
    equals the query_id is its own vector and is dropped. With disjoint
    id spaces leave it False, else a coincidental id collision silently
    drops a legitimate candidate.
    """
    import pandas as pd  # noqa: F401 (schema hint for applyInPandas)

    base = emb.select(
        F.col(id_col).alias("vec_id"),
        _dvec(vec_col).alias("v"),
        srp_signature(vec_col, dim, n_planes).alias("sig"),
    )
    probes = [F.col("qsig")]
    if probe_hamming >= 1:
        probes += [F.col("qsig").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    if probe_hamming >= 2:
        probes += [
            F.col("qsig").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    qset = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            _dvec(query_vec_col).alias("qv"),
            srp_signature(query_vec_col, dim, n_planes).alias("qsig"),
        )
        .select("query_id", "qv", F.explode(F.array(*probes)).alias("sig"))
    )

    def _score_bucket_np(cid, C, qid, Q):
        """(bucket candidates) x (bucket queries) → per-query local
        top-k partials; one matmul per bucket, unchanged math."""
        cn = np.linalg.norm(C, axis=1)
        qn = np.linalg.norm(Q, axis=1)
        s = (Q @ C.T) / np.outer(qn, cn)             # (m, n) one matmul
        out_q, out_c, out_s = [], [], []
        # +1 so a dropped self-hit still leaves k survivors
        top = min(k + 1 if drop_self else k, s.shape[1])
        for i in range(s.shape[0]):
            idx = np.argpartition(-s[i], top - 1)[:top]
            if drop_self:                             # shared id space only
                mask = cid[idx] != qid[i]
            else:
                mask = np.ones(len(idx), dtype=bool)
            out_q.append(np.full(int(mask.sum()), qid[i]))
            out_c.append(cid[idx][mask])
            out_s.append(s[i][idx][mask])
        return pd.DataFrame(
            {"query_id": np.concatenate(out_q),
             "vec_id": np.concatenate(out_c),
             "score": np.concatenate(out_s)}
        )

    # Both sides union into ONE tagged frame, co-located by bucket and
    # streamed bucket-by-bucket inside a single Python call per task
    # (round 8): the old per-bucket cogroup applyInPandas paid a
    # separate Arrow/protocol round-trip per bucket — ~4 ms x 2^n_planes
    # groups of pure overhead at small scale. Sort puts each bucket's
    # candidates (role 0) before its queries (role 1); only the current
    # bucket is held in memory — the same bound the cogroup form had.
    tagged = base.select(
        "sig", F.lit(0).alias("role"), F.col("vec_id").alias("rid"), "v"
    ).unionByName(
        qset.select(
            "sig", F.lit(1).alias("role"),
            F.col("query_id").alias("rid"), F.col("qv").alias("v"),
        )
    )

    def _stream_score(batches):
        cur_sig = None
        c_ids: list = []
        c_vs: list = []
        q_ids: list = []
        q_vs: list = []

        def _flush():
            out = None
            if c_ids and q_ids:
                out = _score_bucket_np(
                    np.asarray(c_ids, dtype=np.int64), np.stack(c_vs),
                    np.asarray(q_ids, dtype=np.int64), np.stack(q_vs),
                )
            c_ids.clear(); c_vs.clear(); q_ids.clear(); q_vs.clear()
            return out

        for pdf in batches:
            if not len(pdf):
                continue
            sigs = pdf["sig"].to_numpy()
            roles = pdf["role"].to_numpy()
            rids = pdf["rid"].to_numpy()
            vs = pdf["v"].to_numpy()
            change = np.flatnonzero(
                (sigs[1:] != sigs[:-1]) | (roles[1:] != roles[:-1])
            ) + 1
            bounds = np.concatenate(([0], change, [len(pdf)]))
            for s, e in zip(bounds[:-1], bounds[1:]):
                if sigs[s] != cur_sig:
                    if cur_sig is not None:
                        out = _flush()
                        if out is not None:
                            yield out
                    cur_sig = sigs[s]
                if roles[s] == 0:
                    c_ids.extend(rids[s:e])
                    c_vs.extend(vs[s:e])
                else:
                    q_ids.extend(rids[s:e])
                    q_vs.extend(vs[s:e])
        if cur_sig is not None:
            out = _flush()
            if out is not None:
                yield out

    partials = (
        tagged.repartition("sig")
        .sortWithinPartitions("sig", "role")
        .mapInPandas(
            _stream_score, schema="query_id long, vec_id long, score double"
        )
        # a query probing several buckets can meet the same candidate in
        # each — keep the best partial per (query, candidate)
        .groupBy("query_id", "vec_id")
        .agg(F.max("score").alias("score"))
        .withColumn("score", F.round("score", 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("vec_id"))
    return partials.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


# -- product-quantization ANN (Jégou et al. 2011, public paper) ---------------

def _pq_codebooks(
    emb: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Per-subspace k-means codebooks on a deterministic bounded sample
    (driver-side numpy, same convention as _ivf_centroids: at 10^12
    vectors sample ~10^6 rows — codebooks are m·ksub·(dim/m) floats =
    one vector's worth of data per subspace). Returns (m, ksub, dim/m)."""
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    dsub = dim // m
    sample = _bounded_sample(emb, vec_col, id_col)
    if len(sample) < ksub:
        raise ValueError(
            f"pq: need >= {ksub} vectors to seed {ksub} codewords per "
            f"subspace, got {len(sample)}"
        )
    rnd = np.random.RandomState(42)
    books = np.empty((m, ksub, dsub))
    for s in range(m):
        sub = sample[:, s * dsub:(s + 1) * dsub]
        cents = sub[rnd.choice(len(sub), size=ksub, replace=False)]
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[s] = cents
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to m codebook indices — the 4·dim-byte →
    m-byte compression that makes the candidate stream cheap to scan
    and shuffle (32× at dim=64, m=8). Arrow-batched iterator pandas UDF
    (numpy per batch, no per-row Python)."""
    from pyspark.sql.functions import pandas_udf

    m, ksub, dsub = codebooks.shape
    books = codebooks  # closed over; shipped once per worker

    @pandas_udf("array<int>")
    def encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ser in batches:
            V = np.stack(ser.to_numpy()).astype(np.float64)  # (n, dim)
            codes = np.empty((V.shape[0], m), dtype=np.int32)
            for s in range(m):
                sub = V[:, s * dsub:(s + 1) * dsub]          # (n, dsub)
                # ||x - c||² argmin via the expanded form: one matmul
                d2 = (
                    (sub ** 2).sum(axis=1, keepdims=True)
                    - 2.0 * sub @ books[s].T
                    + (books[s] ** 2).sum(axis=1)[None, :]
                )
                codes[:, s] = d2.argmin(axis=1)
            yield pd.Series(list(codes))

    return emb.select(F.col(id_col), encode(_dvec(vec_col)).alias("codes"))


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) and exact re-rank:

      1. train per-subspace codebooks on a bounded seeded sample
         (driver numpy, m·ksub tiny);
      2. encode the corpus to m-byte codes (Arrow-batched pandas UDF) —
         the candidate stream is 4·dim/m× smaller than raw vectors;
      3. per query, precompute the m×ksub dot-product lookup table
         driver-side (bounded: |queries|·m·ksub doubles) and broadcast
         it; approximate score per vector = Σ_s LUT[s][code_s], pure
         JVM zip_with+aggregate over the codes array — no Python, no
         full vectors touched;
      4. keep the top k·refine per query by ADC score (one window over
         the uniform query key), then re-rank JUST those candidates
         with exact cosine against the raw vectors (join back by id).

    Scale: the corpus-wide pass reads codes only; exact vectors are
    fetched for k·refine·|queries| rows. Approximate recall is governed
    by (m, ksub, refine) — rows-only key with a recall harness, the HLL
    treatment (no value-exact oracle for an ANN by design)."""
    if len(query_ids) > 256:
        raise ValueError(
            f"pq_topk: {len(query_ids)} query ids — the per-query ADC "
            "LUT is built in a bounded driver loop (O(q·m·ksub)); for "
            "large query batches use batch_topk's cogrouped block-matmul "
            "path instead"
        )
    books = _pq_codebooks(emb, vec_col, dim, m, ksub, id_col=id_col)
    codes = pq_encode(emb, books, id_col, vec_col)

    spark = emb.sparkSession
    qvecs = {
        r[0]: np.array(r[1], dtype=np.float64)
        for r in emb.filter(F.col(id_col).isin(query_ids))
        .select(id_col, _dvec(vec_col))
        .collect()
    }
    dsub = dim // m
    lut_rows = []
    for qid, qv in sorted(qvecs.items()):
        lut = [
            [float(qv[s * dsub:(s + 1) * dsub] @ books[s][c])
             for c in range(ksub)]
            for s in range(m)
        ]
        lut_rows.append((qid, lut, float(np.linalg.norm(qv))))
    luts = spark.createDataFrame(
        lut_rows, "query_id long, lut array<array<double>>, qnorm double"
    )

    # ADC score: Σ over subspaces of LUT[s][code_s] — zip_with pairs the
    # s-th code with the s-th LUT row, aggregate folds the sum. JVM-only.
    adc = (
        codes.crossJoin(F.broadcast(luts))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.aggregate(
                F.zip_with(
                    "codes", "lut",
                    lambda c, row: F.element_at(row, c + F.lit(1)),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.col(id_col))
    cand = adc.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k * refine
    )

    # exact re-rank of the shortlist only
    vecs = emb.select(F.col(id_col), _dvec(vec_col).alias("v"))
    qside = spark.createDataFrame(
        [(qid, [float(x) for x in qv]) for qid, qv in sorted(qvecs.items())],
        "query_id long, qv array<double>",
    )
    rer = (
        cand.join(vecs, on=id_col)
        .join(F.broadcast(qside), on="query_id")
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("v"), F.col("qv")), 4).alias("score"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return rer.withColumn("rk", F.row_number().over(w2)).filter(F.col("rk") <= k)


# -- SemDeDup-style semantic dedup (Abbas et al. 2023, public paper) ----------

def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = _N_PLANES,
    n_tables: int = 2,
) -> DataFrame:
    """Embedding-level near-duplicate removal, SemDeDup-style (Abbas et
    al. 2023 "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication", public paper): documents whose embeddings
    are cosine-near-identical are semantic restatements — keep ONE
    representative per semantic cluster.

    Composition of three already-scale-shaped pieces (nothing new has to
    hold the corpus anywhere):

      1. candidate pairs: SRP-bucketed cosine near-dup join with
         OR-amplified recall (``embedding_neardup_pairs`` — bucketed,
         never all-pairs; SemDeDup's k-means clusters play the same
         candidate-bounding role as the SRP buckets here);
      2. clusters: pointer-doubling connected components over the pair
         graph (``dedup.connected_components``, O(log diameter) rounds)
         — transitive closure, so chains a≈b≈c collapse to one cluster
         even when cos(a,c) < threshold;
      3. representative: min id per cluster (deterministic).

    Returns one row PER INPUT VECTOR: (vec_id, rep_id, is_rep) — rep_id
    = min id of its semantic cluster (itself when unclustered),
    is_rep = "keep this one". Downstream: filter is_rep, or anti-join
    the non-reps (clean_corpus --semantic-dedup stage).

    Rows-only driver key (hash-family-specific recall, the LSH/SimHash
    treatment); planted-clone recall + transitivity are pytest-verified
    in tests/test_dedup_sim.py."""
    from bmspark.functions import dedup

    pairs = embedding_neardup_pairs(
        emb, threshold, dim, id_col, vec_col, n_planes, n_tables
    )
    comp = dedup.connected_components(pairs, "id_a", "id_b")
    out = (
        emb.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("root", F.col(id_col)).alias("rep_id"),
        )
        .withColumn("is_rep", F.col(id_col) == F.col("rep_id"))
    )
    return out
