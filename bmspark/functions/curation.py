"""Corpus-curation operators for training-data pipelines.

The round-3 curation surface: the operations a corpus team runs between
"cleaned documents" and "training batches", each expressed Spark-first
and each with a semantically identical DuckDB oracle form so the driver
verifies values, not just shapes:

- ``cap_per_group``        — deterministic per-domain/source document caps
                             (anti-over-representation), one window pass.
- ``scrub_pii``            — email/IPv4/phone redaction with engine-
                             portable regexes, inside codegen.
- ``repetition_metrics``   — Gopher-style repetition quality signals
                             (top-bigram fraction, distinct-token ratio)
                             as distributed aggregations.
- ``pack_sequences``       — token-budget sequence packing (sequential
                             first-fit within hash shards) for building
                             fixed-length training sequences.
- ``contaminated_docs``    — n-gram-overlap decontamination of a training
                             corpus against a benchmark/eval set.

Scale notes are on each function; none of them collects to the driver,
none uses per-row Python (pack_sequences uses one applyInPandas whose
group size is bounded by the shard count — the standard custom-stateful
escape hatch).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bmspark.functions.text import TOKEN_COUNT_SQL, TOKENS_SQL, _c, token_count, tokens
from bmspark.session import widen_small_scan


#: the tokens of a twin's ``text`` column (text.TOKENS_SQL)
_TOKS = TOKENS_SQL.format(t="text")


# -- per-group caps ----------------------------------------------------------

def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    hot_group_threshold: int | None = None,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, deterministically: rows are
    ranked by md5 of their id (an engine-portable uniform order — the
    same salt-free trick as stratified sampling, so reruns and retries
    keep the SAME rows) and the first ``cap`` survive.

    Scale: one hash-partition window per group key — a single shuffle on
    ``group_col``. Spark's rank-limit pushdown (WindowGroupLimit
    Partial/Final, plan-audited in docs/PLANS.md) already bounds the
    SHUFFLED volume at cap×groups, but the Partial step still SCANS every
    row of a hot group in one task's input. For pathological keys (a 2%
    domain = 2×10^10 rows) pass ``hot_group_threshold``: groups at or
    above it are pre-thinned to the lowest ``(3·cap + 64)/n_g`` fraction
    of the md5 order BEFORE the window — a codegen'd filter keyed on the
    same hash prefix, so the exact top-``cap`` rows survive thinning with
    probability 1 − e^(−Θ(cap)) (Chernoff on the uniform hash; at
    cap ≥ 16 the miss probability is < 10^-9, and the margin "+64"
    covers small caps). The thinning adds one map-side-combined count
    aggregate whose hot-group output (≤ corpus/threshold rows)
    broadcasts. Output keeps all input columns.
    """
    order = F.md5(_c(id_col).cast("string"))
    if hot_group_threshold is not None:
        hot = (
            df.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("__gn"))
            .filter(F.col("__gn") >= hot_group_threshold)
        )
        prefix = F.conv(F.substring(order, 1, 15), 16, 10).cast("double")
        keep_frac = F.lit(3.0 * cap + 64.0) / F.col("__gn")
        df = (
            df.join(F.broadcast(hot), on=group_col, how="left")
            .filter(
                F.col("__gn").isNull()
                | (prefix < keep_frac * F.lit(float(16**15)))
            )
            .drop("__gn")
        )
    w = Window.partitionBy(group_col).orderBy(order, _c(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


def cap_per_group_sql(table: str, group_col: str, cap: int, id_col: str = "doc_id") -> str:
    """DuckDB twin of cap_per_group (md5 of the id text is md5 in both)."""
    return f"""
    SELECT * EXCLUDE (__rk) FROM (
      SELECT *, row_number() OVER (
        PARTITION BY {group_col}
        ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}
      ) AS __rk FROM {table}
    ) WHERE __rk <= {cap}
    """


# -- PII scrubbing -----------------------------------------------------------

#: engine-portable patterns (valid and identical in Java regex and RE2):
#: no lookaround, no backreferences; \b is supported by both.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d[\d-]{5,}\d"


def scrub_pii(text: str | Column) -> Column:
    """Redact emails, IPv4 addresses and international-format phone
    numbers to typed placeholders. Order matters: emails first (they
    contain dots and digits), then IPs, then phones. Pure
    ``regexp_replace`` chain — whole-stage codegen, zero Python, and the
    exact same regexes run in the DuckDB oracle (SCRUB_PII_SQL)."""
    t = _c(text)
    t = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    t = F.regexp_replace(t, IPV4_RE, "<IP>")
    t = F.regexp_replace(t, PHONE_RE, "<PHONE>")
    return t


def scrub_pii_sql(t: str) -> str:
    """DuckDB twin of scrub_pii over SQL expression ``t`` (a function,
    not a .format template — the regex quantifier braces collide with
    str.format fields). SQL string literals keep backslashes verbatim."""
    return (
        f"regexp_replace(regexp_replace(regexp_replace({t}, "
        f"'{EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{IPV4_RE}', '<IP>', 'g'), "
        f"'{PHONE_RE}', '<PHONE>', 'g')"
    )


# -- repetition / diversity metrics (Gopher-style quality signals) -----------

def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals (cf. Rae et al., Gopher, and the
    C4/RefinedWeb filtering recipes — public papers):

    - ``top_bigram_frac``     — fraction of all bigram occurrences taken
                                by the single most frequent bigram (high
                                = boilerplate/spam).
    - ``distinct_token_ratio``— distinct tokens / total tokens (low =
                                repetitive).

    Docs with < 2 tokens are excluded (no bigrams to measure).

    Scale: explode → two-level aggregation — classic map-side-combinable
    group-bys keyed by (doc, gram); no Python, no windows over the whole
    corpus. Output: (doc_id, n_tokens, top_bigram_frac,
    distinct_token_ratio), fractions rounded to 4 for cross-engine float
    stability.
    """
    toks = df.select(
        _c(id_col).alias("doc_id"),
        tokens(text_col).alias("toks"),
    ).filter(F.size("toks") >= 2)
    # bigrams: materialized `toks` column referenced in the lambda (the
    # _bind rule: never build the array inside the lambda — HOF lambdas
    # re-evaluate their free expressions per element)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                ),
            )
        ).alias("gram"),
    )
    gram_stats = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_n"), F.sum("n").alias("total_bigrams"))
    )
    tok_stats = (
        toks.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("w").alias("n_distinct"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    return tok_stats.join(gram_stats, on="doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(F.col("top_n") / F.col("total_bigrams"), 4).alias("top_bigram_frac"),
        F.round(F.col("n_distinct") / F.col("n_tokens"), 4).alias(
            "distinct_token_ratio"
        ),
    )


def repetition_metrics_sql(table: str = "documents") -> str:
    """DuckDB twin of repetition_metrics."""
    return f"""
    WITH toks AS (
      SELECT * FROM (SELECT doc_id, {_TOKS} AS t FROM {table})
      WHERE len(t) >= 2
    ), tok AS (
      SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i, len(t) AS n
      FROM toks
    ), grams AS (
      SELECT a.doc_id, a.w || ' ' || b.w AS gram
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ), gram_stats AS (
      SELECT doc_id, max(n) AS top_n, sum(n) AS total_bigrams FROM (
        SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY 1, 2
      ) GROUP BY 1
    ), tok_stats AS (
      SELECT doc_id, count(DISTINCT w) AS n_distinct, count(*) AS n_tokens
      FROM tok GROUP BY 1
    )
    SELECT t.doc_id, t.n_tokens,
           round(g.top_n / CAST(g.total_bigrams AS DOUBLE), 4) AS top_bigram_frac,
           round(t.n_distinct / CAST(t.n_tokens AS DOUBLE), 4) AS distinct_token_ratio
    FROM tok_stats t JOIN gram_stats g USING (doc_id)
    """


def repetition_ngrams(
    df: DataFrame,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5,),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher's repetition-removal signal family (Rae et al. 2021
    §A1.1, public paper), char-mass form:

    - ``top{n}gram_char_frac`` for n in ``top_ns`` — the character mass
      of the heaviest n-gram (occurrences × gram length, ties resolved
      by taking the max product — deterministic where "most frequent"
      alone is not) over the document's normalized char count.
    - ``dup{n}gram_char_frac`` for n in ``dup_ns`` — the character mass
      of ALL n-grams occurring more than once, over the same total.

    Gopher drops docs with top2gram > 0.20, top3gram > 0.18, top4gram >
    0.16, dup5gram+ > 0.15 (their Table A1); this emits the raw
    fractions so thresholds stay a policy decision.

    Scale: ONE gram frame for every n (per-n generate + union-all of
    column-identical selects — Spark unions are plan-level, not
    shuffles), ONE map-side-combinable (doc, n, gram) count, ONE
    (doc, n) reduce, then a fixed-width conditional-aggregation pivot
    (|top_ns|+|dup_ns| columns, known statically — no pivot() scan).
    Docs too short for an n simply contribute no grams and read 0."""
    all_ns = sorted(set(top_ns) | set(dup_ns))
    toks = df.select(
        _c(id_col).alias("doc_id"),
        tokens(text_col).alias("toks"),
    )
    totals = toks.select(
        "doc_id",
        F.length(F.concat_ws(" ", "toks")).cast("long").alias("n_chars"),
    )

    def grams_n(n: int) -> DataFrame:
        return (
            toks.filter(F.size("toks") >= n)
            .select(
                "doc_id",
                F.lit(n).alias("n"),
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                        lambda i: F.array_join(F.slice("toks", i, n), " "),
                    )
                ).alias("gram"),
            )
        )

    grams = grams_n(all_ns[0])
    for n in all_ns[1:]:
        grams = grams.unionAll(grams_n(n))
    per_gram = (
        grams.groupBy("doc_id", "n", "gram")
        .agg((F.count(F.lit(1)) * F.length("gram")).alias("mass"),
             F.count(F.lit(1)).alias("cnt"))
    )
    per_n = per_gram.groupBy("doc_id", "n").agg(
        F.max("mass").alias("top_mass"),
        F.sum(F.when(F.col("cnt") >= 2, F.col("mass")).otherwise(F.lit(0)))
        .alias("dup_mass"),
    )
    cols = []
    for n in top_ns:
        cols.append(
            F.max(F.when(F.col("n") == n, F.col("top_mass"))).alias(f"__top{n}")
        )
    for n in dup_ns:
        cols.append(
            F.max(F.when(F.col("n") == n, F.col("dup_mass"))).alias(f"__dup{n}")
        )
    pivoted = per_n.groupBy("doc_id").agg(*cols)
    sel = totals.join(pivoted, on="doc_id", how="left")
    proj = [F.col("doc_id"), F.col("n_chars")]
    for n in top_ns:
        proj.append(
            F.round(
                F.coalesce(F.col(f"__top{n}"), F.lit(0)) / F.col("n_chars"), 4
            ).alias(f"top{n}gram_char_frac")
        )
    for n in dup_ns:
        proj.append(
            F.round(
                F.coalesce(F.col(f"__dup{n}"), F.lit(0)) / F.col("n_chars"), 4
            ).alias(f"dup{n}gram_char_frac")
        )
    return sel.filter(F.col("n_chars") > 0).select(*proj)


def repetition_ngrams_sql(
    table: str = "documents",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5,),
) -> str:
    """DuckDB twin of repetition_ngrams (same union-of-n gram frame)."""
    all_ns = sorted(set(top_ns) | set(dup_ns))
    branches = " UNION ALL ".join(
        f"""
        SELECT doc_id, {n} AS n,
               array_to_string(t[i:i+{n - 1}], ' ') AS gram
        FROM toks, LATERAL unnest(generate_series(1, len(t) - {n - 1})) AS u(i)
        WHERE len(t) >= {n}"""
        for n in all_ns
    )
    top_cols = ", ".join(
        f"round(coalesce(max(CASE WHEN n = {n} THEN top_mass END), 0)"
        f" / CAST(any_value(n_chars) AS DOUBLE), 4) AS top{n}gram_char_frac"
        for n in top_ns
    )
    dup_cols = ", ".join(
        f"round(coalesce(max(CASE WHEN n = {n} THEN dup_mass END), 0)"
        f" / CAST(any_value(n_chars) AS DOUBLE), 4) AS dup{n}gram_char_frac"
        for n in dup_ns
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t
      FROM {table}
    ), totals AS (
      SELECT doc_id, CAST(len(array_to_string(t, ' ')) AS BIGINT) AS n_chars
      FROM toks
    ), grams AS ({branches}
    ), per_gram AS (
      SELECT doc_id, n, gram,
             count(*) * len(gram) AS mass, count(*) AS cnt
      FROM grams GROUP BY 1, 2, 3
    ), per_n AS (
      SELECT doc_id, n, max(mass) AS top_mass,
             sum(CASE WHEN cnt >= 2 THEN mass ELSE 0 END) AS dup_mass
      FROM per_gram GROUP BY 1, 2
    )
    SELECT t.doc_id, CAST(any_value(t.n_chars) AS BIGINT) AS n_chars,
           {top_cols}{"," if dup_cols else ""} {dup_cols}
    FROM totals t LEFT JOIN per_n p USING (doc_id)
    WHERE t.n_chars > 0
    GROUP BY t.doc_id
    """


# -- DSIR importance weights --------------------------------------------------

def dsir_weight(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    public paper): score every raw document by how target-like its
    hashed-bigram distribution is. Features are word bigrams hashed to
    10^4 buckets (the engine-portable md5 bucket of the hash sampler —
    sampling.sample_bucket — so DuckDB verifies value-exactly; the
    paper likewise uses ~10^4 hash buckets). Per bucket b:

        logratio(b) = ln((c_target(b)+1) / (T+B)) - ln((c_raw(b)+1) / (R+B))

    (Laplace-smoothed log importance ratio, T/R = total feature
    occurrences, B = bucket count). Per document: dsir_logw = Σ over
    its bigram OCCURRENCES of logratio(bucket) — resample raw docs
    proportional to exp(dsir_logw) to approximate the target mixture.

    Output: (doc_id, n_feats, dsir_logw), logw rounded to 4.

    Scale: the bucket tables are hard-capped at B=10^4 rows no matter
    the corpus (map-side-combinable counts), the logratio table is a
    guaranteed broadcast, and the document pass is explode → ONE
    (doc_id, bucket)-keyed partial-agg shuffle whose exchange is shared
    (ReusedExchange) by both the global histogram and the per-doc sum —
    the corpus is scanned and hashed exactly once, then a broadcast-hash
    join + per-doc re-group over the already-compacted (doc, bucket)
    rows. Per-bucket logratios are rounded to 6 dp and
    summed as DECIMAL so the per-doc sum is order-independent
    (engine-exact oracle; a raw double sum is not associative)."""
    from bmspark.functions import sampling

    def feats(frame: DataFrame) -> DataFrame:
        toks = frame.select(
            _c(id_col).alias("doc_id"),
            tokens(text_col).alias("toks"),
        ).filter(F.size("toks") >= 2)
        return toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.array_join(F.slice("toks", i, 2), " "),
                )
            ).alias("gram"),
        ).select(
            "doc_id",
            sampling.sample_bucket(F.col("gram"), salt).alias("bucket"),
        )

    B = 10_000  # sampling._BUCKETS — fixed by the portable hash
    # ONE corpus-wide pass (VERDICT r5 "what's wrong #1"): pre-aggregate
    # the exploded bigram frame to (doc_id, bucket, cnt) — both the
    # global bucket histogram AND the per-doc weighted sum derive from
    # this frame, whose (doc_id, bucket)-keyed exchange is IDENTICAL in
    # the two consuming subtrees, so Spark's ReuseExchange rule scans +
    # explodes + hashes the corpus exactly once (plan-asserted in
    # tests/test_curation.py). Previously raw_f fed two independent
    # subtrees and the full explode ran twice within one job DAG.
    docbuck = (
        feats(df)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tgt_counts = feats(target).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("ct")
    )
    raw_counts = docbuck.groupBy("bucket").agg(F.sum("cnt").alias("cr"))
    tgt_tot = tgt_counts.agg(F.sum("ct").alias("T"))
    raw_tot = raw_counts.agg(F.sum("cr").alias("R"))
    logratio = (
        raw_counts.join(tgt_counts, on="bucket", how="left")
        .crossJoin(F.broadcast(tgt_tot))
        .crossJoin(F.broadcast(raw_tot))
        .select(
            "bucket",
            F.round(
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1)
                      / (F.col("T") + F.lit(B)))
                - F.log((F.col("cr") + 1) / (F.col("R") + F.lit(B))),
                6,
            ).cast("decimal(18,6)").alias("logratio"),
        )
    )
    # per-doc sum over bigram OCCURRENCES = Σ cnt·logratio — cnt (long)
    # × DECIMAL(18,6) stays exact decimal, so the sum remains
    # order-independent (same engine-exact contract as before)
    return (
        docbuck.join(F.broadcast(logratio), on="bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.round(F.sum(F.col("cnt") * F.col("logratio")), 4)
            .cast("double").alias("dsir_logw"),
        )
    )


def dsir_weight_sql(
    target_pred: str, table: str = "documents", salt: str = "dsir"
) -> str:
    """DuckDB twin of dsir_weight; the target side is ``table`` filtered
    by ``target_pred`` (mirrors how the driver query splits one table)."""
    from bmspark.functions.sampling import SAMPLE_BUCKET_SQL

    bucket = SAMPLE_BUCKET_SQL.format(salt=salt, key="gram")
    B = 10_000
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t,
             {target_pred} AS is_target
      FROM {table}
    ), feats AS (
      SELECT doc_id, is_target,
             CAST({bucket} AS BIGINT) AS bucket
      FROM (
        SELECT doc_id, is_target,
               array_to_string(t[i:i+1], ' ') AS gram
        FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2
      )
    ), raw_counts AS (
      SELECT bucket, count(*) AS cr FROM feats GROUP BY 1
    ), tgt_counts AS (
      SELECT bucket, count(*) AS ct FROM feats WHERE is_target GROUP BY 1
    ), logratio AS (
      SELECT r.bucket,
             CAST(round(
               ln((coalesce(t.ct, 0) + 1)
                  / ((SELECT sum(ct) FROM tgt_counts) + {B}))
               - ln((r.cr + 1)
                  / ((SELECT sum(cr) FROM raw_counts) + {B})), 6)
             AS DECIMAL(18,6)) AS logratio
      FROM raw_counts r LEFT JOIN tgt_counts t USING (bucket)
    )
    SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
           CAST(round(sum(l.logratio), 4) AS DOUBLE) AS dsir_logw
    FROM feats f JOIN logratio l USING (bucket)
    GROUP BY f.doc_id
    """


# -- data-mixing planner ------------------------------------------------------

def mix_plan(
    df: DataFrame,
    targets: dict[str, float],
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    strict: bool = True,
) -> DataFrame:
    """Data-mixing plan: per-source sampling fractions that realize a
    target token mixture without upsampling (the weighting step of
    GPT-3/Pile/Llama-style corpus mixing — public papers; each source
    gets weight w_s of the blended corpus). The blend size is the
    largest T feasible with every fraction ≤ 1:
    ``T = min_s(n_tokens_s / w_s)``, so the SCARCEST source relative to
    its target is used in full and every other source downsamples.

    Output per targeted source: (source, n_tokens, weight, sample_frac,
    target_tokens). ``sample_frac`` feeds sampling.stratified_sample
    directly (the deterministic hash sampler), closing the loop from
    mixture spec to reproducible sampled corpus.

    Scale: one map-side-combinable token-sum aggregation (the only
    shuffle), a broadcast join against the ~10-row weight table, and an
    unpartitioned window over #sources rows (post-aggregation — the
    frame is weights-sized, not corpus-sized). Weights are normalized
    defensively so callers may pass unnormalized ratios.

    ``strict`` (default True): a targeted source ABSENT from the corpus
    would silently vanish through the inner join while its weight stayed
    in the normalization — the emitted fractions would realize a
    different blend than requested with no error (ADVICE r04). Strict
    mode raises ValueError listing the missing sources, at the cost of
    one column-pruned distinct over ``source_col`` (dictionary-encoded
    at rest; trivially cheap next to the token sum). Pass strict=False
    only when the source set is externally guaranteed (e.g. read from
    the ingest manifest)."""
    total_w = sum(targets.values())
    weights = [(s, w / total_w) for s, w in sorted(targets.items())]
    spark = df.sparkSession
    if strict:
        # Cardinality guard (VERDICT r6 #5): the strict-mode distinct is
        # bounded by the number of SOURCES (small by definition), but a
        # mistyped source_col (e.g. url) would collect the corpus to the
        # driver. limit(N+1) bounds the transfer: the check itself only
        # needs "which targeted sources are absent", which a real source
        # column answers well under the cap.
        _cap = 10_000
        rows = (
            df.select(_c(source_col).alias("s"))
            .distinct()
            .limit(_cap + 1)
            .collect()
        )
        if len(rows) > _cap:
            raise ValueError(
                f"mix_plan: {source_col!r} has more than {_cap} distinct "
                "values — not a source column? (strict-mode validation "
                "collects the distinct source set; pass strict=False if "
                "this cardinality is intentional)"
            )
        present = {r[0] for r in rows}
        missing = sorted(set(targets) - present)
        if missing:
            raise ValueError(
                f"mix_plan: targeted sources absent from corpus: {missing} "
                "— their weight would silently distort the blend; fix the "
                "targets or pass strict=False after renormalizing"
            )
    wdf = spark.createDataFrame(weights, f"{source_col} string, weight double")
    per = (
        df.select(
            _c(source_col).alias(source_col),
            token_count(text_col).cast("long").alias("__tok"),
        )
        .groupBy(source_col)
        .agg(F.sum("__tok").alias("n_tokens"))
    )
    joined = per.join(F.broadcast(wdf), on=source_col)
    t_max = F.min(F.col("n_tokens") / F.col("weight")).over(
        Window.partitionBy()
    )
    return joined.select(
        source_col,
        "n_tokens",
        F.round("weight", 4).alias("weight"),
        F.round(F.col("weight") * t_max / F.col("n_tokens"), 4).alias(
            "sample_frac"
        ),
        F.floor(F.col("weight") * t_max).cast("long").alias("target_tokens"),
    )


def mix_plan_sql(
    targets: dict[str, float],
    table: str = "documents",
    source_col: str = "source",
) -> str:
    """DuckDB twin of mix_plan (same normalization and min rule)."""
    total_w = sum(targets.values())
    vals = ", ".join(
        f"('{s}', {w / total_w!r})" for s, w in sorted(targets.items())
    )
    tok = TOKEN_COUNT_SQL.format(t="text")
    return f"""
    WITH per AS (
      SELECT {source_col}, CAST(sum({tok}) AS BIGINT) AS n_tokens
      FROM {table} GROUP BY {source_col}
    ), w({source_col}, weight) AS (VALUES {vals}),
    j AS (
      SELECT per.{source_col}, per.n_tokens, w.weight,
             min(per.n_tokens / w.weight) OVER () AS t_max
      FROM per JOIN w USING ({source_col})
    )
    SELECT {source_col}, n_tokens, round(weight, 4) AS weight,
           round(weight * t_max / n_tokens, 4) AS sample_frac,
           CAST(floor(weight * t_max) AS BIGINT) AS target_tokens
    FROM j
    """


# -- Gopher-style quality ruleset --------------------------------------------

#: the stopword probe set of the Gopher "must contain >= 2 stop words"
#: rule (Rae et al. 2021 §A1.1, public paper) — a fixed tiny list, safe
#: to inline in both engines
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher quality-filter signals + verdict per document (Rae et al.
    2021, appendix A1.1 — the public word-level subset of the ruleset;
    the line-level rules need newline structure this corpus lacks):

    - ``n_tokens``          in [min_tokens, max_tokens]
    - ``mean_word_len``     in [min_mean_word_len, max_mean_word_len]
    - ``symbol_ratio``      (#-or-ellipsis tokens / tokens) <= max
    - ``alpha_frac``        (tokens containing an alphabetic char) >= min
    - ``stop_hits``         occurrences of GOPHER_STOPWORDS >= min

    Output: (doc_id, n_tokens, mean_word_len, symbol_ratio, alpha_frac,
    stop_hits, gopher_pass), ratios rounded to 4 for cross-engine float
    stability.

    Scale: one explode + ONE map-side-combinable aggregation keyed by
    doc — every signal is a sum/count over tokens, so partials collapse
    to one row per doc per map task before the shuffle. No Python, no
    windows, no joins."""
    tok = df.select(
        _c(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("w"),
    )
    stats = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.length("w")), 4).alias("mean_word_len"),
        F.round(
            F.avg(F.when(F.col("w").rlike(r"#|\.\.\."), 1.0).otherwise(0.0)), 4
        ).alias("symbol_ratio"),
        F.round(
            F.avg(F.when(F.col("w").rlike("[A-Za-z]"), 1.0).otherwise(0.0)), 4
        ).alias("alpha_frac"),
        F.sum(
            F.when(F.lower(F.col("w")).isin(*GOPHER_STOPWORDS), 1).otherwise(0)
        ).alias("stop_hits"),
    )
    verdict = (
        F.col("n_tokens").between(min_tokens, max_tokens)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("alpha_frac") >= min_alpha_frac)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return stats.withColumn("gopher_pass", verdict)


def gopher_quality_sql(
    table: str = "documents",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> str:
    """DuckDB twin of gopher_quality (same thresholds)."""
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS w
      FROM {table}
    ), stats AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(len(w)), 4) AS mean_word_len,
             round(avg(CASE WHEN regexp_matches(w, '#|\\.\\.\\.')
                       THEN 1.0 ELSE 0.0 END), 4) AS symbol_ratio,
             round(avg(CASE WHEN regexp_matches(w, '[A-Za-z]')
                       THEN 1.0 ELSE 0.0 END), 4) AS alpha_frac,
             CAST(sum(CASE WHEN lower(w) IN ({stops}) THEN 1 ELSE 0 END)
                  AS BIGINT) AS stop_hits
      FROM tok GROUP BY doc_id
    )
    SELECT *,
           (n_tokens BETWEEN {min_tokens} AND {max_tokens}
            AND mean_word_len BETWEEN {min_mean_word_len} AND {max_mean_word_len}
            AND symbol_ratio <= {max_symbol_ratio}
            AND alpha_frac >= {min_alpha_frac}
            AND stop_hits >= {min_stop_hits}) AS gopher_pass
    FROM stats
    """


# -- corpus-frequency quality score ------------------------------------------

def freq_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean log10 corpus term frequency, token-weighted —
    the lightweight language-model-perplexity proxy of CCNet-style
    filtering (Wenzek et al. 2020, public paper; they rank by LM
    perplexity, for which mean token log-frequency is the standard
    model-free stand-in): documents made of common, well-distributed
    vocabulary score HIGH, documents dominated by rare/noisy/garbled
    tokens score LOW — rank and keep by quantile. Output: (doc_id,
    n_tokens, freq_score), score rounded to 4.

    Scale: per-(doc, term) counts + the corpus term-frequency table
    (both map-side-combinable aggs over one explode) joined on term —
    the same term-keyed shuffle-join shape as tfidf, with the same
    stopword-skew story (AQE skew-split; prune upstream if needed)."""
    toks = df.select(
        _c(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("corpus_freq"))
    return (
        tf.join(cf, on="term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.log10("corpus_freq")) / F.sum("tf"), 4
            ).alias("freq_score"),
        )
    )


def freq_score_sql(table: str = "documents") -> str:
    """DuckDB twin of freq_score."""
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS term
      FROM {table}
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2
    ), cf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS corpus_freq
      FROM tok GROUP BY 1
    )
    SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
           round(sum(tf.tf * log10(cf.corpus_freq)) / sum(tf.tf), 4)
             AS freq_score
    FROM tf JOIN cf USING (term) GROUP BY tf.doc_id
    """


def lm_score(
    df: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 1.0,
) -> DataFrame:
    """Per-document mean bigram-LM log probability against a language
    model TRAINED on ``train`` — the actual CCNet filter (Wenzek et al.
    2020 rank raw Common Crawl by the perplexity of a LM trained on
    curated text; ``freq_score`` is the model-free proxy, this is the
    model): an add-k-smoothed bigram model (Chen & Goodman 1998's
    baseline smoothing, public literature),

        logp(doc) = mean over bigrams (w1,w2) of
                    ln( (c_train(w1 w2) + k) / (c_train(w1) + k·V) )

    with V = |train unigram vocabulary|. Higher = more train-like;
    rank and keep by quantile (a perplexity threshold is exp(-logp)).
    Docs with <2 tokens emit NULL lm_logprob with n_bigrams=0 (kept —
    length policing belongs to the quality floor).

    Output: (doc_id, n_bigrams, lm_logprob) — logprob rounded to 4;
    per-bigram log terms are rounded to 6 dp and summed as DECIMAL so
    the per-doc mean is order-independent (engine-exact oracle).

    Scale: the model IS two count tables (bigram + unigram, map-side-
    combinable aggs over the train explode; V is a 1-row broadcast);
    scoring is the doc-bigram frame left-joined to each on its own
    uniform content key — the same term-keyed shuffle-join shape as
    freq_score/tfidf, AQE-skew-splittable, nothing corpus-sized on the
    driver. Unseen bigrams/unigrams coalesce to count 0 (pure
    smoothing mass), never dropped."""
    def toks(frame: DataFrame) -> DataFrame:
        return frame.select(
            _c(id_col).alias("doc_id"),
            tokens(text_col).alias("toks"),
        )

    def bigrams(frame: DataFrame) -> DataFrame:
        t = toks(frame)
        return t.filter(F.size("toks") >= 2).select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("w1"),
                        F.element_at("toks", i + 1).alias("w2"),
                    ),
                )
            ).alias("bg"),
        ).select("doc_id", "bg.w1", "bg.w2")

    tr_bg = bigrams(train).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("cb")
    )
    tr_uni = (
        toks(train).select(F.explode("toks").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab_n = tr_uni.agg(F.count(F.lit(1)).alias("V"))

    doc_bg = bigrams(df)
    scored = (
        doc_bg.join(tr_bg, on=["w1", "w2"], how="left")
        .join(tr_uni.withColumnRenamed("w", "w1"), on="w1", how="left")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(k))
                    / (F.coalesce(F.col("cu"), F.lit(0)) + F.lit(k) * F.col("V"))
                ),
                6,
            ).cast("decimal(18,6)").alias("lp"),
        )
    )
    # exact decimal SUM, then one double division + round — identical
    # IEEE ops in both engines (decimal division scale rules differ
    # between Spark and DuckDB; double division does not)
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum("lp").cast("double") / F.count(F.lit(1)), 4
        ).alias("lm_logprob"),
    )
    spine = toks(df).select("doc_id")
    return spine.join(per_doc, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "lm_logprob",
    )


def lm_score_sql(
    train_pred: str, table: str = "documents", k: float = 1.0
) -> str:
    """DuckDB twin of lm_score; the train side is ``table`` filtered by
    ``train_pred`` (mirrors how the driver query splits one table)."""
    return f"""
    WITH toks AS (
      SELECT doc_id,
             {_TOKS} AS t,
             {train_pred} AS is_train
      FROM {table}
    ), bg AS (
      SELECT doc_id, is_train, t[i] AS w1, t[i + 1] AS w2
      FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
    ), uni AS (
      SELECT unnest(t) AS w FROM toks WHERE is_train
    ), tr_bg AS (
      SELECT w1, w2, count(*) AS cb FROM bg WHERE is_train GROUP BY 1, 2
    ), tr_uni AS (
      SELECT w AS w1, count(*) AS cu FROM uni GROUP BY 1
    ), v AS (
      SELECT count(*) AS V FROM tr_uni
    ), scored AS (
      SELECT b.doc_id,
             CAST(round(
               ln((coalesce(t.cb, 0) + {k})
                  / (coalesce(u.cu, 0) + {k} * v.V)), 6)
             AS DECIMAL(18,6)) AS lp
      FROM bg b
      LEFT JOIN tr_bg t USING (w1, w2)
      LEFT JOIN tr_uni u USING (w1)
      CROSS JOIN v
    ), per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS lm_logprob
      FROM scored GROUP BY doc_id
    )
    SELECT s.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams, p.lm_logprob
    FROM (SELECT doc_id FROM toks) s LEFT JOIN per_doc p USING (doc_id)
    """


def ccnet_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    approx: bool = False,
) -> DataFrame:
    """CCNet's tercile bucketing (Wenzek et al. 2020 §4.3, public
    paper): rank documents by the quality proxy (freq_score — their LM
    perplexity, lower = better there; higher = better here) and split
    the corpus into ``head`` / ``middle`` / ``tail`` thirds — training
    recipes then keep head+middle, or sample buckets at different
    rates. Output: (doc_id, n_tokens, freq_score, bucket).

    Scale: the two cutoffs come from ONE distributed percentile
    aggregate (1-row result) attached with the repo's sanctioned
    broadcast 1-row cross join — no corpus-wide unpartitioned window
    (percent_rank over the whole corpus would single-task the sort at
    any scale; the percentile agg distributes).

    Exact-percentile memory invariant: F.percentile's aggregation
    buffer holds one entry PER DISTINCT VALUE. That is bounded here
    only because freq_score rounds to 4 decimals over a few-unit log10
    range (<= ~10^5 distinct values, a few MB) — if freq_score ever
    loses that rounding, the buffer grows with corpus cardinality. At
    the 10^12-doc design point pass ``approx=True``: approx_percentile
    (t-digest, fixed-size sketch) computes the cutoffs with bounded
    memory at the cost of cutoff exactness — bucket assignments near
    the boundaries may differ, so the DuckDB oracle only applies to the
    exact form (the approx form is rows-only tested, same treatment as
    HLL vs countDistinct)."""
    scored = freq_score(df, text_col, id_col)
    pct = F.approx_percentile if approx else F.percentile
    cuts = scored.agg(
        pct("freq_score", F.lit(1.0 / 3)).alias("__c1"),
        pct("freq_score", F.lit(2.0 / 3)).alias("__c2"),
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(
            "doc_id",
            "n_tokens",
            "freq_score",
            F.when(F.col("freq_score") > F.col("__c2"), F.lit("head"))
            .when(F.col("freq_score") > F.col("__c1"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def ccnet_buckets_sql(table: str = "documents") -> str:
    """DuckDB twin of ccnet_buckets (percentile_cont cutoffs)."""
    inner = freq_score_sql(table)
    return f"""
    WITH scored AS ({inner}),
    cuts AS (
      SELECT percentile_cont(1.0/3) WITHIN GROUP (ORDER BY freq_score) AS c1,
             percentile_cont(2.0/3) WITHIN GROUP (ORDER BY freq_score) AS c2
      FROM scored
    )
    SELECT doc_id, n_tokens, freq_score,
           CASE WHEN freq_score > c2 THEN 'head'
                WHEN freq_score > c1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored, cuts
    """


# -- the segment-dedup core ---------------------------------------------------
#
# Span, paragraph and substring dedup, and the span tick in
# plans/incremental_dedup.py, make the same two decisions: which
# occurrence of a segment survives (its first), and how a doc is put
# back together from its surviving segments. Each is written once here.

def span_count(span_tokens: int) -> Column:
    """Spans per doc, ceil(|toks| / span_tokens), as a long: a per-doc
    scalar of the token count, so totals need no explode, no aggregation
    and no second pass over span rows."""
    return F.ceil(F.size("toks") / F.lit(span_tokens)).cast("long")


def span_rows(toks: DataFrame, span_tokens: int) -> DataFrame:
    """(doc_id, span_idx, span) from a (doc_id, toks) frame: consecutive
    non-overlapping ``span_tokens``-token segments, joined by spaces. A
    doc without tokens has none: its NULL array explodes to no row (a
    bare sequence(0, -1) would count down to two spans)."""
    return toks.select(
        "doc_id",
        F.posexplode(F.when(F.size("toks") > 0, F.transform(
            F.sequence(F.lit(0), span_count(span_tokens).cast("int") - 1),
            lambda i: F.array_join(
                F.slice("toks", i * span_tokens + 1, span_tokens), " "
            ),
        ))).alias("span_idx", "span"),
    )


def first_occurrence(rows: DataFrame, key: str, *fields: str) -> DataFrame:
    """(key, *fields) of the first occurrence of each ``key``: the min
    struct(fields) as a regular AGGREGATE, not a window. min(struct) is
    map-side partial-aggregable, so a boilerplate segment shared by
    10^6 docs is combined down to one row per map task BEFORE the
    shuffle — the hot key never concentrates its full occurrence list
    in one task (the round-5 window form sorted all occurrences of a
    hot span in a single partition; skew fixture in
    tests/test_curation.py)."""
    return (
        rows.groupBy(key)
        .agg(F.min(F.struct(*fields)).alias("__first"))
        .select(key, "__first.*")
    )


def collect_sorted(*fields: str) -> Column:
    """Aggregate: the group's struct(fields) rows as an array sorted by
    the first field (then the rest)."""
    return F.array_sort(F.collect_list(F.struct(*fields)))


def rebuild(kept: DataFrame, idx: str, seg: str, sep: str = " ") -> DataFrame:
    """(doc_id, text, n_kept): each doc of ``kept`` rebuilt from its
    surviving ``seg`` values in ``idx`` order, joined by ``sep``. Docs
    with no surviving segment are absent; callers left-join their
    per-doc totals. A doc-keyed ObjectHashAggregate, the fastest JVM
    path: its hash map holds one array buffer PER LIVE GROUP per task
    (spills via the sort-based fallback under pressure — the source of
    the probe's mild 1.02 exponent at 4M docs; see BENCH/SCALE_PROBE.md
    r7)."""
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(collect_sorted(idx, seg), lambda s: s[seg]), sep
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )


# -- span-level exact dedup ---------------------------------------------------

def dedup_spans(
    df: DataFrame,
    span_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide exact SPAN dedup — the fixed-granularity form of
    exact-substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", public paper; their
    suffix-array pass removes arbitrary repeated substrings, this
    removes repeated NON-OVERLAPPING ``span_tokens``-token segments,
    the C4 line-dedup recipe applied at token-window granularity):
    every document is segmented into consecutive ``span_tokens``-token
    spans; across the WHOLE corpus each distinct span text survives only
    at its first occurrence (min (doc_id, span_idx)); each document is
    rebuilt from its surviving spans in order.

    Output: (doc_id, text_deduped, n_spans, n_kept) — docs whose spans
    were all seen earlier elsewhere come back with empty text (n_kept=0,
    standard drop condition downstream).

    Scale: explode to ~corpus_tokens/span_tokens span rows; ONE
    span-keyed partial-agg shuffle (``first_occurrence``, map-side
    combinable — hot spans cannot concentrate in a single reducer;
    skew-fixture-tested), then ONE doc-keyed shuffle rebuilds
    (``rebuild``). Deterministic, so unlike near-dup passes this has an
    exact DuckDB oracle. Docs with no token (NULL, empty or whitespace-
    only text) have no span and are absent, as in the twin."""
    toks = df.select(_c(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    kept = first_occurrence(span_rows(toks, span_tokens), "span", "doc_id", "span_idx")
    totals = toks.select("doc_id", span_count(span_tokens).alias("n_spans"))
    totals = totals.filter(F.col("n_spans") > 0)
    return (
        totals.join(rebuild(kept, "span_idx", "span"), on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text_deduped"),
            "n_spans",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def dedup_spans_sql(table: str = "documents", span_tokens: int = 10) -> str:
    """DuckDB twin of dedup_spans."""
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t
      FROM {table}
    ), spans AS (
      SELECT doc_id, i - 1 AS span_idx,
             array_to_string(t[(i - 1) * {span_tokens} + 1:
                              i * {span_tokens}], ' ') AS span
      FROM toks, LATERAL unnest(
        generate_series(1, CAST(ceil(len(t) / {span_tokens}.0) AS BIGINT))
      ) AS u(i)
    ), kept AS (
      SELECT * FROM (
        SELECT doc_id, span_idx, span,
               row_number() OVER (PARTITION BY span
                                  ORDER BY doc_id, span_idx) AS rn
        FROM spans) WHERE rn = 1
    ), rebuilt AS (
      SELECT doc_id,
             string_agg(span, ' ' ORDER BY span_idx) AS text_deduped,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    ), totals AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id, coalesce(r.text_deduped, '') AS text_deduped,
           t.n_spans, coalesce(r.n_kept, 0) AS n_kept
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """


# -- paragraph-level exact dedup (CCNet recipe) -------------------------------

def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide exact PARAGRAPH dedup — the CCNet recipe (Wenzek et
    al. 2020, "CCNet: Extracting High Quality Monolingual Datasets from
    Web Crawl Data", public paper): documents are segmented into
    paragraphs on ``sep``; across the WHOLE corpus each distinct
    (trimmed) paragraph survives only at its first occurrence
    (min (doc_id, para_idx)); each document is rebuilt from its
    surviving paragraphs in order. This is the content-defined-segment
    sibling of dedup_spans (fixed token windows): web boilerplate
    (nav bars, cookie banners, footers) segments on paragraph
    boundaries, so this is the pass that strips it corpus-wide.

    Whitespace-only paragraphs (from consecutive separators / leading
    or trailing ``sep``) are dropped before dedup in BOTH engines —
    they carry no content and would otherwise make the first empty
    paragraph in the corpus "own" all the rest.

    Output: (doc_id, text_deduped, n_paras, n_kept) — docs none of
    whose paragraphs survived come back with empty text (n_kept = 0);
    docs with NO non-whitespace paragraph at all (empty/NULL text) are
    absent from the output entirely, identically in both engines
    (test-pinned).

    Scale: identical shape to dedup_spans — explode to paragraph rows;
    ONE paragraph-keyed partial-agg shuffle (min-struct aggregate,
    map-side combinable: a cookie banner shared by 10^7 pages collapses
    to one row per map task before the exchange); ONE doc-keyed shuffle
    rebuilds. No window over the corpus, no Python, exact DuckDB twin
    (dedup_paragraphs_sql)."""
    paras = df.select(
        _c(id_col).alias("doc_id"),
        F.split(F.coalesce(_c(text_col), F.lit("")), sep).alias("paras"),
    )
    exploded = paras.select(
        "doc_id", F.posexplode("paras").alias("para_idx", "para")
    ).withColumn("key", F.trim(F.col("para"))).filter(F.col("key") != "")
    kept = first_occurrence(exploded, "key", "doc_id", "para_idx", "para")
    totals = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras"))
    return totals.join(
        rebuild(kept, "para_idx", "para", sep), on="doc_id", how="left"
    ).select(
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text_deduped"),
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
    )


def dedup_paragraphs_sql(table: str = "documents", sep: str = "\n\n") -> str:
    """DuckDB twin of dedup_paragraphs. ``sep`` is embedded via chr()
    so newline separators survive SQL string literals."""
    sep_sql = " || ".join(f"chr({ord(ch)})" for ch in sep)
    return f"""
    WITH paras AS (
      SELECT doc_id, i - 1 AS para_idx, p[i] AS para
      FROM (
        SELECT doc_id, string_split(coalesce(text, ''), {sep_sql}) AS p
        FROM {table}
      ), LATERAL unnest(generate_series(1, len(p))) AS u(i)
      WHERE trim(p[i]) <> ''
    ), kept AS (
      SELECT doc_id, para_idx, para FROM (
        SELECT doc_id, para_idx, para,
               row_number() OVER (PARTITION BY trim(para)
                                  ORDER BY doc_id, para_idx) AS rn
        FROM paras) WHERE rn = 1
    ), rebuilt AS (
      SELECT doc_id,
             string_agg(para, {sep_sql} ORDER BY para_idx) AS text_deduped,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    ), totals AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
      FROM paras GROUP BY doc_id
    )
    SELECT t.doc_id, coalesce(r.text_deduped, '') AS text_deduped,
           t.n_paras, coalesce(r.n_kept, 0) AS n_kept
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """


# -- C4 line-level cleaning ---------------------------------------------------

def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 3,
    min_kept_lines: int = 1,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning with a Unified Text-to-Text
    Transformer", §2.2 — public paper). Where the Gopher ruleset
    (gopher_quality) accepts/rejects whole documents, C4's cleaning
    edits inside them: each line is kept only if it

    - ends in a terminal punctuation mark (``. ! ? "``) once edge
      whitespace is stripped (CRLF text included),
    - has at least ``min_words_per_line`` tokens, and
    - does not contain the word "javascript" (case-insensitive),

    and the document as a whole is flagged keep_doc = false if its
    ORIGINAL text contains "lorem ipsum" (case-insensitive) or a curly
    brace ``{{`` (code markers), or if fewer than ``min_kept_lines``
    lines survive. Cleaning and the doc flag are both returned —
    dropping is the caller's one extra filter.

    Output: (doc_id, text_clean, n_lines, n_kept, keep_doc) plus any
    ``extra_cols`` passed through unchanged (so pipeline callers keep
    lang/source/… without a join — the pass stays narrow).

    Scale: pure narrow pass — split / higher-order filter / array_join
    inside whole-stage codegen; no shuffle, no Python, no corpus-wide
    state. Exact DuckDB twin (c4_clean_sql)."""
    lines = df.select(
        _c(id_col).alias("doc_id"),
        _c(text_col).alias("__text"),
        F.split(F.coalesce(_c(text_col), F.lit("")), "\n").alias("lines"),
        *extra_cols,
    )

    def _keep(l: Column) -> Column:
        # joined tokens end where l.strip() does, with no line
        # terminator for Java's `$` to match before
        toks = tokens(l)
        return (
            F.array_join(toks, " ").rlike('[.!?"]$')
            & (F.size(toks) >= min_words_per_line)
            & (F.locate("javascript", F.lower(l)) == 0)
        )

    cleaned = lines.select(
        "doc_id",
        "__text",
        F.size("lines").alias("n_lines"),
        F.filter("lines", _keep).alias("kept"),
        *extra_cols,
    )
    return cleaned.select(
        "doc_id",
        F.array_join("kept", "\n").alias("text_clean"),
        "n_lines",
        F.size("kept").alias("n_kept"),
        (
            (F.size("kept") >= min_kept_lines)
            & (F.locate("lorem ipsum", F.lower(F.coalesce("__text", F.lit("")))) == 0)
            & (F.locate("{", F.coalesce("__text", F.lit(""))) == 0)
        ).alias("keep_doc"),
        *extra_cols,
    )


def c4_clean_sql(
    table: str = "documents",
    min_words_per_line: int = 3,
    min_kept_lines: int = 1,
) -> str:
    """DuckDB twin of c4_clean (list_filter lambda mirrors the Spark
    higher-order filter rule for rule)."""
    toks = TOKENS_SQL.format(t="l")
    return f"""
    WITH split AS (
      SELECT doc_id, text,
             string_split(coalesce(text, ''), chr(10)) AS lines
      FROM {table}
    ), cleaned AS (
      SELECT doc_id, text,
             CAST(len(lines) AS BIGINT) AS n_lines,
             list_filter(lines, l ->
               regexp_matches(array_to_string({toks}, ' '), '[.!?"]$')
               AND len({toks}) >= {min_words_per_line}
               AND NOT contains(lower(l), 'javascript')) AS kept
      FROM split
    )
    SELECT doc_id,
           coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
           n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           (len(kept) >= {min_kept_lines}
            AND NOT contains(lower(coalesce(text, '')), 'lorem ipsum')
            AND NOT contains(coalesce(text, ''), chr(123))) AS keep_doc
    FROM cleaned
    """


def dedup_substrings(
    df: DataFrame,
    window_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = False,
) -> DataFrame:
    """Arbitrary-granularity exact substring dedup — the OVERLAPPING-
    window form of Lee et al. 2022's suffix-array pass (public paper),
    and the precision upgrade over ``dedup_spans``' fixed segments:
    every ``window_tokens``-token sliding window (stride 1) is keyed
    across the WHOLE corpus; a window occurrence survives only if it is
    the global first occurrence (min (doc_id, start)); every token
    covered by any LATER occurrence of a repeated window is deleted,
    so duplicated substrings of ANY length >= window_tokens are removed
    at token precision wherever they restate earlier text — including
    later repeats inside the same document. (Divergence from the exact
    suffix-array algorithm, documented: removal is the positional UNION
    of duplicated windows, so a token overlapped by both a kept and a
    duplicated window is still removed — a strictly more aggressive,
    deterministic rule that stays engine-expressible.)

    Output: (doc_id, text_deduped, n_tokens, n_removed). Docs shorter
    than the window pass through untouched.

    Scale: ~corpus_tokens window rows (stride 1) through ONE gram-keyed
    partial-agg shuffle (min (doc_id, start) struct per gram, map-side
    combinable — hot boilerplate grams collapse to one row per map task
    before the exchange), a repeated-grams-only equi-join (the unique
    majority of grams never shuffles twice; the join is
    AQE-skew-splittable), a distinct on covered (doc, pos), one
    (doc, pos) anti-join, one doc-keyed rebuild. At 10^8+ gram rows
    pass ``hash_grams=True`` — 8-byte xxhash64 keys instead of
    ~100-byte gram strings through the shuffle (collisions only ever
    delete a few extra tokens; bound in the inline comment); the
    default exact strings keep the DuckDB oracle value-exact."""
    w = window_tokens
    toks = widen_small_scan(df).select(
        _c(id_col).alias("doc_id"),
        tokens(text_col).alias("toks"),
    )
    grams = (
        toks.filter(F.size("toks") >= w)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (w - 1)),
                    lambda i: F.array_join(F.slice("toks", i, w), " "),
                )
            ).alias("start0", "gram"),
        )
        # posexplode is 0-based; token positions (and the SQL twin) are
        # 1-based — normalize once here
        .select(
            "doc_id", (F.col("start0") + 1).alias("start"), "gram"
        )
    )
    if hash_grams:
        # design-point key (measured: the exact-string form ships
        # ~100-byte gram keys through the shuffle and turns disk-bound
        # at 10^8+ gram rows — scale_probe.py): shuffle/join on the
        # 8-byte xxhash64 of the gram instead of the string. A 64-bit
        # collision falsely marks ONE window as duplicated (deletes <= w
        # extra tokens) with probability ~n_grams^2 / 2^65 — at 10^9
        # grams that is ~10^-2 windows corpus-wide, the documented
        # trade; exact strings (default) keep the DuckDB oracle
        # value-exact.
        grams = grams.select(
            "doc_id", "start", F.xxhash64("gram").alias("gram")
        )
    # global first occurrence per gram = min (doc_id, start) STRUCT via a
    # regular aggregate: no arithmetic key-packing (the round-5 long pack
    # doc_id·10^6+start silently corrupted on >10^6-token docs or
    # negative ids — ADVICE r5), and min(struct) partial-aggregates
    # map-side so a boilerplate gram shared by 10^6 docs collapses to one
    # row per map task before the shuffle (the round-5 min-over-window
    # form concentrated the full occurrence list in one reducer task).
    # Only repeated grams (cnt >= 2) survive into the join — the unique
    # majority never shuffles a second time — and the occ-side join on
    # gram is AQE-skew-splittable, unlike a window.
    gram_first = (
        grams.groupBy("gram")
        .agg(
            F.min(F.struct("doc_id", "start")).alias("__first"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        .filter(F.col("__cnt") >= 2)
        .select(
            "gram",
            F.col("__first.doc_id").alias("__fdoc"),
            F.col("__first.start").alias("__fstart"),
        )
    )
    dup = (
        grams.join(gram_first, on="gram")
        .filter(
            (F.col("doc_id") != F.col("__fdoc"))
            | (F.col("start") != F.col("__fstart"))
        )
        .select("doc_id", "start")
    )
    covered = dup.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("start"), F.col("start") + F.lit(w - 1))
        ).alias("pos"),
    ).distinct()
    tok_rows = toks.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).withColumn("pos", F.col("pos0") + 1).drop("pos0")
    kept = tok_rows.join(covered, on=["doc_id", "pos"], how="left_anti")
    totals = toks.select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    return (
        totals.join(rebuild(kept, "pos", "tok"), on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text_deduped"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long").alias("n_removed"),
        )
    )


def dedup_substrings_sql(table: str = "documents", window_tokens: int = 10) -> str:
    """DuckDB twin of dedup_substrings (same composite occurrence key,
    same union-of-duplicated-windows removal)."""
    w = window_tokens
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t
      FROM {table}
    ), grams AS (
      SELECT doc_id, i AS start,
             array_to_string(t[i:i+{w - 1}], ' ') AS gram,
             doc_id * 1000000 + i AS okey
      FROM toks, LATERAL unnest(generate_series(1, len(t) - {w - 1})) AS u(i)
      WHERE len(t) >= {w}
    ), dup AS (
      SELECT doc_id, start FROM (
        SELECT doc_id, start, okey,
               min(okey) OVER (PARTITION BY gram) AS first_okey
        FROM grams) WHERE okey <> first_okey
    ), covered AS (
      SELECT DISTINCT doc_id, pos
      FROM dup, LATERAL unnest(generate_series(start, start + {w - 1})) AS c(pos)
    ), tokens AS (
      SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
      FROM toks
    ), kept AS (
      SELECT tk.doc_id, tk.pos, tk.tok
      FROM tokens tk ANTI JOIN covered c
        ON tk.doc_id = c.doc_id AND tk.pos = c.pos
    ), rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_deduped,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    ), totals AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
    )
    SELECT t.doc_id, coalesce(r.text_deduped, '') AS text_deduped,
           t.n_tokens,
           CAST(t.n_tokens - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """


# -- vocabulary / tf-idf -----------------------------------------------------

def vocab(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Corpus vocabulary with term statistics — the seed table for BPE/
    tokenizer induction and idf weighting: (term, term_count, doc_freq).
    Explode → two map-side-combinable aggregations; no Python, no
    windows. At 10^12 docs the term keyspace is Zipf-bounded (~10^8
    distinct after whitespace tokenization) — the final shuffle carries
    one row per distinct term per partial, not per occurrence.

    ``min_df``/``max_df`` (standard tf-idf pruning) bound the emitted
    vocabulary by document frequency: min_df drops the hapax/typo Zipf
    tail (most of those 10^8 distinct terms), max_df drops stopwords —
    which are also exactly the skewed join keys downstream consumers
    (tfidf) would otherwise shuffle 10^11 occurrence rows for."""
    toks = df.select(
        _c(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("term"),
    )
    out = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("term_count"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    if min_df is not None:
        out = out.filter(F.col("doc_freq") >= min_df)
    if max_df is not None:
        out = out.filter(F.col("doc_freq") <= max_df)
    return out


def vocab_sql(
    table: str = "documents",
    min_df: int | None = None,
    max_df: int | None = None,
) -> str:
    """DuckDB twin of vocab (same min_df/max_df predicates)."""
    having = _df_bounds_sql(min_df, max_df)
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS term
      FROM {table}
    )
    SELECT term, CAST(count(*) AS BIGINT) AS term_count,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM tok GROUP BY term{having}
    """


def _df_bounds_sql(min_df: int | None, max_df: int | None) -> str:
    preds = []
    if min_df is not None:
        preds.append(f"count(DISTINCT doc_id) >= {min_df}")
    if max_df is not None:
        preds.append(f"count(DISTINCT doc_id) <= {max_df}")
    return (" HAVING " + " AND ".join(preds)) if preds else ""


def tfidf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int | None = None,
    max_df: int | None = None,
    broadcast_vocab: bool = False,
) -> DataFrame:
    """Per-(doc, term) tf-idf scores: tf = in-doc occurrences, idf =
    ln(N / doc_freq) with N the corpus document count. The weighting
    behind classic quality/relevance scoring and sparse retrieval.

    Shape: one explode + (doc,term) count + a term-keyed SHUFFLE join
    against the doc_freq table + a scalar N (a broadcast 1-row
    aggregate, not a driver collect). The join story, honestly: at
    ~10^8 distinct terms the vocab side is multiple GB and does NOT
    broadcast — it is a sort-merge/shuffle-hash join where stopwords are
    the skew keys ("the" ≈ 10^11 tf rows on one key), which AQE's
    skew-split handles at runtime. The right fix is upstream of the
    join: ``max_df`` prunes stopword terms (the skew keys nobody wants
    in a tf-idf anyway) and ``min_df`` prunes the Zipf hapax tail
    BEFORE the join — both standard tf-idf knobs, mirrored in the
    DuckDB twin. Set ``broadcast_vocab=True`` only when the pruned
    vocab is genuinely broadcast-sized (e.g. tight min_df/max_df or a
    fixed term whitelist).

    Scores rounded to 4 for cross-engine float stability. Output:
    (doc_id, term, tf, doc_freq, tfidf)."""
    toks = df.select(
        _c(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("doc_freq"))
    if min_df is not None:
        dfreq = dfreq.filter(F.col("doc_freq") >= min_df)
    if max_df is not None:
        dfreq = dfreq.filter(F.col("doc_freq") <= max_df)
    if broadcast_vocab:
        dfreq = F.broadcast(dfreq)
    # 1-row corpus-count frame attached with a BROADCAST cross join —
    # Spark's own scalar-subquery plan shape (build side is exactly one
    # row, so the "nested loop" is a constant-time attach; any equi-key
    # trick gets constant-folded away by Catalyst anyway). This is the
    # ONE sanctioned BroadcastNestedLoopJoin in the repo: bounded by
    # construction, never data-dependent. Not a driver collect.
    n_docs = df.select(F.countDistinct(_c(id_col)).alias("__n"))
    return (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "doc_freq",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("doc_freq")), 4
            ).alias("tfidf"),
        )
    )


def tfidf_sql(
    table: str = "documents",
    min_df: int | None = None,
    max_df: int | None = None,
) -> str:
    """DuckDB twin of tfidf (same min_df/max_df vocab predicates)."""
    having = _df_bounds_sql(min_df, max_df)
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS term
      FROM {table}
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
      FROM tok GROUP BY 1{having}
    ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM {table})
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.doc_freq,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.doc_freq), 4)
             AS tfidf
    FROM tf JOIN dfreq USING (term), n
    """


# -- sequence packing --------------------------------------------------------

PACK_SCHEMA = "doc_id long, shard int, seq_id int, n_tokens long"


def pack_sequences(
    df: DataFrame,
    budget_tokens: int,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences:
    documents are hash-sharded (``doc_id % n_shards``), and within each
    shard filled SEQUENTIALLY by doc_id into bins of ``budget_tokens``
    (a new bin starts when the next doc would overflow; an oversized doc
    gets a bin of its own). Output: one row per doc with its
    (shard, seq_id) bin assignment — the deterministic packing layout a
    training loader consumes.

    This is the canonical "custom stateful operator" shape: the
    sequential-fill decision depends on the running total, so it is not
    a window expression — it runs as ONE applyInPandas over each shard.
    Scale: per-task state is one shard's (id, n_tokens) pairs, 16 bytes/
    doc — at 10^12 docs choose n_shards ≈ corpus/10^7 so a shard is
    ~160 MB; sharding costs one shuffle. Packing quality loss vs global
    first-fit-decreasing is bounded (each shard wastes < budget tokens
    per bin on average) and the win is full parallelism + determinism.

    Token counts use the engine-portable whitespace tokenizer
    (text.token_count), so the DuckDB recursive-CTE oracle
    (pack_sequences_sql) reproduces the packing bin-for-bin.
    """
    base = df.select(
        _c(id_col).alias("doc_id"),
        (_c(id_col) % n_shards).cast("int").alias("shard"),
        token_count(text_col).cast("long").alias("n_tokens"),
    )

    def fill(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq_ids = []
        seq, acc = 0, 0
        first = True
        for n in pdf["n_tokens"]:
            n = int(n)
            if first:
                seq, acc, first = 0, n, False
            elif acc + n <= budget_tokens:
                acc += n
            else:
                seq, acc = seq + 1, n
            seq_ids.append(seq)
        pdf["seq_id"] = pd.Series(seq_ids, dtype="int32")
        return pdf[["doc_id", "shard", "seq_id", "n_tokens"]]

    return base.groupBy("shard").applyInPandas(fill, schema=PACK_SCHEMA)


def pack_sequences_sql(
    table: str, budget_tokens: int, n_shards: int = 8
) -> str:
    """DuckDB recursive-CTE twin of pack_sequences: steps one row per
    shard per iteration, carrying (seq_id, acc) exactly like the
    sequential fill."""
    tok = TOKEN_COUNT_SQL.format(t="text")
    return f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, CAST(doc_id % {n_shards} AS INT) AS shard,
             CAST({tok} AS BIGINT) AS n_tokens
      FROM {table}
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM base
    ), fill AS (
      SELECT shard, rn, doc_id, n_tokens,
             CAST(0 AS INT) AS seq_id, n_tokens AS acc
      FROM r WHERE rn = 1
      UNION ALL
      SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
             CAST(CASE WHEN f.acc + r.n_tokens <= {budget_tokens}
                  THEN f.seq_id ELSE f.seq_id + 1 END AS INT),
             CASE WHEN f.acc + r.n_tokens <= {budget_tokens}
                  THEN f.acc + r.n_tokens ELSE r.n_tokens END
      FROM fill f JOIN r ON r.shard = f.shard AND r.rn = f.rn + 1
    )
    SELECT doc_id, shard, seq_id, n_tokens FROM fill
    """


def pack_manifest(packed: DataFrame) -> DataFrame:
    """The loader-facing view of a packing: one row per (shard, seq_id)
    bin with its ordered member list, member count, token total and fill
    ratio implied by the budget the caller used. Pure JVM aggregation
    over pack_sequences output — the manifest a training job reads to
    fetch documents per sequence. Output: (shard, seq_id, doc_ids,
    n_docs, total_tokens). ``doc_ids`` is serialized to a
    comma-joined string (numeric sort, then cast): driver-facing
    results must carry only atomic column types — the correctness
    harness canonicalizes by sorting raw cells, where array cells are
    unhashable."""
    return (
        packed.groupBy("shard", "seq_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("doc_ids"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def pack_manifest_sql(table: str, budget_tokens: int, n_shards: int = 8) -> str:
    """DuckDB twin: the recursive fill (pack_sequences_sql) grouped to
    bins with ordered member lists."""
    fill = pack_sequences_sql(table, budget_tokens, n_shards)
    return f"""
    WITH packed AS ({fill})
    SELECT shard, seq_id,
           array_to_string(list_sort(array_agg(doc_id)), ',') AS doc_ids,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM packed GROUP BY shard, seq_id
    """


# -- decontamination ---------------------------------------------------------

def contaminated_docs(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at
    least ``min_shared`` distinct word ``n``-grams with ANY benchmark
    document (the standard eval-leakage sweep — cf. GPT-3 appendix C /
    PaLM's 13-gram overlap rule; public papers). Returns (doc_id,
    n_shared) for contaminated docs; anti-join against it to clean.

    Scale — FILTER BEFORE DEDUP, always: the train side explodes to
    ~10^15 (doc, gram) rows at the 10^12-doc design point, so it is
    never deduplicated up front. The (small — eval sets are ~10^4-10^6
    grams) benchmark gram set is distinct-ed and EXPLICITLY broadcast,
    the raw train grams stream through the broadcast-hash join with NO
    exchange before it (selectivity ~10^-9 does the pruning), and only
    the surviving hits pay a shuffle — `countDistinct(gram)` per doc
    reproduces exactly what a pre-join distinct would have counted.
    Plan-asserted in tests/test_plans.py (zero exchanges upstream of the
    gram join on the train side). Gram strings (not hashes) keep the
    oracle engine-exact; at 10^12 docs swap the join key to
    xxhash64(gram) for shuffle width at zero semantic cost (hash
    collisions only ever ADD a candidate pair, and min_shared re-checks
    are cheap).

    ``broadcast_bench`` (default True) is an honesty knob, not a
    tuning knob: the forced broadcast is right for real eval sets
    (~10^4-10^6 grams), but a user-supplied "benchmark" of unbounded
    size would hit Spark's broadcast ceiling / driver memory where the
    planner-decided join degrades gracefully — pass False there and
    AQE picks the strategy (the train subtree then pays a shuffle, the
    unavoidable cost of a genuinely big right side)."""
    def grams(df: DataFrame) -> DataFrame:
        toks = df.select(
            _c(id_col).alias("doc_id"),
            tokens(text_col).alias("toks"),
        ).filter(F.size("toks") >= n)
        return toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                    lambda i: F.array_join(F.slice("toks", i, n), " "),
                )
            ).alias("gram"),
        )

    train_grams = grams(train)  # deliberately NOT distinct — see above
    bench_grams = grams(benchmark).select("gram").distinct()
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    return (
        train_grams.join(bench_grams, on="gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def contaminated_docs_sql(
    train_pred: str, bench_pred: str, n: int = 5, min_shared: int = 1,
    table: str = "documents",
) -> str:
    """DuckDB twin: train/bench sides are ``table`` filtered by the given
    predicates (mirrors how the driver query splits one table)."""
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM {table}
    ), g AS (
      SELECT doc_id, array_to_string(t[i:i+{n - 1}], ' ') AS gram
      FROM toks, LATERAL unnest(generate_series(1, len(t) - {n - 1})) AS u(i)
      WHERE len(t) >= {n}
    ), train_g AS (
      SELECT DISTINCT doc_id, gram FROM g WHERE {train_pred}
    ), bench_g AS (
      SELECT DISTINCT gram FROM g WHERE {bench_pred}
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM train_g JOIN bench_g USING (gram)
    GROUP BY doc_id HAVING count(*) >= {min_shared}
    """


def contamination_fraction(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    threshold: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Scored decontamination: for each training document, the FRACTION
    of its distinct word ``n``-grams that also occur in the benchmark
    split, flagging docs with ``contam_frac >= threshold`` — the
    normalized "dirty document" rule of the public eval-contamination
    literature (GPT-3 appendix C computes per-item overlap percentages;
    Llama-2 flags eval items by token-overlap fraction), vs
    ``contaminated_docs``'s absolute min-shared count. Output:
    (doc_id, n_grams, n_shared, contam_frac) for flagged docs only.

    Scale — same FILTER-BEFORE-DEDUP discipline as ``contaminated_docs``
    plus one extra trick: the per-doc distinct-gram TOTAL (the fraction's
    denominator) is computed ROW-LOCALLY with ``array_distinct`` inside
    the doc's own gram array, so it needs no corpus-wide shuffle and no
    join-back — it rides the exploded rows as a constant column per doc.
    Train grams are distinct-ed per doc BEFORE the explode (row-local,
    shrinks the exploded stream), then hit the broadcast benchmark-gram
    set with no exchange upstream; only surviving hits pay the
    (doc_id)-keyed shuffle, so the zero-hit corpus mass (~all of it at
    selectivity ~1e-9) never shuffles at all. The >= comparison uses the
    UNrounded double ratio — both engines divide the same two integers,
    so the IEEE result is bit-identical and no rounding-boundary row can
    flip; rounding to 6 digits happens only in the projected output."""
    toks = widen_small_scan(train).select(
        _c(id_col).alias("doc_id"),
        tokens(text_col).alias("toks"),
    ).filter(F.size("toks") >= n)
    dg = toks.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                lambda i: F.array_join(F.slice("toks", i, n), " "),
            )
        ).alias("dg"),
    )
    exploded = dg.select(
        "doc_id", F.size("dg").alias("n_grams"), F.explode("dg").alias("gram")
    )

    btoks = benchmark.select(
        tokens(text_col).alias("toks")
    ).filter(F.size("toks") >= n)
    bench_grams = btoks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                lambda i: F.array_join(F.slice("toks", i, n), " "),
            )
        ).alias("gram")
    ).distinct()
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)

    hits = (
        exploded.join(bench_grams, on="gram")
        .groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    frac = F.col("n_shared") / F.col("n_grams")
    return hits.filter(frac >= threshold).select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        "n_shared",
        F.round(frac, 6).alias("contam_frac"),
    )


def contamination_fraction_sql(
    train_pred: str,
    bench_pred: str,
    n: int = 5,
    threshold: float = 0.05,
    table: str = "documents",
) -> str:
    """DuckDB twin of contamination_fraction (same n / threshold /
    train-bench split predicates over one table)."""
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM {table}
    ), g AS (
      SELECT doc_id, array_to_string(t[i:i+{n - 1}], ' ') AS gram
      FROM toks, LATERAL unnest(generate_series(1, len(t) - {n - 1})) AS u(i)
      WHERE len(t) >= {n}
    ), train_g AS (
      SELECT DISTINCT doc_id, gram FROM g WHERE {train_pred}
    ), tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      FROM train_g GROUP BY doc_id
    ), bench_g AS (
      SELECT DISTINCT gram FROM g WHERE {bench_pred}
    ), hits AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM train_g JOIN bench_g USING (gram)
      GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_grams, h.n_shared,
           round(h.n_shared * 1.0 / t.n_grams, 6) AS contam_frac
    FROM tot t JOIN hits h USING (doc_id)
    WHERE h.n_shared * 1.0 / t.n_grams >= {threshold}
    """


def corpus_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: tuple[str, ...] = ("source", "lang"),
    approx: bool = False,
) -> DataFrame:
    """Corpus datasheet per slice — the reporting aggregate every public
    dataset release ships (Dolma / RedPajama / C4 datasheets: docs,
    tokens, length distribution per source x language): (group_cols...,
    n_docs, total_tokens, mean_tokens, p50_tokens, p90_tokens,
    max_tokens, total_chars), token = whitespace word (text.token_count
    convention, shared with the text_tokens key).

    Scale: ONE scan, one group-by keyed on the (low-cardinality) slice
    columns. Counts/sums/max are map-side-combinable; the exact
    percentiles (default, oracle-parity with DuckDB quantile_cont) must
    gather each group's values on one reducer — fine for datasheet
    cardinalities (sources x langs ~ 10^2-10^3 groups at any corpus
    size, each reducer holding one group's value list). For unbounded
    or skew-heavy group keys pass ``approx=True``: percentile_approx is
    sketch-mergeable, so partials combine map-side like the other
    measures and no reducer ever materializes a group (the aggregate.py
    A6 convention; no oracle guarantee in that mode)."""
    n_tok = token_count(text_col).cast("bigint")
    pfn = "percentile_approx" if approx else "percentile"
    base = df.select(
        *[_c(c).alias(c) for c in group_cols],
        n_tok.alias("n_tokens"),
        F.length(_c(text_col)).cast("bigint").alias("n_chars_m"),
    )
    return base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("mean_tokens"),
        F.round(F.expr(f"{pfn}(n_tokens, 0.5)"), 4).alias("p50_tokens"),
        F.round(F.expr(f"{pfn}(n_tokens, 0.9)"), 4).alias("p90_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_chars_m").alias("total_chars"),
    )


def corpus_stats_sql(
    table: str = "documents",
    group_cols: tuple[str, ...] = ("source", "lang"),
) -> str:
    """DuckDB twin of corpus_stats (exact-percentile mode only)."""
    tok = TOKEN_COUNT_SQL.format(t="text")
    gcols = ", ".join(group_cols)
    return f"""
    WITH base AS (
      SELECT {gcols}, CAST({tok} AS BIGINT) AS n_tokens,
             CAST(len(text) AS BIGINT) AS n_chars_m
      FROM {table}
    )
    SELECT {gcols},
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 4) AS mean_tokens,
           round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
           round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
           max(n_tokens) AS max_tokens,
           CAST(sum(n_chars_m) AS BIGINT) AS total_chars
    FROM base GROUP BY {gcols}
    """
