"""Text-analysis surface for training-data pipelines.

Every function here is deliberately expressed with JVM built-ins
(whole-stage-codegen'd, no Python) AND has a semantically identical DuckDB
SQL form (the *_SQL constants) so the driver oracle verifies it
value-for-value. At 100 TB these run inside the same codegen stage as the
scan — zero extra passes, zero Python workers.

Members: token counting, document fingerprinting, quality scoring,
language-ID heuristic (SURVEY.md §2.7 + training-data extras).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


# -- tokens -----------------------------------------------------------------
#
# The one token rule: a text's tokens are text.split() — runs of non-
# whitespace, whitespace being the 29 code points of str.isspace(), so
# NULL, '' and whitespace-only text have none. Python code calls
# str.split(); the JVM calls ``tokens``, DuckDB formats ``TOKENS_SQL``.
# (Both engines' trim strip spaces only; Java's \s has \v, RE2's not.)

#: one or more whitespace code points: Java's White_Space property plus the
#: separators U+001C-U+001F that str.isspace() also counts (one property
#: lookup per char splits ~1.7x faster than listing each code point)
WS = r"[\p{IsWhite_Space}\x1c-\x1f]+"
#: the same 29 code points spelled for RE2 (DuckDB)
_RE2_WS = (
    r"[\t\n\x0b\x0c\r\x1c-\x20\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
    r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+"
)
#: _RE2_WS as a SQL literal inside a str.format template (its braces doubled)
_WS_SQL = "'" + _RE2_WS.replace("{", "{{").replace("}", "}}") + "'"


def tokens(text: str | Column) -> Column:
    """array<string> of the text's tokens; built-ins only (codegen)."""
    return F.array_remove(F.split(F.coalesce(_c(text), F.lit("")), WS), "")


TOKENS_SQL = (
    "list_filter(string_split_regex(coalesce({t}, ''), " + _WS_SQL + "), "
    "x -> x <> '')"
)


def normalized(text: str | Column) -> Column:
    """Lowercase text with each whitespace run as one space and none at
    the edges: ' '.join(text.lower().split()). NULL stays NULL."""
    return F.trim(F.regexp_replace(F.lower(_c(text)), WS, " "))


NORMALIZED_SQL = "trim(regexp_replace(lower({t}), " + _WS_SQL + ", ' ', 'g'))"


def token_count(text: str | Column) -> Column:
    """Number of tokens; 0 for NULL."""
    return F.size(tokens(text))


TOKEN_COUNT_SQL = "len(" + TOKENS_SQL + ")"

# -- BPE-ish subword token estimate (regex segmentation) --------------------

def subword_count(text: str | Column) -> Column:
    """BPE-ish token-count estimate: segments = runs of letters, runs of
    digits, or single non-space symbols (a GPT-2-style pre-tokenizer
    regex). Counts segments plus one extra per 4 letters within a run
    (approximating subword splits of long words)."""
    t = _c(text)
    words = F.size(F.regexp_extract_all(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))
    letters = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    return (words + F.floor(letters / F.lit(8))).cast("long")


SUBWORD_COUNT_SQL = (
    "len(regexp_extract_all({t}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) "
    "+ (length(regexp_replace({t}, '[^A-Za-z]', '', 'g')) // 8)"
)

# -- fingerprinting ---------------------------------------------------------

def fingerprint(text: str | Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    Stable across engines (md5 is md5); the content-hash used by exact
    dedup and lineage manifests."""
    return F.md5(normalized(text))


FINGERPRINT_SQL = "md5(" + NORMALIZED_SQL + ")"

# -- quality scoring --------------------------------------------------------

_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
_STOP_IN = ", ".join(f"'{w}'" for w in _STOPWORDS)


def quality_score(text: str | Column) -> Column:
    """Heuristic quality score in [0,1]:
      0.4 * length_score (saturating at 500 chars)
    + 0.3 * (1 - punct_ratio clipped)
    + 0.3 * stopword_ratio (capped at 0.3 → rescaled)
    Deterministic, built-ins only, mirrored in QUALITY_SQL."""
    t = _c(text)
    n = F.length(t)
    toks = tokens(t)
    n_tok = F.greatest(F.size(toks), F.lit(1))
    stop = F.size(F.filter(toks, lambda x: x.isin(_STOPWORDS)))
    punct = n - F.length(F.regexp_replace(t, r"[.,!?;:]", ""))
    length_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct / F.greatest(n, F.lit(1)) * 10, F.lit(1.0))
    stop_score = F.least(stop / n_tok / F.lit(0.3), F.lit(1.0))
    raw = 0.4 * length_score + 0.3 * punct_score + 0.3 * stop_score
    # floor-truncate instead of round: identical doubles floor identically
    # in every engine, while round-half-up vs banker's rounding can differ
    return F.floor(raw * 10000) / 10000


QUALITY_SQL = (
    "floor(("
    "0.4 * least(length({t}) / 500.0, 1.0) "
    "+ 0.3 * (1.0 - least((length({t}) - length(regexp_replace({t}, '[.,!?;:]', '', 'g')))"
    "::DOUBLE / greatest(length({t}), 1) * 10, 1.0)) "
    "+ 0.3 * least(len(list_filter(" + TOKENS_SQL + ", "
    f"x -> x IN ({_STOP_IN})))"
    "::DOUBLE / greatest(" + TOKEN_COUNT_SQL + ", 1) / 0.3, 1.0)"
    ") * 10000) / 10000"
)

# -- winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03) ----------

#: k-gram width (word 3-grams) and winnow window (guarantee t = w+k-1: any
#: shared run of ≥6 tokens yields at least one shared fingerprint).
WINNOW_K = 3
WINNOW_W = 4


def _hash60(s: Column) -> Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5 as a long.
    md5 is md5 in every engine; 15 hex chars stay inside signed int64."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE and expose it to ``fn`` as a bound lambda
    variable. Catalyst substitutes expression trees referenced inside
    higher-order-function lambdas and re-evaluates them PER ELEMENT —
    an O(n) expression referenced in an O(n)-element lambda silently
    goes O(n²) (observed: winnowing re-hashed the full k-gram array for
    every window slice — minutes instead of seconds at 5k docs). A
    single-element transform makes the expression the HOF *argument*
    (evaluated once per row); inside the lambda it's a variable read."""
    return F.transform(F.array(expr), fn)[0]


def winnow_fingerprints(
    text: str | Column, k: int = WINNOW_K, w: int = WINNOW_W
) -> Column:
    """Winnowing document fingerprints: array<struct<pos,fp>>.

    Algorithm (the MOSS scheme): hash every word k-gram of the normalized
    text, slide a window of w hashes, select the minimum per window
    (rightmost on ties), and keep the distinct (position, hash) pairs.
    Guarantees: every match of length ≥ w+k-1 tokens is caught, and no
    match shorter than k tokens is. Position-robust where md5/simhash of
    the whole doc is not — inserting one paragraph leaves the other
    fingerprints intact.

    Execution split (round 8): normalization + tokenization stay JVM
    codegen (lower/trim/regexp_replace/split — locale/regex semantics
    unchanged), while the gram-hash + winnow selection run in ONE
    Arrow-batched pandas UDF: Catalyst higher-order-function lambdas
    are interpreted (CodegenFallback), and the per-window
    slice/reverse/array_position chain dominated every caller
    (measured 1.14 s of dedup_winnow's 2.0 s at sf0.1; the UDF form
    computes the identical values ~3x faster). hashlib.md5 of the same
    UTF-8 bytes == JVM md5, and the selection is pure int64 math —
    value-exact vs the DuckDB twin and vs the original all-JVM form,
    kept as the equality-pinned twin in tests/test_text_props.py."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<struct<pos: bigint, fp: bigint>>")
    def _winnow(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from hashlib import md5 as _md5

        import numpy as np

        def h60(s: str) -> int:
            return int(_md5(s.encode("utf-8")).hexdigest()[:15], 16)

        for toks_ser in batches:
            out = []
            for toks in toks_ser:
                tl = [""] if toks is None else list(toks)
                n = len(tl)
                if n >= k:
                    g = np.fromiter(
                        (h60(" ".join(tl[i:i + k])) for i in range(n - k + 1)),
                        dtype=np.int64, count=n - k + 1,
                    )
                else:
                    g = np.array([h60(" ".join(tl))], dtype=np.int64)
                m = len(g)
                wlen = min(m, w)
                if wlen == 1:
                    pos = np.arange(1, m + 1, dtype=np.int64)
                    fp = g
                else:
                    # windows as a (wlen, n_win) strided stack; rightmost
                    # min per window = wlen-1 - argmax over the reversed
                    # equality mask (argmax returns the FIRST max)
                    stack = np.stack(
                        [g[j:m - wlen + 1 + j] for j in range(wlen)]
                    )
                    mins = stack.min(axis=0)
                    off = (wlen - 1) - (stack[::-1] == mins).argmax(axis=0)
                    # 1-based gram index of the selected hash, matching
                    # the JVM form's j + wlen - array_position(reverse)
                    pos = np.arange(1, mins.shape[0] + 1) + off
                    fp = mins
                # distinct (pos, fp) keeping first-occurrence order
                pairs = dict.fromkeys(zip(pos.tolist(), fp.tolist()))
                out.append([{"pos": p, "fp": f} for p, f in pairs])
            yield pd.Series(out)

    return _winnow(F.split(normalized(text), " "))


#: DuckDB twin of winnow_fingerprints. Same normalization, same md5-60bit
#: k-gram hash, same rightmost-min winnow. The oracle query stacks these
#: as CTEs: toks → grams → pairs → unnest. Concrete k=3, w=4 (matching
#: WINNOW_K/WINNOW_W); DuckDB list slices are 1-based inclusive, so a
#: k-gram at i is toks[i:i+2] and a window at j is grams[j:j+wlen-1].
WINNOW_TOKS_SQL = "string_split(" + NORMALIZED_SQL + ", ' ')"
WINNOW_GRAMS_SQL = (
    "CASE WHEN len(toks) >= 3 THEN "
    "list_transform(generate_series(1, len(toks) - 2), "
    "i -> ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15))::BIGINT) "
    "ELSE [('0x' || substr(md5(array_to_string(toks, ' ')), 1, 15))::BIGINT] END"
)
#: note: no list_distinct here — DuckDB can't list_distinct structs
#: (histogram unimplemented); the oracle dedupes with SELECT DISTINCT
#: after unnest, which is equivalent to Spark's array_distinct + explode.
WINNOW_PAIRS_SQL = (
    "(list_transform("
    "generate_series(1, len(grams) - least(len(grams), 4) + 1), "
    "j -> {"
    "'pos': j + least(len(grams), 4) "
    "- list_position(list_reverse(grams[j:j+least(len(grams), 4)-1]), "
    "list_min(grams[j:j+least(len(grams), 4)-1])), "
    "'fp': list_min(grams[j:j+least(len(grams), 4)-1])"
    "}))"
)

# -- language identification (n-gram heuristic) ------------------------------

#: marker character-sequences per language; score = occurrence count.
#: A real system swaps in trained n-gram profiles; the *operator shape*
#: (vectorized marker counting + argmax) is what matters at scale.
_LANG_MARKERS = {
    "en": ["the ", " th"],
    "de": ["ch", " der "],
    "fr": [" le ", " et "],
    "es": [" el ", " os "],
}


def _occurrences(t: Column, pat: str) -> Column:
    return (F.length(t) - F.length(F.replace(t, F.lit(pat), F.lit("")))) / len(pat)


def lang_id(text: str | Column) -> Column:
    """Language-ID heuristic: CJK codepoints → zh; else argmax of marker
    counts with fixed priority tiebreak (en>de>fr>es); floor 'und' when no
    marker fires. Deterministic and mirrored in LANG_ID_SQL."""
    t = F.lower(_c(text))
    scores = {
        lang: sum([_occurrences(t, p) for p in pats], F.lit(0.0))
        for lang, pats in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    out = F.when(t.rlike("[一-鿿]"), F.lit("zh"))
    out = out.when(best <= 0, F.lit("und"))
    for lang in ["en", "de", "fr", "es"]:  # fixed priority
        out = out.when(scores[lang] == best, F.lit(lang))
    return out.otherwise(F.lit("und"))


def _occ_sql(pat: str) -> str:
    esc = pat.replace("'", "''")
    return f"((length(lt) - length(replace(lt, '{esc}', ''))) / {len(pat)})"


_SCORE_SQL = {
    lang: " + ".join(_occ_sql(p) for p in pats)
    for lang, pats in _LANG_MARKERS.items()
}

LANG_ID_SQL = (
    "CASE WHEN regexp_matches(lt, '[\\x{4e00}-\\x{9fff}]') THEN 'zh' "
    "WHEN greatest(" + ", ".join(f"({s})" for s in _SCORE_SQL.values()) + ") <= 0 THEN 'und' "
    + " ".join(
        f"WHEN ({_SCORE_SQL[lang]}) = greatest("
        + ", ".join(f"({s})" for s in _SCORE_SQL.values())
        + f") THEN '{lang}'"
        for lang in ["en", "de", "fr", "es"]
    )
    + " ELSE 'und' END"
)


# -- URL canonicalization (C4 / RefinedWeb crawl-curation recipes) -----------
#
# Web-corpus pipelines dedup and filter by URL before ever touching text
# (RefinedWeb: "url deduplication and filtering"; C4: per-URL page keep).
# That needs a canonical form — crawls see the same page as
# http://Example.COM/a?utm_source=feed#top and https://example.com/a.
# Engine-portable regex chain (valid and identical in Java regex and
# RE2): no lookaround, no backreferences.

#: tracking query parameters stripped during canonicalization
_TRACKING_PARAMS = r"(utm_[^=&]*|fbclid|gclid|msclkid|ref_src)"
#: scheme://host prefix (scheme per RFC 3986: ALPHA *(ALPHA/DIGIT/+/-/.))
_SCHEME_HOST = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"


def canonical_url(url: str | Column) -> Column:
    """Canonicalize a URL for dedup/filtering:

    1. drop the fragment (``#…``),
    2. drop tracking query params (``utm_*``, ``fbclid``, ``gclid``,
       ``msclkid``, ``ref_src``) wherever they sit in the query string,
    3. lowercase the scheme and host (path/query stay case-sensitive),
    4. drop a trailing ``/`` and a dangling ``?``.

    Pure ``regexp_replace``/``regexp_extract`` chain — whole-stage
    codegen, zero Python, and the exact same regexes run in the DuckDB
    oracle (CANONICAL_URL_SQL)."""
    u = _c(url)
    u = F.regexp_replace(u, r"#.*", "")                       # 1
    u = F.regexp_replace(u, rf"&{_TRACKING_PARAMS}=[^&]*", "")    # 2: not-first
    u = F.regexp_replace(u, rf"\?{_TRACKING_PARAMS}=[^&]*&", "?")  # 2: first
    u = F.regexp_replace(u, rf"\?{_TRACKING_PARAMS}=[^&]*$", "")   # 2: only
    u = F.concat(                                             # 3
        F.lower(F.regexp_extract(u, f"({_SCHEME_HOST})", 1)),
        F.regexp_replace(u, _SCHEME_HOST, ""),
    )
    u = F.regexp_replace(u, r"/$", "")                        # 4
    u = F.regexp_replace(u, r"\?$", "")
    return u


def _canonical_url_sql(u: str) -> str:
    """DuckDB twin of canonical_url over SQL expression ``u`` (a
    function, not a .format template — regex braces would collide with
    str.format). DuckDB regexp_replace needs the explicit 'g' flag for
    the multi-occurrence tracking-param pass."""
    s = f"regexp_replace({u}, '#.*', '')"
    s = f"regexp_replace({s}, '&{_TRACKING_PARAMS}=[^&]*', '', 'g')"
    s = f"regexp_replace({s}, '\\?{_TRACKING_PARAMS}=[^&]*&', '?')"
    s = f"regexp_replace({s}, '\\?{_TRACKING_PARAMS}=[^&]*$', '')"
    s = (
        f"lower(regexp_extract({s}, '({_SCHEME_HOST})', 1)) || "
        f"regexp_replace({s}, '{_SCHEME_HOST}', '')"
    )
    s = f"regexp_replace({s}, '/$', '')"
    s = f"regexp_replace({s}, '\\?$', '')"
    return s


CANONICAL_URL_SQL = _canonical_url_sql


def url_host(url: str | Column) -> Column:
    """Lowercased host (authority minus userinfo/port) — the join key
    for domain blocklists, per-domain caps and URL-level dedup."""
    return F.lower(
        F.regexp_extract(
            _c(url),
            r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)",
            1,
        )
    )


def url_host_sql(u: str) -> str:
    """DuckDB twin of url_host. RE2 supports the same non-capturing
    userinfo group."""
    return (
        f"lower(regexp_extract({u}, "
        f"'^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1))"
    )
