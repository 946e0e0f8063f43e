"""Vectorized parse stage — the graft of the reference's codec layer.

The reference decodes GPB/GPB-KV/JSON telemetry payloads message-at-a-time
in Go (codec_gpb.go / codec_json.go, upstream final branch). Here the same
role — raw payload bytes → typed fields — is a pandas/Arrow UDF over the
``html: binary`` column: Arrow ships columnar batches of bytes to the
Python worker, the precompiled-regex extractor runs batch-at-a-time, and a
typed struct comes back. No per-row Python UDFs anywhere (BASELINE.json
input_hint; enforced by tests/test_plans.py asserting ArrowEvalPython and
never BatchEvalPython in physical plans).

``parse_full`` extracts every field (title/text/links/charset) in one
walk. Catalyst cannot prune *inside* a UDF (SURVEY.md §4.3.1), so the
struct comes back whole and downstream selects drop the unused fields.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from bmspark import oracle_extract

PARSE_SCHEMA = StructType([
    StructField("title", StringType()),
    StructField("text", StringType()),
    StructField("text_sha", StringType()),
    StructField("links", ArrayType(StringType())),
    StructField("n_links", IntegerType()),
    StructField("charset", StringType()),
    StructField("n_bytes", LongType()),
    StructField("parse_ok", BooleanType()),
    # single-pass per-doc analysis (the metrics-extraction analog,
    # metrics.go upstream: decode + project measurements in one walk):
    StructField("n_tokens", IntegerType()),
    StructField("simhash", LongType()),
])


def _extract_batch(html: pd.Series, lenient: bool = False) -> pd.DataFrame:
    from bmspark.functions.dedup import simhash_of_tokens

    rows = []
    for payload in html:
        r = oracle_extract.extract(payload, lenient=lenient)
        toks = r["text"].split() if r["text"] else []
        rows.append({
            "title": r["title"],
            "text": r["text"],
            "text_sha": hashlib.sha256(r["text_bytes"]).hexdigest(),
            "links": r["links"],
            "n_links": r["n_links"],
            "charset": r["charset"],
            "n_bytes": r["n_bytes"],
            "parse_ok": r["parse_ok"],
            "n_tokens": len(toks),
            "simhash": simhash_of_tokens(toks),
        })
    return pd.DataFrame(rows, columns=[f.name for f in PARSE_SCHEMA.fields])


@pandas_udf(PARSE_SCHEMA)
def parse_full(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Full extraction. Iterator-of-batches form so per-executor setup
    (regex compile, module import) is amortized across batches
    (SURVEY.md U2)."""
    for html in batches:
        yield _extract_batch(html)


@pandas_udf(PARSE_SCHEMA)
def parse_lenient(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Salvage parse for deadletter reprocessing: pages without <p>
    structure fall back to tag-stripped body text (reference analog:
    re-running an archived tap through an updated decoder)."""
    for html in batches:
        yield _extract_batch(html, lenient=True)


def with_parsed(df, html_col: str = "html", out: str = "parsed", udf=None):
    """Attach the parse struct. Kept as ONE struct column so downstream
    select() of subfields lets Catalyst drop the rest post-UDF.
    ``udf`` swaps the decoder (e.g. parse_lenient for deadletter replay)."""
    return df.withColumn(out, (udf or parse_full)(F.col(html_col)))


# ---------------------------------------------------------------------------
# UDTF escape hatch (SURVEY.md U5): table-function form of link explosion.
# explode(parse_full(html).links) covers the common case JVM-side; the
# UDTF exists for shapes built-ins can't express (variable-arity output
# with per-row Python state). Registered on demand:
#     spark.udtf.register("extract_links", LinkExtractor)
#     spark.sql("SELECT f.* FROM pages, LATERAL extract_links(html) f")
# ---------------------------------------------------------------------------

try:
    from pyspark.sql.functions import udtf as _udtf

    @_udtf(returnType="pos int, href string")
    class LinkExtractor:
        """One output row per <a href> in the payload, with position."""

        def eval(self, html):
            if html is None:
                return
            r = oracle_extract.extract(bytes(html))
            for i, href in enumerate(r["links"]):
                yield i, href

except ImportError:  # pragma: no cover — pre-4.0 PySpark
    LinkExtractor = None


# ---------------------------------------------------------------------------
# JVM-side field extraction (P4 grok/regex) — for oracle-parity paths where
# the payload is already a string column; DuckDB shares these semantics.
# ---------------------------------------------------------------------------

def domain_of(url: Column | str) -> Column:
    """url → host. regexp_extract form shared verbatim with the DuckDB
    oracle (SURVEY.md §2.7 string family)."""
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(c, r"https?://([^/]+)", 1)


DOMAIN_OF_SQL = "regexp_extract(url, 'https?://([^/]+)', 1)"
