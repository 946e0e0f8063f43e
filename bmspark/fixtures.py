"""Deterministic synthetic fixtures (seed-fixed, no external data).

Two page-table families (FIXTURES.md §B):

1. ``pages_from_documents(spark, sf_dir)`` — the ORACLE-CHECKABLE pages
   table: derived from the driver's ``documents.parquet`` using only
   JVM-side built-in expressions, so the DuckDB oracle can reconstruct the
   exact same table with ANSI SQL (see PAGES_SQL). This is what the driver
   contract queries run on.

2. ``synth_pages(spark, n_rows)`` — a standalone generator with Zipf-skewed
   domains (one hot domain for skew tests J4/A4), ~5% malformed html
   (truncated tags / non-utf8 / empty → deadletter routing), used by pytest
   golden tests and the bench harness. Mirrors the reference's
   mdt_msg_samples/ fixture corpus pattern (SURVEY.md §5.1).

Everything is a pure function of the row id — no RNG state, no wall clock —
so reruns are byte-identical (the reference's replay determinism contract,
replay.go upstream).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType, TimestampType,
)

# ---------------------------------------------------------------------------
# 1. Oracle-checkable pages derived from documents.parquet
# ---------------------------------------------------------------------------

# Epoch of 2024-01-01T00:00:00Z — warc_ts base for both engines.
_EPOCH_2024 = 1704067200

#: The derivation, as DuckDB SQL over the pre-registered ``documents`` view.
#: Must stay expression-for-expression equivalent to pages_from_documents().
PAGES_SQL = f"""
SELECT
  'https://' || source || '.example.com/doc/' || doc_id            AS url,
  source || '.example.com'                                         AS domain,
  to_timestamp({_EPOCH_2024} + (doc_id % 72) * 3600
               + (doc_id * 7) % 3600)::TIMESTAMP                   AS warc_ts,
  text,
  lang,
  doc_id,
  n_chars
FROM documents
"""


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-shaped pages table (url, warc_ts, html, text, lang)
    derived deterministically from documents.parquet. JVM built-ins only —
    Catalyst sees every expression; html is templated so that
    oracle_extract.extract(html)['text_bytes'] == text.encode('utf-8')
    byte-for-byte.
    """
    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_id = F.col("doc_id").cast("string")
    domain = F.concat(F.col("source"), F.lit(".example.com"))
    n_links = (F.col("doc_id") % 3 + 1).cast("int")
    link = F.concat(F.lit('<a href="https://'), domain, F.lit('/l">x</a>'))
    html_str = F.concat(
        F.lit('<html><head><meta charset="utf-8"><title>Doc '), doc_id,
        F.lit("</title></head><body><p>"), F.col("text"),
        F.lit("</p>"), F.repeat(link, n_links), F.lit("</body></html>"),
    )
    return doc.select(
        F.concat(F.lit("https://"), domain, F.lit("/doc/"), doc_id).alias("url"),
        domain.alias("domain"),
        F.timestamp_seconds(
            F.lit(_EPOCH_2024)
            + (F.col("doc_id") % 72) * 3600
            + (F.col("doc_id") * 7) % 3600
        ).alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
        F.col("n_chars"),
    )


# ---------------------------------------------------------------------------
# 2. Standalone Zipf-skewed generator (pytest goldens + bench input)
# ---------------------------------------------------------------------------

LANGS = ["en", "fr", "es", "zh", "de"]
#: lang weights roughly matching documents.lang distribution
_LANG_CUM = [(0, "en"), (44, "fr"), (57, "es"), (71, "zh"), (86, "de")]  # /100

N_DOMAINS = 50
#: Zipf-ish cumulative weights over 50 domains: domain00 is the hot key
#: (~28% of rows) — drives salted-join/agg tests (SURVEY.md J4/A4).
_DOMAIN_WEIGHTS = [1.0 / (i + 1) ** 1.2 for i in range(N_DOMAINS)]
_DOMAIN_TOTAL = sum(_DOMAIN_WEIGHTS)
_DOMAIN_CUM: list[float] = []
_acc = 0.0
for _w in _DOMAIN_WEIGHTS:
    _acc += _w
    _DOMAIN_CUM.append(_acc / _DOMAIN_TOTAL)

_WORDS = (
    "data spark table row column scan filter join group agg window sort merge "
    "hash key value batch stream query part order line customer small big fast "
    "slow the a"
).split()


def _h(i: int, salt: str) -> int:
    """Stable 64-bit hash of (salt, i) — the only 'randomness' used."""
    return int.from_bytes(
        hashlib.sha256(f"{salt}:{i}".encode()).digest()[:8], "big"
    )


def _domain_of(i: int) -> str:
    u = (_h(i, "dom") % 10**9) / 10**9
    for idx, c in enumerate(_DOMAIN_CUM):
        if u <= c:
            return f"domain{idx:02d}.test"
    return f"domain{N_DOMAINS - 1:02d}.test"


def _lang_of(i: int) -> str:
    u = _h(i, "lang") % 100
    lang = "en"
    for lo, lg in _LANG_CUM:
        if u >= lo:
            lang = lg
    return lang


def make_page(i: int, min_words: int = 20, max_words: int = 100) -> dict:
    """Pure function row-id → page row. ~5% malformed (i%20==13):
    i%60==13 truncated </p>, i%60==33 non-utf8 text bytes, i%60==53 empty.
    ``min_words``/``max_words`` size the text payload (bench uses larger
    pages to approximate real Common-Crawl documents)."""
    domain = _domain_of(i)
    lang = _lang_of(i)
    n_words = min_words + _h(i, "len") % (max_words - min_words)
    words = [_WORDS[_h(i * 1000 + k, "w") % len(_WORDS)] for k in range(n_words)]
    text = " ".join(words)
    title = f"Page {i} on {domain}"
    n_links = _h(i, "nl") % 5
    links = "".join(
        f'<a href="https://{domain}/p/{(_h(i * 10 + k, "lk") % 1000)}">l{k}</a>'
        for k in range(n_links)
    )
    ts = _EPOCH_2024 + (_h(i, "ts") % (72 * 3600))  # 72-hour window
    mode = i % 60
    text_out: str | None = text
    if mode == 13:  # truncated closing tag → extractor finds no <p>…</p>
        html = f'<html><head><title>{title}</title></head><body><p>{text}'.encode()
        text_out = None
    elif mode == 33:  # non-utf8 payload bytes inside <p>
        html = (
            f"<html><head><title>{title}</title></head><body><p>".encode()
            + text.encode() + b"\xff\xfe\xfa"
            + f"</p>{links}</body></html>".encode()
        )
        text_out = None
    elif mode == 53:  # empty payload
        html = b""
        text_out = None
    else:
        html = (
            f'<html><head><meta charset="utf-8"><title>{title}</title></head>'
            f"<body><p>{text}</p>{links}</body></html>"
        ).encode()
    return {
        "url": f"https://{domain}/p/{i}",
        "warc_ts": pd.Timestamp(ts, unit="s"),
        "html": html,
        "text": text_out,
        "lang": lang,
        "page_id": i,
    }


PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
    StructField("page_id", IntegerType()),
])


def synth_pages(
    spark: SparkSession,
    n_rows: int = 5000,
    partitions: int = 32,
    min_words: int = 20,
    max_words: int = 100,
) -> DataFrame:
    """Distributed deterministic pages generator: spark.range → mapInPandas.
    Scales to bench sizes (500k+) without driver materialization; every row
    is a pure function of its id, so any subset regenerates identically
    (replay semantics, SURVEY.md S6).
    """

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [make_page(int(i), min_words, max_words) for i in pdf["id"]]
            )

    return (
        spark.range(0, n_rows, numPartitions=partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Dimension tables (enrich stage inputs — SURVEY.md J1-J3)
# ---------------------------------------------------------------------------

#: Inline VALUES form, shared by dim_lang and the DuckDB oracle.
DIM_LANG_SQL = (
    "(VALUES ('en','English','germanic'), ('fr','French','romance'), "
    "('es','Spanish','romance'), ('zh','Chinese','sinitic'), "
    "('de','German','germanic')) AS dim_lang(lang, lang_name, lang_family)"
)


def dim_lang(spark: SparkSession) -> DataFrame:
    """A local relation: its broadcast sends no Python rows through a worker."""
    return spark.sql(f"SELECT * FROM {DIM_LANG_SQL}")


#: Inline VALUES form, shared by dim_source and the DuckDB oracle.
DIM_SOURCE_SQL = (
    "(VALUES "
    + ", ".join(
        f"('src{i}.example.com','{['news', 'blog', 'shop', 'docs'][i % 4]}',{i % 3 + 1})"
        for i in range(10)
        if i != 7
    )
    + ") AS dim_source(domain, category, tier)"
)


def dim_source(spark: SparkSession) -> DataFrame:
    """Dimension keyed on documents.source-derived domains (oracle-checkable
    enrich): src0..src9 → srcN.example.com; src7 deliberately absent."""
    return spark.sql(f"SELECT * FROM {DIM_SOURCE_SQL}")
