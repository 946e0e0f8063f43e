"""Seeded page files for the benchmark, with their expected sink counts.

Pages come from ``bmspark.fixtures.make_page``: every page is a pure
function of its page id, and the seed only picks the id offset. Files are
written with pyarrow in worker processes, so input generation needs no
Spark session and is never part of a timed region.

The expected counts are generator ground truth, aggregated in plain
Python over the generated rows, so checking them does not depend on the
parse under test:

- ``page_id % 60`` in {13, 33, 53} are the malformed pages -> deadletter;
- every other page goes to the sink for its ``lang``;
- ``agg_hourly`` is the set of (domain, lang, hour) keys of the
  well-formed pages.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
from collections import Counter
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_PER_FILE = 2000
WARM_PAGES = 100

#: the Arrow form of ``bmspark.fixtures.PAGES_SCHEMA``
PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("page_id", pa.int32()),
])

MALFORMED = (13, 33, 53)
SINK_OF_LANG = {"en": "sink_en", "fr": "sink_romance", "es": "sink_romance"}
SINKS = ("sink_en", "sink_romance", "sink_other", "deadletter")
_US_PER_HOUR = 3600 * 1_000_000


@dataclass
class Expected:
    """Ground truth for a set of pages: sink row counts and hourly keys."""

    counts: Counter = field(default_factory=Counter)
    hour_keys: frozenset = frozenset()

    def __add__(self, other: "Expected") -> "Expected":
        return Expected(self.counts + other.counts, self.hour_keys | other.hour_keys)

    def sink_counts(self) -> dict[str, int]:
        return {s: self.counts[s] for s in SINKS}

    def pipeline_counts(self) -> dict[str, int]:
        """What a multi-mode ``run_pipeline`` must report."""
        return {**self.sink_counts(), "agg_hourly": len(self.hour_keys)}


@dataclass
class PageFile:
    path: str
    n_pages: int
    n_bytes: int
    expected: Expected


def expected_of(files: list[PageFile]) -> Expected:
    """Ground truth of a set of files read together."""
    return sum((f.expected for f in files), Expected())


def id_offset(seed: int) -> int:
    """The seed's page-id offset: far apart for different seeds, and small
    enough that every id stays an int32."""
    h = int.from_bytes(hashlib.sha256(f"perfbench:{seed}".encode()).digest()[:8], "big")
    return (h % 2000) * 1_000_000


def _write_file(path: str, lo: int, n: int) -> PageFile:
    from bmspark.fixtures import make_page

    rows = [make_page(i) for i in range(lo, lo + n)]
    counts: Counter = Counter()
    keys = set()
    for r in rows:
        if r["page_id"] % 60 in MALFORMED:
            counts["deadletter"] += 1
            continue
        counts[SINK_OF_LANG.get(r["lang"], "sink_other")] += 1
        domain = r["url"].split("/")[2]
        keys.add((domain, r["lang"], r["warc_ts"].value // 1000 // _US_PER_HOUR))
    cols = {name: [r[name] for r in rows] for name in PAGES_ARROW.names}
    cols["warc_ts"] = [r["warc_ts"].value // 1000 for r in rows]
    pq.write_table(pa.table(cols, schema=PAGES_ARROW), path)
    return PageFile(path, n, os.path.getsize(path), Expected(counts, frozenset(keys)))


def write_page_files(
    out_dir: str, seed: int, n_files: int, workers: int
) -> tuple[PageFile, list[PageFile]]:
    """Write one small warm-up file to ``out_dir/warm`` and ``n_files``
    files of ``PAGES_PER_FILE`` pages each to ``out_dir/data``; return
    them with their ground truth."""
    for sub in ("warm", "data"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    base = id_offset(seed)
    jobs = [(os.path.join(out_dir, "warm", "part-000.parquet"), base, WARM_PAGES)]
    lo = base + WARM_PAGES
    for k in range(n_files):
        jobs.append((os.path.join(out_dir, "data", f"part-{k:03d}.parquet"), lo, PAGES_PER_FILE))
        lo += PAGES_PER_FILE
    # fork, not spawn: a spawn pool starts a resource-tracker process that
    # outlives the pool and ends only after this process has exited.
    # Nothing runs a thread yet (no JVM, no Arrow work), so fork is safe.
    ctx = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(workers, mp_context=ctx) as pool:
        files = list(pool.map(_write_file, *zip(*jobs)))
    return files[0], files[1:]


#: the documents table's vocabulary: the word soup of the sf documents
#: tables (``FIXTURES.md``), whose near-duplicates end in " dup"
DOC_WORDS = (
    "vector column customer table scan spark value data join big key slow "
    "stream row line group filter window merge a batch small agg hash query "
    "the order part fast sort"
).split()
DOC_LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
N_SOURCES = 20


def write_documents(path: str, bench_path: str, seed: int, n_docs: int) -> int:
    """Write a seeded documents table (doc_id, text, lang, source, n_chars)
    shaped like the sf documents tables: 10-100 word docs, every 20th a
    near-duplicate of an earlier doc and every 50th an exact one. Also
    write the decontamination benchmark table (doc_id, text): the docs
    with ``doc_id % 17`` equal to a seed-chosen residue. Returns the
    residue."""
    import numpy as np

    rng = np.random.default_rng(seed)
    words = np.array(DOC_WORDS)
    texts: list[str] = []
    for i, n_words in enumerate(rng.integers(10, 101, n_docs)):
        if i >= 100 and i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 100 and i % 50 == 7:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), n_words)]))
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(DOC_LANGS)[rng.integers(0, len(DOC_LANGS), n_docs)],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(docs, path)
    residue = seed % 17
    pq.write_table(docs.select(["doc_id", "text"]).filter(pa.array(ids % 17 == residue)),
                   bench_path)
    return residue
