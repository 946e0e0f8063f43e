"""Deterministic sampling for training-data mixing.

A 100-TB corpus pipeline samples constantly — per-language mixing
ratios, quality-tiered subsets, eval holdouts. `df.sample()` is the
wrong tool at scale: RNG-based samples are irreproducible across
retries/resumes (a re-run of a failed partition draws different rows —
silently corrupting exactly-once sinks) and can't be audited. The
scale-correct design is HASH sampling: membership is a pure function of
a stable row key, so every rerun, every engine, and every oracle agrees
row-for-row.

Hash = first 15 hex chars of md5(salt || key) as a long, mod 10^4 —
the same engine-portable construction as the winnowing fingerprints
(text._hash60), so DuckDB verifies these samples value-exactly.
Changing ``salt`` draws an independent sample (e.g. train vs holdout).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: sampling resolution: thresholds are in basis points (1/10000)
_BUCKETS = 10_000


def sample_bucket(key: str | Column, salt: str = "sample") -> Column:
    """Deterministic bucket in [0, 10000) from md5(salt || key)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 15),
        16, 10,
    ).cast("long")
    return h % _BUCKETS


SAMPLE_BUCKET_SQL = (
    "(('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 15))::BIGINT"
    f" % {_BUCKETS})"
)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key: str,
    default_fraction: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing primitive
    (e.g. keep 50% of en, 25% of fr, 10% of everything else). One
    codegen'd filter over the scan: no shuffle, no RNG, reproducible
    across retries and engines. Thresholds resolve per row via a CASE
    over ``strata_col``."""
    thresh = F.lit(int(round(default_fraction * _BUCKETS)))
    expr = None
    for stratum, frac in sorted(fractions.items()):
        cond = F.col(strata_col) == stratum
        val = F.lit(int(round(frac * _BUCKETS)))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    thresh = expr.otherwise(thresh) if expr is not None else thresh
    return df.filter(sample_bucket(key, salt) < thresh)


def stratified_sample_sql(
    strata_col: str,
    fractions: dict[str, float],
    key: str,
    default_fraction: float = 0.0,
    salt: str = "sample",
) -> str:
    """DuckDB WHERE-clause twin of stratified_sample (oracle parity)."""
    bucket = SAMPLE_BUCKET_SQL.format(salt=salt, key=key)
    cases = " ".join(
        f"WHEN '{s}' THEN {int(round(f * _BUCKETS))}"
        for s, f in sorted(fractions.items())
    )
    default = int(round(default_fraction * _BUCKETS))
    return f"{bucket} < (CASE {strata_col} {cases} ELSE {default} END)"
