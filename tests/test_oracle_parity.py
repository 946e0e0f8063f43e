"""Driver-simulator: every queries() key vs its oracle_sql() twin, the
same comparison the real correctness gate performs (row count + column
names + order-insensitive values) at sf0.01.
"""

from __future__ import annotations

import datetime
import decimal
import math

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple, dict)):
        # NO list->tuple rescue: the real driver canonicalizes with a
        # multi-column pandas sort_values, which factorizes (= hashes)
        # every cell — array cells die there with "unhashable type".
        # A simulator more lenient than the gate converts window
        # rotation into a gamble (that is exactly how pack_manifest
        # shipped red in r04), so non-atomic cells are a hard error.
        raise TypeError(
            f"non-atomic cell {type(v).__name__} reached the oracle "
            "comparator — driver-facing queries must serialize arrays "
            "(concat_ws / array_to_string) to atomic columns"
        )
    return str(v)


def _driver_canon_probe(cols, rows):
    """Reproduce the real driver's canonicalization step: a pandas
    multi-column sort_values over RAW cells (lexsort -> factorize ->
    hash). Unhashable cells (lists, dicts) raise TypeError here just
    like they do in the driver harness."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=list(cols))
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf.sort_values(by=list(pdf.columns), inplace=True, kind="mergesort")
    return pdf


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


@pytest.mark.parametrize("key", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, duck, key):
    q = QUERIES[key]
    sdf = q(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(ORACLES[key])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{key}: column mismatch spark={sorted(s_cols)} oracle={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{key}: row count spark={len(s_rows)} oracle={len(d_rows)}"
    )
    # driver-faithful canonicalization probe: raises TypeError on any
    # cell the real harness cannot hash (arrays, maps) — must run on
    # BOTH sides before the value comparison.
    _driver_canon_probe(s_cols, s_rows)
    _driver_canon_probe(d_cols, d_rows)
    _, s_norm = _normalize(s_cols, s_rows)
    _, d_norm = _normalize(d_cols, d_rows)
    if s_norm != d_norm:
        diffs = [
            (a, b) for a, b in zip(s_norm, d_norm) if a != b
        ][:5]
        raise AssertionError(f"{key}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize("key", sorted(ORACLES.keys()))
def test_oracle_keys_atomic_schema(spark, key):
    """Schema lint: every oracle-backed (= value-hash-compared) key must
    return ONLY atomic column types. The driver canonicalizer cannot
    hash array/map/struct cells (pack_manifest died on this in r04);
    rows-only keys (ANN candidates, media features) are exempt — the
    driver only counts their rows."""
    from pyspark.sql import types as T

    sdf = QUERIES[key](spark, SF_DIR)
    bad = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not bad, (
        f"{key}: non-atomic driver-facing columns {bad} — serialize "
        "with concat_ws (Spark) / array_to_string (DuckDB twin)"
    )


@pytest.mark.parametrize("key", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_keys_run(spark, key):
    """Keys without an oracle must still execute and return a stable schema."""
    df = QUERIES[key](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert df.columns


def test_approx_distinct_within_hll_tolerance(spark):
    """agg_approx_distinct accuracy contract (round-2 advice): the HLL
    estimate must sit within 3·rsd of exact countDistinct per group —
    the documented tolerance that makes the rows-only driver key an
    actually-verified operator."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    rsd = 0.02
    both = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .collect()
    )
    assert both
    for r in both:
        rel_err = abs(r.approx_users - r.exact_users) / max(r.exact_users, 1)
        assert rel_err <= 3 * rsd, (
            f"{r.event_type}: approx={r.approx_users} exact={r.exact_users} "
            f"rel_err={rel_err:.4f} > {3 * rsd}"
        )
