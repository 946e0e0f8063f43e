"""Hot-key skew mitigation — salting (SURVEY.md J4/A4, §4.3.3).

Web domains are Zipf-distributed: at 10^12 docs one hot domain can hold
tens of billions of rows, so any shuffle keyed on ``domain`` funnels that
key through one reducer. AQE's skew-join splitting covers sort-merge joins
but NOT hash-aggregate fan-in, so both salted forms are implemented
manually and proven equal to their unsalted counterparts by the DuckDB
oracle (the oracle runs the plain SQL).

Salting scheme: key → (key, pmod(hash(row-unique-col), S)). Salt S is a
static fan-out here; at cluster scale feed it from a cheap
``groupBy(key).count()`` sample or a maintained hot-list.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_col(unique: str | Column, buckets: int) -> Column:
    c = F.col(unique) if isinstance(unique, str) else unique
    return F.pmod(F.xxhash64(c), F.lit(buckets)).cast("int")


#: final-stage re-aggregation per merge kind (how partial results of an
#: algebraic aggregate recombine across salt buckets)
_FINAL_MERGE = {
    "sum": F.sum,   # also the final form of partial counts
    "min": F.min,
    "max": F.max,
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[Column],
    unique: str,
    buckets: int = 16,
    final_merge: dict[str, str] | None = None,
):
    """A4 — two-stage aggregation: partial agg on (keys, salt) spreads the
    hot key over ``buckets`` reducers, final agg on keys recombines.

    Only algebraic aggregates decompose this way; the caller passes the
    PARTIAL forms. The final re-aggregation per output column comes from
    ``final_merge`` ({column_name: "sum"|"min"|"max"}) when given, else is
    derived from the column-name convention (cnt_*/sum_*/n → sum of
    partials, min_* → min, max_* → max).

    Non-decomposable aggregates must be rewritten algebraically by the
    caller: ``avg`` = sum partial + count partial, divide AFTER this
    returns; ``countDistinct`` cannot be salted this way at all — use
    approx_count_distinct (HLL sketches merge) or a two-step
    distinct-then-count. A column that matches no convention and has no
    final_merge entry raises instead of guessing.
    """
    salted = df.withColumn("__salt", salt_col(unique, buckets))
    partial = salted.groupBy(*keys, "__salt").agg(*aggs)
    final_merge = final_merge or {}
    finals = []
    for c in partial.columns:
        if c in keys or c == "__salt":
            continue
        if c in final_merge:
            kind = final_merge[c]
            if kind not in _FINAL_MERGE:
                raise ValueError(
                    f"salted_agg: final_merge[{c!r}]={kind!r} not in "
                    f"{sorted(_FINAL_MERGE)}"
                )
            finals.append(_FINAL_MERGE[kind](c).alias(c))
        elif c.startswith("cnt_") or c.startswith("sum_") or c == "n":
            finals.append(F.sum(c).alias(c))
        elif c.startswith("min_"):
            finals.append(F.min(c).alias(c))
        elif c.startswith("max_"):
            finals.append(F.max(c).alias(c))
        else:
            raise ValueError(
                f"salted_agg: can't derive the final merge for column {c!r} — "
                "either name partial aggs cnt_/sum_/min_/max_* or pass "
                "final_merge={" + repr(c) + ": 'sum'|'min'|'max'}; avg must be "
                "decomposed into sum+count partials (divide after)"
            )
    return partial.groupBy(*keys).agg(*finals)


def salted_broadcast_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    unique: str,
    buckets: int = 16,
    how: str = "left",
) -> DataFrame:
    """J4 — skew-proof dim join: replicate the dim ``buckets``× (explode a
    salt array) and join on (key, salt). With a broadcast dim this is belt
    and braces — the real use is when the dim is just over broadcast size
    and must shuffle: salting then splits the hot key's shuffle partition.
    """
    salts = F.array(*[F.lit(i) for i in range(buckets)])
    dim_rep = dim.withColumn("__salt", F.explode(salts))
    fact_s = fact.withColumn("__salt", salt_col(unique, buckets))
    out = fact_s.join(F.broadcast(dim_rep), on=[key, "__salt"], how=how)
    return out.drop("__salt")
