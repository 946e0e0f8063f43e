"""Enrich stage — broadcast/shuffle joins (SURVEY.md §2.3).

The reference has NO joins; its closest analog is the metadata/inspector
tap + metrics-spec tag lookup (metrics.go upstream: encoding_path → spec
entry, keys → tags). The north_star lifts that lookup into relational
enrichment: broadcast-hash-join the pages stream against small dimension
tables (lang, url-domain), with explicit semi/anti routing for unmatched
rows (the reference silently drops unmatched paths; we keep an auditable
deadletter — SURVEY.md J3).

Scale notes (100 TB design point):
- dims are O(10^2..10^6) rows → ALWAYS broadcast; never let a 100 TB fact
  table shuffle to meet a 50-row dim. ``F.broadcast`` is mandatory, not a
  hint we hope AQE applies.
- fact⋈fact joins (J2) shuffle on the join key; AQE handles partition
  coalescing + skew splitting. For repeat joins on the same key, bucket
  both sides at write time (catalog shim supports bucketBy).
- hot-key skew (J4) → salted replicate-broadcast in operators/skew.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def enrich_broadcast(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """J1 — broadcast hash join against a small dim. left-outer by default:
    enrichment must never drop fact rows (row-count preservation is part of
    routed-row equality)."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def enrich_shuffle(
    fact: DataFrame,
    other: DataFrame,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """J2 — shuffle (sort-merge / shuffled-hash, AQE's choice) join for
    sides too large to broadcast."""
    return fact.hint("merge").join(other, on=on, how=how)


def split_matched(
    fact: DataFrame, dim: DataFrame, on: str | list[str]
) -> tuple[DataFrame, DataFrame]:
    """J3 — (matched, unmatched) pair via semi/anti join against the dim.
    ``unmatched`` feeds the deadletter sink; reference behavior was a
    silent drop + counter (metrics.go basepath miss), ours is auditable."""
    matched = fact.join(F.broadcast(dim), on=on, how="left_semi")
    unmatched = fact.join(F.broadcast(dim), on=on, how="left_anti")
    return matched, unmatched


# ---------------------------------------------------------------------------
# Range / theta joins (SURVEY.md J5-J6) — banded equi-join scale path
# ---------------------------------------------------------------------------

def interval_band_join(
    facts: DataFrame,
    intervals: DataFrame,
    ts: str = "ts",
    lo: str = "t_lo",
    hi: str = "t_hi",
    band_seconds: int = 3600,
) -> DataFrame:
    """J5 — interval-containment range join (``lo ≤ ts < hi``) as a
    banded EQUI-join: facts keyed on floor(epoch/band), intervals
    exploded over every band they cover, shuffle equi-join on the band,
    exact range predicate applied after.

    Why not a plain non-equi join: Catalyst plans ts-range joins as
    BroadcastNestedLoopJoin (every fact row tested against every
    interval) — fine for 4 intervals, fatal for 10^7. The banded form is
    one ordinary shuffle join: cost O(|facts| + Σ interval_spans) with
    candidates limited to same-band pairs. Band width trades replication
    (intervals spanning many bands) against candidate precision; set it
    near the median interval length.
    """
    f = facts.withColumn(
        "__band", F.floor(F.unix_timestamp(F.col(ts)) / band_seconds)
    )
    iv = intervals.withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(lo)) / band_seconds),
                F.floor(F.unix_timestamp(F.col(hi)) / band_seconds),
            )
        ),
    )
    return (
        f.join(iv, on="__band")
        .filter((F.col(ts) >= F.col(lo)) & (F.col(ts) < F.col(hi)))
        .drop("__band")
    )


def banded_abs_join(
    a: DataFrame,
    b: DataFrame,
    col_a: str,
    col_b: str,
    max_diff: float,
) -> DataFrame:
    """J6 — theta join on ``|a.col_a − b.col_b| ≤ max_diff`` as a banded
    equi-join: both sides keyed on floor(value/max_diff); the left side
    additionally probes the two neighbor bands (any pair within max_diff
    spans at most adjacent bands), exact predicate after. One shuffle
    join with ≤3 replicas of the left side — never a nested-loop
    cross product."""
    band_a = F.floor(F.col(col_a) / max_diff)
    aa = a.withColumn(
        "__band", F.explode(F.array(band_a - 1, band_a, band_a + 1))
    )
    bb = b.withColumn("__band", F.floor(F.col(col_b) / max_diff))
    return (
        aa.join(bb, on="__band")
        .filter(F.abs(F.col(col_a) - F.col(col_b)) <= max_diff)
        .drop("__band")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    right_cols: list[str],
    suffix: str = "_matched",
) -> DataFrame:
    """J7 — as-of join: for every left row, attach the right row with the
    LARGEST ts ≤ the left row's ts within the same ``on`` key (inclusive,
    left-outer: no prior right row → NULLs). The time-series enrich Spark
    has no built-in for (DuckDB/kdb ASOF JOIN, pandas merge_asof).

    Distributed strategy — the union/carry-forward plan, NOT a per-row
    lookup and NOT a range self-join:
      1. tag both sides and UNION them (schema-aligned, right payload
         nulled on left rows and vice versa);
      2. one shuffle on ``on``, one sort by (ts, is_right DESC, tiebreak);
      3. a running ``last(col, ignorenulls=True)`` window carries each
         right payload column forward onto subsequent left rows;
      4. keep the left rows.
    Cost: ONE shuffle + sort of |L|+|R| rows total, regardless of match
    fan-in — the optimal shape at 10^12 rows (a banded/range join would
    replicate rows; a window over a union does not). Right rows sort
    BEFORE left rows at equal ts (is_right DESC), making the match
    inclusive exactly like DuckDB's ``ON l.ts >= r.ts``.

    ``right_cols`` are the right-side payload columns to attach; they are
    emitted as ``<col><suffix>``.

    Atomicity: the right payload is carried as ONE struct, non-null only
    on right rows, under a single ``last(ignorenulls=True)`` — so the
    attached match is always one whole right record, NULL payload fields
    included (per-column carries would fill a NULL field from an OLDER
    right row, splicing two records into a chimera).

    Determinism under (on, ts) ties on the right: equal-ts right rows
    sort by the payload struct ascending inside the window, so ``last``
    picks the field-wise-greatest payload — no extra shuffle, no
    engine-unspecified choice. (DuckDB's ASOF JOIN picks an arbitrary tie
    row, so oracle SQL twins must pre-dedup the right side with the same
    max-payload rule — see __spark_entry__ join_asof oracle.)
    """
    from pyspark.sql.types import StructField, StructType

    lcols = left.columns
    payload_type = StructType(
        [StructField(c, right.schema[c].dataType) for c in right_cols]
    )
    l_tag = left.select(
        *lcols,
        F.lit(0).alias("__is_right"),
        F.lit(None).cast(payload_type).alias("__r"),
    )
    r_tag = right.select(
        *[F.col(c) if c in (on, ts) else F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols],
        F.lit(1).alias("__is_right"),
        F.struct(*[F.col(c).alias(c) for c in right_cols]).alias("__r"),
    )
    u = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("__is_right").desc(),
                 F.col("__r").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        *lcols,
        "__is_right",
        F.last("__r", ignorenulls=True).over(w).alias("__m"),
    )
    return (
        carried.filter(F.col("__is_right") == 0)
        .select(
            *lcols,
            *[F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in right_cols],
        )
    )
