"""Window functions (SURVEY.md §2.5) — counter-rate / top-talker shapes.

No true analog exists in the reference binary — these are the
consumer-side computations its telemetry feeds (Grafana "top interfaces",
counter rates from monotonic counters) pulled in-engine, as the north_star
mandates for windowed group-bys.

Scale notes: every window here partitions by a key (domain / user_id) —
work distributes across partitions and only per-key state sorts. No
global unpartitioned windows on the hot path (those single-task at any
scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def topk_per_key(
    df: DataFrame, key: str, order_col: str, k: int, tiebreak: str
) -> DataFrame:
    """W1 — top-k rows per key (top talkers). row_number over a
    deterministic (order_col DESC, tiebreak) ordering so results are
    oracle-stable."""
    w = Window.partitionBy(key).orderBy(F.desc(order_col), F.col(tiebreak))
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def rate_per_key(
    df: DataFrame, key: str, ts: str, value: str
) -> DataFrame:
    """W2 — counter rate: value − lag(value) per key in event-time order —
    exactly how monotonic MDT counters (bytes-sent etc.) are consumed
    downstream of the reference."""
    w = Window.partitionBy(key).orderBy(ts)
    return df.withColumn("prev_value", F.lag(value).over(w)).withColumn(
        "delta", F.col(value) - F.col("prev_value")
    )


def running_sum_per_key(
    df: DataFrame, key: str, ts: str, value: str, tiebreak: str
) -> DataFrame:
    """W3 — running total per key (cumulative msg-count analog); frame is
    unboundedPreceding→currentRow over a deterministic ordering."""
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts), F.col(tiebreak))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("running_total", F.sum(value).over(w))

