"""Input stages (SURVEY.md §2.1 S1-S6).

The reference's inputs (xport_tcp/udp/grpc/kafka .go, upstream final
branch) all terminate a transport and emit payload messages onto the bus;
in the graft every ingest collapses to a table/stream scan — the transport
is the storage layer. Live TCP/UDP/gRPC/Kafka are explicit non-goals in
this sandbox (no network; SURVEY.md §7) but the *semantics* each carried —
framing, subscription path selection, replay — are preserved here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1 batch scan. Columnar parquet scan with pushdown — the graft's
    terminal for what the reference received message-at-a-time over TCP."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the testdata tables as temp views for spark.sql paths."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def replay(
    spark: SparkSession,
    archive_path: str,
    loop: int = 1,
    count: int | None = None,
) -> DataFrame:
    """S6 replay input — re-reads an archived sink table and re-emits it,
    optionally looped / truncated (reference: replay.go upstream, options
    ``loop=``, ``count=``; ``delayusec`` pacing is meaningless in batch and
    is the streaming runner's maxFilesPerTrigger instead).

    Determinism contract: two replays of the same archive produce identical
    DataFrames — guaranteed here because the archive is immutable parquet.
    """
    df = spark.read.parquet(archive_path)
    out = df
    for _ in range(loop - 1):
        out = out.unionByName(df)
    if count is not None:
        out = out.limit(count)
    return out

