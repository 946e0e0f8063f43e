"""bmspark — PySpark-native web-text telemetry pipeline.

A from-scratch reimplementation of the *capabilities* of
CiscoDevNet/bigmuddy-network-telemetry-pipeline (an input→transform→output
telemetry dataflow daemon; see SURVEY.md §0-§3 for the behavioral survey),
re-expressed as an idiomatic batch/streaming Spark DAG over tables of
Common-Crawl-style web pages ``(url, warc_ts, html, text, lang)``.

Layout
------
- ``session``      SparkSession builder with scale-tuned confs
- ``oracle_extract`` pure-Python reference extractor (byte-identity oracle)
- ``fixtures``     deterministic synthetic pages + dimension tables
- ``sources``      Iceberg/parquet catalog shim (kept; no sink uses it yet)
- ``functions``    parse UDFs, text analysis, dedup, similarity, curation
- ``operators``    enrich joins, aggregates, top-k windows, salted skew ops
- ``plans``        pipeline spec + router, lineage manifests, tick engine
- ``streaming``    foreachBatch runner (the batch router per micro-batch),
                   progress listener + Prometheus export
"""

__version__ = "0.1.0"
