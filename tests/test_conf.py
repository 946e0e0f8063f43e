"""INI pipeline.conf loader (the reference's config surface), kafka
input-stage option mapping, and Prometheus-text metrics export."""

from __future__ import annotations

import re

import pytest

from bmspark.plans import conf, spec

GOLDEN_INI = """
[default]
id = crawl_pipeline
out = /data/out
route_mode = multi
version = 2

[pages_in]
stage = xport_input
type = file
file = /data/pages
subscription = lang IS NOT NULL

[sink_en]
stage = xport_output
predicate = lang = 'en'
encoding = parquet

[sink_rest]
stage = xport_output
predicate = lang != 'en'
encoding = json

[metrics]
stage = metrics
name = agg_hourly
"""


def test_ini_compiles_to_same_spec_as_dataclass():
    """A bigmuddy-shaped INI and the hand-built PipelineSpec are the SAME
    plan — byte-identical fingerprint."""
    got = conf.load_spec(GOLDEN_INI)
    want = spec.PipelineSpec(
        source_path="/data/pages",
        out_dir="/data/out",
        routes=[
            spec.RouteRule("sink_en", "lang = 'en'", fmt="parquet"),
            spec.RouteRule("sink_rest", "lang != 'en'", fmt="json"),
        ],
        subscription="lang IS NOT NULL",
        aggregate_name="agg_hourly",
        route_mode="multi",
        version=2,
    )
    assert got == want
    assert got.fingerprint() == want.fingerprint()


def test_cli_overrides_win():
    s = conf.load_spec(GOLDEN_INI, out_dir="/other/out", source_path="/other/src")
    assert s.out_dir == "/other/out"
    assert s.source_path == "/other/src"


def test_missing_predicate_fails_fast():
    bad = GOLDEN_INI.replace("predicate = lang = 'en'", "")
    with pytest.raises(ValueError, match="missing predicate"):
        conf.load_spec(bad)


KAFKA_INI = """
[pages_kafka]
stage = xport_input
type = kafka
brokers = broker1:9092,broker2:9092
topic = crawl.pages
consumergroup = bmspark
maxoffsetspertrigger = 100000
"""


def test_kafka_option_mapping():
    """Reference kafka consumer keys → Structured Streaming source options
    (xport_kafka analog). Pure mapping — no connector jar needed."""
    cp = conf.parse_conf(KAFKA_INI)
    opts = conf.kafka_options(cp["pages_kafka"])
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "crawl.pages",
        "startingOffsets": "earliest",
        "kafka.group.id": "bmspark",
        "maxOffsetsPerTrigger": "100000",
    }


def _kafka_connector_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def test_kafka_stream_builder(spark):
    """The readStream builder is constructible jar-free; .load() needs the
    connector (exercised only where the jar exists)."""
    cp = conf.parse_conf(KAFKA_INI)
    reader = conf.build_kafka_stream(spark, conf.kafka_options(cp["pages_kafka"]))
    assert reader is not None
    if not _kafka_connector_available(spark):
        pytest.skip("spark-sql-kafka connector jar not on this cluster")
    reader.load()  # pragma: no cover - only runs with the jar present


def test_prometheus_label_escaping():
    """ADVICE r2 #4: sink names come from arbitrary conf section names —
    backslash, double quote and newline must be escaped per the
    exposition-format spec."""
    from bmspark.streaming import monitor

    text = monitor.prometheus_text({'we"ird\\sink\nname': 7})
    line = [l for l in text.splitlines() if l.endswith(" 7")][0]
    assert '\\"' in line and "\\\\" in line and "\\n" in line
    assert "\n" not in line  # the raw newline never splits the sample line


def test_cli_conf_precedence_end_to_end(spark, tmp_path):
    """ADVICE r2 #1: with --conf, the conf's input file= and [default]
    out= are reachable (no --source/--out needed), and an explicit
    --route-mode flag overrides the conf's route_mode."""
    import json as _json

    from bmspark import fixtures
    from jobs.run_pipeline import main

    src = str(tmp_path / "pages")
    fixtures.synth_pages(spark, 300, partitions=2).write.parquet(src)
    out_a, out_b = str(tmp_path / "out_a"), str(tmp_path / "out_b")

    def ini(out):
        return (
            f"[default]\nout = {out}\nroute_mode = multi\n\n"
            f"[pages_in]\nstage = xport_input\ntype = file\nfile = {src}\n\n"
            "[sink_en]\nstage = xport_output\npredicate = lang = 'en'\n\n"
            "[sink_rest]\nstage = xport_output\npredicate = lang != 'en'\n"
        )

    ini_a = tmp_path / "a.conf"
    ini_a.write_text(ini(out_a))
    # conf-only invocation: both paths come from the conf
    assert main(["--conf", str(ini_a)]) == 0
    assert (tmp_path / "out_a" / "sink_en").exists()  # multi layout

    ini_b = tmp_path / "b.conf"
    ini_b.write_text(ini(out_b))
    # explicit flag beats the conf's route_mode = multi
    assert main(["--conf", str(ini_b), "--route-mode", "single_pass"]) == 0
    assert (tmp_path / "out_b" / "routed").exists()   # single_pass layout
    assert not (tmp_path / "out_b" / "sink_en").exists()

    # without --conf, missing --source/--out is a fast argparse error
    with pytest.raises(SystemExit):
        main(["--out", "/tmp/nope"])


_SINK_EN = "[sink_en]\nstage = xport_output\npredicate = lang = 'en'\n"


@pytest.mark.parametrize("flags, conf", [
    (["--subscription", "lang = 'en'"], None),
    ([], "[pages_in]\nstage = xport_input\ntype = file\n"
         "subscription = lang = 'en'\n\n" + _SINK_EN),
    (["--prometheus", "metrics.prom"], None),
    (["--incremental"], None),
    (["--route-mode", "single_pass"], None),
    ([], _SINK_EN + "encoding = json\n"),
    ([], "[default]\ndeadletter = dl\n\n" + _SINK_EN),
], ids=["subscription", "conf_subscription", "prometheus", "incremental",
        "single_pass", "conf_encoding", "conf_deadletter"])
def test_cli_streaming_rejects_options_it_would_ignore(tmp_path, flags, conf):
    """The streaming runner takes route names and predicates only: a
    subscription (flag or conf), a Prometheus file, incremental mode,
    single_pass routing, a non-parquet sink encoding or a renamed
    deadletter given with --streaming is an argparse error (exit 2)
    raised before any session starts or output is written, not
    silently dropped."""
    from jobs.run_pipeline import main

    out = tmp_path / "out"
    argv = ["--streaming", "--source", str(tmp_path / "pages"), "--out", str(out)]
    if conf:
        ini = tmp_path / "streaming.conf"
        ini.write_text(conf)
        argv += ["--conf", str(ini)]
    flags = [str(tmp_path / f) if f.endswith(".prom") else f for f in flags]
    with pytest.raises(SystemExit) as exc:
        main(argv + flags)
    assert exc.value.code == 2
    assert not out.exists()
    assert not (tmp_path / "metrics.prom").exists()


_PROM_LINE = re.compile(
    r'^[a-zA-Z_:][a-zA-Z0-9_:]*(\{[^}]*\})? -?\d+(\.\d+)?$'
)


def test_prometheus_text_parses_and_matches_counts(tmp_path):
    from bmspark.streaming import monitor

    counts = {"sink_en": 167396, "sink_rest": 212604, "deadletter": 20000}
    progress = [
        {"event": "progress", "query_id": "q1", "batch_id": 0,
         "num_input_rows": 100, "rows_dropped_by_watermark": 3},
        {"event": "started"},
    ]
    text = monitor.export_prometheus(
        str(tmp_path / "metrics.prom"),
        sink_counts=counts, input_count=400000, progress_rows=progress,
    )
    parsed = {}
    for line in text.strip().splitlines():
        if line.startswith("#"):
            assert line.startswith(("# HELP ", "# TYPE "))
            continue
        assert _PROM_LINE.match(line), f"unparseable sample line: {line!r}"
        name_labels, value = line.rsplit(" ", 1)
        parsed[name_labels] = float(value)
    for sink, n in counts.items():
        assert parsed[f'bmspark_sink_rows_total{{sink="{sink}"}}'] == n
    assert parsed["bmspark_input_rows_total"] == 400000
    assert parsed["bmspark_rows_dropped_by_watermark_total"] == 3
    assert (tmp_path / "metrics.prom").read_text() == text


def test_prometheus_export_is_fsynced_and_renamed(tmp_path, monkeypatch):
    """export_prometheus writes through lineage.write_atomic: the text is
    fsynced under a .tmp name, then renamed over the target, so a crash
    leaves the old file or the whole new one and no .tmp behind."""
    import os

    from bmspark.streaming import monitor

    path = tmp_path / "metrics.prom"
    path.write_text("old\n")
    synced = []
    real_fsync = os.fsync

    def fsync(fd):
        synced.append(path.read_text())  # the rename has not happened yet
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", fsync)
    text = monitor.export_prometheus(str(path), sink_counts={"sink_en": 3}, input_count=3)
    assert synced == ["old\n"]
    assert path.read_text() == text
    assert os.listdir(tmp_path) == ["metrics.prom"]
