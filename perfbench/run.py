#!/usr/bin/env python3
"""bmspark benchmark: the pages pipeline at two batch sizes, layer by layer.

    python3 perfbench/run.py --workload batch_pages --seed 1 --seconds 15 --trace 0

Runs from any working directory. The repository root is the parent of
this file's directory; it is put on ``PYTHONPATH`` so that Spark's Python
workers can import ``bmspark``. All files are written under
``<root>/.perfbench``. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before
it is a JSON record of the host, the raw samples and the per-workload
metric names of perfbench/README.md. See that file for the workloads,
the metrics and the layer map.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time

import inputs
import tracing
from inputs import expected_of

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")

DRIVER_MEM = "2g"
#: batch_pages: all files in one operation; trickle_pages: one file each,
#: enough for the warm-up ticks and the measured ones
FILES = {"batch_pages": 8, "trickle_pages": 16}
#: the traced run repeats its layer probes at least this often
MIN_TRACE_REPS = 2
SETUPS = 3
#: rounds in the first WARM_S seconds of the loop (at least WARM_ROUNDS)
#: are not sampled: the JIT is still compiling the workload's code
WARM_S = 10.0
WARM_ROUNDS = 2
MIN_SAMPLES = 3
#: the traced run's funnel probe: documents, and bench.py's stage set
FUNNEL_DOCS = 1000
FUNNEL_STAGES = {
    "min_quality": 0.2, "dedup_keep": "best-quality", "span_dedup": 10, "gopher": True,
    "ccnet_keep": {"head": 1.0, "middle": 0.7, "tail": 0.2},
    "lang_fractions": {"en": 0.8, "fr": 0.6}, "default_fraction": 0.5,
}
#: the funnel's counts on the seed-0 documents table (golden counts)
GOLDEN_FUNNEL_SEED = 0
GOLDEN_FUNNEL = {
    "input": 1000, "after_quality": 1000, "after_gopher": 413, "after_gopher_rep": 413,
    "after_exact_dedup": 406, "spans_removed": 115, "after_span_dedup": 406,
    "after_neardup_dedup": 404, "after_ccnet": 250, "after_decontaminate": 232, "output": 141,
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(FILES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def import_program() -> None:
    """Make ``bmspark`` importable here and in Spark's Python workers, or
    exit with code 2 if the repository is not next to this directory."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # read by bmspark.session at import time
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        import bmspark.plans.spec  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import bmspark from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)


def adopt_orphans() -> None:
    """Become the reaper of this process's orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER). Spark's Python daemon and its workers, and
    the JVM's helper processes, outlive the parent that started them by a
    moment; as orphans they come back to this process, which waits for
    them before it exits."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def child_pids() -> list[int]:
    pids = []
    for path in glob.glob(f"/proc/{os.getpid()}/task/*/children"):
        try:
            with open(path) as f:
                pids.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return pids


def reap_children(grace: float = 20.0) -> None:
    """Wait until this process has no child left, reaping each as it
    ends. A child still running after ``grace`` seconds gets SIGTERM, and
    SIGKILL five seconds later."""
    deadline, signals = time.monotonic() + grace, [signal.SIGTERM, signal.SIGKILL]
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no child at all, running or not
            return
        if time.monotonic() > deadline:
            sig = signals.pop(0) if signals else signal.SIGKILL
            for pid in child_pids():
                print(f"perfbench: child {pid} still running; sending {sig.name}",
                      file=sys.stderr)
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


def cpu_jiffies() -> tuple[int, int, int]:
    """(all, stolen, busy) CPU jiffies of the host so far, from
    /proc/stat; busy is all but idle, iowait and stolen."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v), v[7], sum(v) - v[3] - v[4] - v[7]


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n}
    return {"value": sorted(xs)[n - 11], "percentile": round(100 * (n - 10) / n, 1),
            "samples": n}


class Harness:
    """One SparkSession at ``local[cores]`` plus the calls the benchmark
    makes into the program. Every output goes to a fresh directory, so no
    call can take the manifest-resume path and time a no-op."""

    def __init__(self, work: str, cores: int, warm_file: str):
        self.work = work
        self.cores = cores
        self.warm_file = warm_file
        self.spark = None
        self._dirs = 0

    def fresh(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, "out", f"{self._dirs:04d}-{name}")

    def start(self, event_log: bool = False) -> tuple[float, float]:
        """Start the session and run a single_pass pipeline over the
        warm-up file; return (session start seconds, warm-up seconds)."""
        from bmspark.session import get_session

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        confs = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a heap of fixed size: a growing one makes each of the first
            # rounds faster than the last for about a minute
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            confs.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                          "spark.eventLog.rolling.enabled": "false",
                          "spark.eventLog.compress": "false"})
        t0 = time.monotonic()
        self.spark = get_session("perfbench", f"local[{self.cores}]", extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.monotonic()
        # split over every core, so that the warm-up starts all of
        # Spark's Python workers
        pages = self.spark.read.parquet(self.warm_file).repartition(self.cores)
        self.pipeline(self.warm_file, self.fresh("warm"), "single_pass", pages=pages)
        return t1 - t0, time.monotonic() - t1

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
            SparkContext._gateway = None

    def spec(self, src: str, out: str, mode: str):
        from bmspark.plans import spec

        return spec.PipelineSpec(src, out, spec.DEFAULT_ROUTES, route_mode=mode)

    def pipeline(self, src: str, out: str, mode: str, pages=None):
        from bmspark.plans import spec

        return spec.run_pipeline(self.spark, self.spec(src, out, mode), pages=pages)

    def tick(self, src: str, state_dir: str):
        from bmspark.plans import incremental

        return incremental.incremental_run(self.spark, self.spec(src, state_dir, "multi"))

    def stream(self, src: str, out: str, ckpt: str, files_per_batch: int) -> list[dict]:
        """Drain the unprocessed files of ``src`` with the streaming runner
        (availableNow); return the progress of each batch that read rows."""
        from bmspark.fixtures import PAGES_SCHEMA
        from bmspark.plans import spec
        from bmspark.streaming.runner import run_streaming_pipeline

        q = run_streaming_pipeline(
            self.spark, src, PAGES_SCHEMA, out, ckpt,
            [(r.name, r.predicate) for r in spec.DEFAULT_ROUTES],
            max_files_per_trigger=files_per_batch,
        )
        q.awaitTermination()
        progress = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
        return [p for p in progress if p["numInputRows"] > 0]


class Ledger:
    """Counts attempted and failed operations. An operation fails when it
    raises or when one of its output checks does not hold."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.steal: list[float] = []
        self.cpu_s: list[float] = []

    def run(self, name: str, fn, check):
        """Time ``fn()``; return (seconds, result), or None if it failed."""
        self.attempted += 1
        try:
            st0 = cpu_jiffies()
            t0 = time.monotonic()
            result = fn()
            secs = time.monotonic() - t0
            st1 = cpu_jiffies()
            self.steal.append((st1[1] - st0[1]) / max(st1[0] - st0[0], 1))
            self.cpu_s.append((st1[2] - st0[2]) / os.sysconf("SC_CLK_TCK"))
            problems = check(result)
        except Exception as e:  # the loop keeps running; the failure is counted
            result, problems = None, [f"{type(e).__name__}: {str(e)[:300]}"]
        if problems:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in problems)
            return None
        return secs, result


def check_pipeline(want: dict[str, int], n_pages: int):
    def check(res) -> list[str]:
        if res is None:
            return ["nothing to do"]
        out = []
        if res.skipped:
            out.append(f"skipped {res.skipped}: timed the manifest-resume path")
        if res.counts != want:
            out.append(f"counts {res.counts} != expected {want}")
        if res.input_count != n_pages:
            out.append(f"input_count {res.input_count} != {n_pages}")
        return out
    return check


def check_stream(out_dir: str, want: dict[str, int]):
    def check(batches) -> list[str]:
        got = {s: parquet_rows(os.path.join(out_dir, s)) for s in want}
        out = [] if got == want else [f"stream sink rows {got} != expected {want}"]
        if len(batches) != 1:
            out.append(f"{len(batches)} micro-batches read rows, expected 1")
        return out
    return check


class Workload:
    """The measured loop. A batch_pages round runs ``run_pipeline`` (multi
    mode, the default) over all its files. A trickle_pages round drops the
    next single file into a source directory and consumes it with an
    ``incremental_run`` tick (multi mode too). single_pass mode and the
    streaming runner are measured by the traced run only: a second call
    per round would halve the rounds a run holds."""

    def __init__(self, name: str, h: Harness, files, led: Ledger):
        self.batch = name == "batch_pages"
        self.h, self.files, self.led = h, files, led
        self.samples: list[float] = []
        self.rounds = 0
        self.warm_rounds = 0
        self.first_multi_out = None
        self.src = os.path.join(h.work, "src")
        self.ticks = os.path.join(h.work, "ticks")
        os.makedirs(self.src)

    @property
    def docs_per_op(self) -> int:
        return sum(f.n_pages for f in self.files) if self.batch else self.files[0].n_pages

    def round(self, r: int, sampled: bool) -> None:
        h, led = self.h, self.led
        if self.batch:
            exp, n = expected_of(self.files), self.docs_per_op
            src, out = os.path.dirname(self.files[0].path), h.fresh("multi")
            self.first_multi_out = self.first_multi_out or out
            res = led.run("multi", lambda: h.pipeline(src, out, "multi"),
                          check_pipeline(exp.pipeline_counts(), n))
        else:
            f = self.files[r]
            os.link(f.path, os.path.join(self.src, os.path.basename(f.path)))
            res = led.run("tick", lambda: h.tick(self.src, self.ticks),
                          check_pipeline(f.expected.pipeline_counts(), f.n_pages))
        self.rounds += 1
        if res and sampled:
            self.samples.append(res[0])

    def run_for(self, seconds: float) -> float:
        """Warm-up rounds, then sampled rounds until ``seconds`` have
        passed (at least MIN_SAMPLES). Returns the wall time of the sampled
        rounds."""
        t0 = time.monotonic()
        r = 0
        while r < WARM_ROUNDS or time.monotonic() - t0 < WARM_S:
            self.round(r, sampled=False)
            r += 1
        self.warm_rounds = r
        t0 = time.monotonic()
        while r - self.warm_rounds < MIN_SAMPLES or (
                time.monotonic() - t0 < seconds and (self.batch or r < len(self.files))):
            self.round(r, sampled=True)
            r += 1
        return time.monotonic() - t0

    def finish(self) -> float:
        """Check that the union of the trickle tick sinks holds every file's
        pages; return sink bytes per input byte of the multi-mode sinks."""
        if self.batch:
            return parquet_bytes(self.first_multi_out) / sum(f.n_bytes for f in self.files)
        used = self.files[: self.rounds]
        want = expected_of(used).sink_counts()
        ticks = os.path.join(self.ticks, "ticks")
        got = {s: parquet_rows(os.path.join(ticks, "*", s)) for s in want}
        self.led.attempted += 1
        if got != want:
            self.led.failed += 1
            self.led.problems.append(f"tick union: rows {got} != expected {want}")
        return parquet_bytes(ticks) / sum(f.n_bytes for f in used)

    def named(self) -> dict:
        """The metrics under this workload's own names (perfbench/README.md)."""
        if self.batch:
            return {"batch_multi_docs_per_s":
                    metric(self.docs_per_op / median(self.samples), "docs/s")}
        return {"tick_p50_s": metric(median(self.samples), "s"),
                "tick_tail_s": {**tail(self.samples), "unit": "s"}}


def host_record(cores: int) -> dict:
    from bench_scaling import effective_cores

    nproc = len(os.sched_getaffinity(0))
    probe = effective_cores(total=500_000, levels=(1, nproc))
    return {"nproc": nproc, "local_cores": cores, "loadavg": os.getloadavg(),
            "effective_cores": probe.get(f"effective_cores_at_{nproc}"), "cpu_probe": probe}


def metric(value, unit: str) -> dict:
    ok = isinstance(value, (int, float)) and value == value
    return {"value": value if ok else None, "unit": unit}


def measure(args, h: Harness, led: Ledger, files) -> tuple[dict, dict]:
    """Untraced run: the end-to-end metrics."""
    # every setup after the first restarts the SparkContext in the same
    # JVM; all of them also warm the JIT before the measured rounds
    setups = []
    t0 = time.monotonic()
    for _ in range(SETUPS):
        h.stop()
        start, warmup = h.start()
        setups.append(start + warmup)
    restarts_s = time.monotonic() - t0 - setups[0]
    wl = Workload(args.workload, h, files, led)
    loop_s = wl.run_for(args.seconds)
    sink_ratio = wl.finish()
    n = wl.docs_per_op
    metrics = {
        "setup_s": metric(median(setups), "s"),
        "docs_per_s": metric(n / median(wl.samples), "docs/s"),
        "sink_bytes_per_input_byte": metric(sink_ratio, "ratio"),
    }
    named = {**wl.named(), "setup_s": metrics["setup_s"],
             "sink_bytes_per_input_byte": metrics["sink_bytes_per_input_byte"],
             "error_rate": metric(led.failed / max(led.attempted, 1), "fraction")}
    record = {"docs_per_op": n, "rounds": wl.rounds, "warm_rounds": wl.warm_rounds, "steal": led.steal, "cpu_s": led.cpu_s,
              "phase_s": {"loop": loop_s, "restarts": restarts_s},
              "samples": {"op_s": wl.samples, "setup_s": setups}, "named": named}
    return metrics, record


def probe_layers(h: Harness, led: Ledger, tr, src: str, files, rep: int) -> dict:
    """One pass of the layer probes over the files in ``src``. Each probe
    is a span around public calls into one module; prefix probes write to
    the noop sink so that nothing after the prefix runs."""
    from pyspark.sql import functions as F

    from bmspark.functions import parse as parse_fns
    from bmspark.operators import aggregate as agg_ops
    from bmspark.plans import lineage
    from bmspark.plans import spec as spec_mod

    spark = h.spark
    exp = expected_of(files)
    n = sum(f.n_pages for f in files)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    out = {}
    with tr.span("rep"):
        with tr.span("scan"):
            noop(spark.read.parquet(src))
        with tr.span("scan.list"):
            spark.read.parquet(src).inputFiles()
        with tr.span("prefix.parse"):
            noop(parse_fns.with_parsed(spark.read.parquet(src)))
        with tr.span("prefix.enrich"):
            noop(spec_mod.build_enriched(spark, h.spec(src, "", "multi")))
        for mode, want in (("multi", exp.pipeline_counts()), ("single_pass", exp.sink_counts())):
            path = h.fresh(mode)
            with tr.span(f"route.{mode}"):
                led.run(mode, lambda: h.pipeline(src, path, mode), check_pipeline(want, n))
            out[mode] = path
        enriched = spec_mod.build_enriched(spark, h.spec(src, "", "multi")).persist()
        noop(enriched)
        path = h.fresh("agg")
        with tr.span("aggregate.hourly"):
            agg_ops.hourly_counters(
                enriched.filter(F.col("parse_ok")),
                measures={"total_links": F.sum("n_links"), "total_bytes": F.sum("n_bytes")},
            ).write.parquet(path)
        enriched.unpersist()
        sinks = sorted(exp.pipeline_counts())
        with tr.span("lineage.output_lineage"):
            parts = [lineage.output_lineage(os.path.join(out["multi"], s)) for s in sinks]
        with tr.span("lineage.commit"):
            for s, p in zip(sinks, parts):
                lineage.commit_manifest(h.fresh("manifest"), sink=s, row_count=0,
                                        plan_fingerprint=f"probe{rep}", partitions=p)
        with tr.span("incremental.tick"):
            led.run("tick", lambda: h.tick(src, h.fresh("tick")),
                    check_pipeline(exp.pipeline_counts(), n))
        stream_out = h.fresh("stream")
        with tr.span("stream.drain"):
            res = led.run("stream", lambda: h.stream(src, stream_out, h.fresh("ckpt"), len(files)),
                          check_stream(stream_out, exp.sink_counts()))
        out["stream"] = res[1][0] if res else None
    return out


def check_funnel(out: str, earlier: list[dict], golden: dict | None):
    """The funnel's counts shrink stage by stage, its output and manifest
    agree with them, and they equal the counts of any earlier run and the
    golden counts, if given."""
    def check(res) -> list[str]:
        from bmspark.plans import lineage

        counts, _ = res
        problems = []
        stages = [v for k, v in counts.items() if k == "input" or k.startswith("after_")]
        if stages != sorted(stages, reverse=True):
            problems.append(f"funnel counts grow: {counts}")
        manifest = lineage.read_manifest(out) or {}
        if manifest.get("row_count") != counts["output"] or parquet_rows(out) != counts["output"]:
            problems.append(f"output {counts['output']} != manifest {manifest.get('row_count')}")
        if earlier and counts != earlier[0]:
            problems.append(f"counts {counts} != first run {earlier[0]}")
        if golden and counts != golden:
            problems.append(f"counts {counts} != golden {golden}")
        earlier.append(counts)
        return problems
    return check


def probe_funnel(h: Harness, led: Ledger, tr, seed: int) -> dict:
    """The corpus-cleaning funnel on a seeded documents table: the whole
    ``clean_corpus`` job twice (cold, then timed), then each of its kernel
    functions alone, written to the noop sink."""
    from jobs.clean_corpus import GOPHER_REP_DEFAULTS, clean_corpus

    from bmspark.functions import curation, dedup, sampling, text

    spark = h.spark
    docs_path = os.path.join(h.work, "documents.parquet")
    bench_path = os.path.join(h.work, "decontamination.parquet")
    inputs.write_documents(docs_path, bench_path, seed, FUNNEL_DOCS)
    runs: list[dict] = []
    for k in range(2):
        out = h.fresh("funnel")
        with tr.span("funnel.clean_corpus" if k else "funnel.cold"):
            led.run("funnel", lambda: clean_corpus(
                spark, docs_path, out, gopher_rep=GOPHER_REP_DEFAULTS,
                benchmark_path=bench_path, **FUNNEL_STAGES),
                check_funnel(out, runs, GOLDEN_FUNNEL if seed == GOLDEN_FUNNEL_SEED else None))
    docs = spark.read.parquet(docs_path)
    probes = {
        "text.measure": lambda: docs.select(
            "*", text.token_count("text"), text.quality_score("text"), text.fingerprint("text")),
        "curation.gopher_quality": lambda: curation.gopher_quality(docs),
        "curation.repetition_ngrams": lambda: curation.repetition_ngrams(docs),
        "curation.dedup_spans": lambda: curation.dedup_spans(docs, 10),
        "dedup.winnow_pairs": lambda: dedup.winnow_neardup_pairs(docs, "text", "doc_id", 3),
        "curation.ccnet_buckets": lambda: curation.ccnet_buckets(docs),
        "curation.contaminated_docs": lambda: curation.contaminated_docs(
            docs, spark.read.parquet(bench_path), n=5, min_shared=1),
        "sampling.stratified_sample": lambda: sampling.stratified_sample(
            docs, "lang", FUNNEL_STAGES["lang_fractions"], key="doc_id",
            default_fraction=FUNNEL_STAGES["default_fraction"]),
    }
    for name, frame in probes.items():
        with tr.span(name):
            frame().write.format("noop").mode("overwrite").save()
    pairs = dedup.winnow_neardup_pairs(docs, "text", "doc_id", 3).persist()
    pairs.write.format("noop").mode("overwrite").save()
    with tr.span("dedup.connected_components"):
        dedup.connected_components(pairs).write.format("noop").mode("overwrite").save()
    pairs.unpersist()
    return runs[-1] if runs else {}


def trace_layers(args, h: Harness, led: Ledger, files) -> tuple[dict, dict]:
    """Traced run: the per-layer metrics. The first context runs the
    multi-mode pipeline untraced; a second context, with the Spark event
    log on, runs the layer probes at least MIN_TRACE_REPS times and for
    at least ``--seconds``."""
    op_files = files if args.workload == "batch_pages" else files[:1]
    n = sum(f.n_pages for f in op_files)
    src = os.path.join(h.work, "probe_src")
    os.makedirs(src)
    for f in op_files:
        os.link(f.path, os.path.join(src, os.path.basename(f.path)))

    start, warmup = h.start()
    want = expected_of(op_files).pipeline_counts()
    h.pipeline(src, h.fresh("warm"), "multi")
    untraced = []
    for _ in range(2):
        path = h.fresh("untraced")
        r = led.run("multi", lambda: h.pipeline(src, path, "multi"), check_pipeline(want, n))
        if r:
            untraced.append(r[0])
    h.stop()
    h.start(event_log=True)
    sc = h.spark.sparkContext
    tr = tracing.Tracer(sc)
    reps, t0 = [], time.monotonic()
    with tracing.RssSampler(sc._gateway.proc.pid) as rss:
        while len(reps) < MIN_TRACE_REPS or time.monotonic() - t0 < args.seconds:
            reps.append(probe_layers(h, led, tr, src, op_files, len(reps)))
        funnel_counts = probe_funnel(h, led, tr, args.seed)
    task_counts = {i: tracing.job_tasks(sc, s.jobs) for i, s in enumerate(tr.spans)}
    h.stop()
    job_stages, stage = tracing.event_log_stage_metrics(os.path.join(h.work, "eventlog"))
    tr.write(os.path.join(STATE_DIR, "traces", f"{args.workload}-seed{args.seed}.json"))

    def secs(name):
        return median([s.secs for s in tr.named(name)])

    def per_span(name, fn):
        return median([fn(i, s) for i, s in enumerate(tr.spans) if s.name == name])

    def jobs(name):
        return per_span(name, lambda i, s: len(s.jobs))

    def event_bytes(name, key):
        return per_span(name, lambda i, s: tracing.jobs_metric(s.jobs, job_stages, stage, key))

    scan, parse, enrich = secs("scan"), secs("prefix.parse"), secs("prefix.enrich")
    multi, single = secs("route.multi"), secs("route.single_pass")
    kernels = ("text.measure", "curation.gopher_quality", "curation.repetition_ngrams",
               "curation.dedup_spans", "dedup.winnow_pairs", "dedup.connected_components",
               "curation.ccnet_buckets", "curation.contaminated_docs",
               "sampling.stratified_sample")
    batches = [r["stream"] for r in reps if r["stream"]]
    stream_ms = {k: statistics.fmean(b["durationMs"][k] for b in batches) if batches else None
                 for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                           "getBatch")}
    m = {
        "session.start_s": (start, "s"),
        "session.warmup_s": (warmup, "s"),
        "scan.s": (scan, "s"),
        "scan.list_s": (secs("scan.list"), "s"),
        "parse.self_s": (parse - scan, "s"),
        "parse.us_per_doc": ((parse - scan) / n * 1e6, "us"),
        "parse.share": ((parse - scan) / multi, "ratio"),
        "enrich.self_s": (enrich - parse, "s"),
        "route.multi.s": (multi, "s"),
        "route.multi.self_s": (multi - enrich, "s"),
        "route.multi.jobs": (jobs("route.multi"), "count"),
        "route.multi.tasks": (per_span("route.multi", lambda i, s: task_counts[i][0]), "count"),
        "route.multi.sink_bytes": (median([parquet_bytes(r["multi"]) for r in reps]), "bytes"),
        "route.multi.shuffle_write_bytes": (event_bytes("route.multi", "shuffle_write_bytes"),
                                            "bytes"),
        "route.single_pass.s": (single, "s"),
        "route.single_pass.self_s": (single - enrich, "s"),
        "route.single_pass.jobs": (jobs("route.single_pass"), "count"),
        "route.single_pass.tasks": (
            per_span("route.single_pass", lambda i, s: task_counts[i][0]), "count"),
        "route.single_pass.sink_bytes": (
            median([parquet_bytes(r["single_pass"]) for r in reps]), "bytes"),
        "aggregate.hourly_s": (secs("aggregate.hourly"), "s"),
        "lineage.output_lineage_s": (secs("lineage.output_lineage"), "s"),
        "lineage.commit_s": (secs("lineage.commit"), "s"),
        "incremental.tick_s": (secs("incremental.tick"), "s"),
        "incremental.jobs": (jobs("incremental.tick"), "count"),
        **{f"stream.{k}_ms": (v, "ms") for k, v in stream_ms.items()},
        "stream.source_reads_per_row": (
            median([b["numInputRows"] / n for b in batches]), "ratio"),
        "stream.jobs": (jobs("stream.drain"), "count"),
        "funnel.s": (secs("funnel.clean_corpus"), "s"),
        "funnel.jobs": (jobs("funnel.clean_corpus"), "count"),
        "funnel.unattributed_s": (
            secs("funnel.clean_corpus") - sum(secs(k) for k in kernels), "s"),
        **{f"{k}_s": (secs(k), "s") for k in kernels},
        "trace.overhead_s": (multi - median(untraced), "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    record = {
        "docs_per_op": n, "reps": len(reps), "untraced_multi_s": untraced,
        "tasks_failed": sum(task_counts[i][1] for i, s in enumerate(tr.spans)
                            if s.parent is None),
        "spill_bytes": {k: event_bytes(k, "spill_bytes")
                        for k in ("route.multi", "route.single_pass")},
        "route.single_pass.shuffle_write_bytes":
            event_bytes("route.single_pass", "shuffle_write_bytes"),
        "funnel_counts": funnel_counts,
        "funnel_survival": {k: v / funnel_counts["input"] for k, v in funnel_counts.items()
                            if k.startswith("after_") or k == "output"}
                           if funnel_counts else {},
    }
    return {k: metric(v, u) for k, (v, u) in m.items()}, record


def main(argv=None) -> int:
    args = parse_args(argv)
    import_program()
    adopt_orphans()

    cores = min(4, len(os.sched_getaffinity(0)))
    work = os.path.join(STATE_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVMs' perf-data files would go to /tmp whatever their tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")))
    led = Ledger()
    try:
        t0 = time.monotonic()
        warm, files = inputs.write_page_files(
            os.path.join(work, "pages"), args.seed, FILES[args.workload], cores)
        gen_s = time.monotonic() - t0
        h = Harness(work, cores, warm.path)
        try:
            run = trace_layers if args.trace else measure
            metrics, record = run(args, h, led, files)
        finally:
            h.close()
        host = host_record(cores)
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host, "inputs_s": gen_s, **record,
              "problems": led.problems}
    print(json.dumps(record))
    print(json.dumps({"correct": led.failed == 0, "attempted": led.attempted,
                      "failed": led.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
