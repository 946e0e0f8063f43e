#!/usr/bin/env python
"""spark-submit entry point for the pipeline (north_rule: "runs via
spark-submit --py-files on multi-executor clusters").

Usage:
    # package the library
    cd /root/repo && zip -qr /tmp/bmspark.zip bmspark
    # batch
    spark-submit --py-files /tmp/bmspark.zip jobs/run_pipeline.py \\
        --source /data/pages --out /data/out \\
        --route 'sink_en:lang = "en"' \\
        --route 'sink_rest:lang != "en"'
    # streaming
    spark-submit --py-files /tmp/bmspark.zip jobs/run_pipeline.py \\
        --source /data/pages --out /data/out --streaming \\
        --checkpoint /data/ckpt

On a real cluster pass --master/--num-executors etc. to spark-submit as
usual; this script only builds the session if none exists (so
cluster-provided sessions win).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--source", default=None,
        help="pages table path (parquet dir); required unless --conf "
             "provides an input stage file=",
    )
    ap.add_argument(
        "--out", default=None,
        help="output root for sink tables; required unless --conf "
             "provides [default] out=",
    )
    ap.add_argument(
        "--route", action="append", default=[],
        help="NAME:SQL_PREDICATE (repeatable); default: en / romance / other",
    )
    ap.add_argument(
        "--route-mode", choices=["multi", "single_pass"], default=None,
        help="multi: one write per sink; single_pass: one partitioned "
             "write (default multi; when --conf is given, an explicit "
             "flag overrides the conf's route_mode)",
    )
    ap.add_argument("--subscription", default=None,
                    help="SQL predicate over raw source columns (scan-pushed)")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument(
        "--incremental", action="store_true",
        help="process only source files not yet in _incremental_state.json",
    )
    ap.add_argument("--checkpoint", default=None, help="streaming checkpoint dir")
    ap.add_argument(
        "--conf", default=None, dest="conf_file",
        help="INI pipeline.conf (bigmuddy shape); CLI flags override it",
    )
    ap.add_argument(
        "--daemon-interval", default=None,
        help="streaming trigger interval (e.g. '30 seconds') — run as an "
             "always-on daemon instead of drain-and-stop",
    )
    ap.add_argument(
        "--prometheus", default=None,
        help="write counters in Prometheus exposition format to this file",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from bmspark.plans import spec

    routes = (
        [spec.RouteRule(*r.split(":", 1)) for r in args.route]
        if args.route
        else spec.DEFAULT_ROUTES
    )

    if args.conf_file:
        from bmspark.plans import conf as conf_mod

        # precedence: explicit CLI flag > conf value > built-in default
        # (--source/--out are optional here so the conf's input file= and
        # [default] out= are reachable; load_spec raises if neither side
        # supplies them)
        with open(args.conf_file) as f:
            pipeline = conf_mod.load_spec(
                f.read(), out_dir=args.out, source_path=args.source
            )
        if args.route:
            pipeline.routes = routes
        if args.subscription:
            pipeline.subscription = args.subscription
        if args.route_mode:
            pipeline.route_mode = args.route_mode
    elif args.source is None or args.out is None:
        ap.error("--source and --out are required when --conf is not given")
    else:
        pipeline = spec.PipelineSpec(
            source_path=args.source, out_dir=args.out, routes=routes,
            route_mode=args.route_mode or "multi",
            subscription=args.subscription,
        )

    if args.streaming:
        # the streaming runner honours route names and predicates only
        # (parquet sinks, the default deadletter): refuse what it would drop
        encodings = sorted({r.fmt for r in pipeline.routes} - {"parquet"})
        ignored = [
            flag for flag, given in (
                ("--subscription", pipeline.subscription),
                ("--prometheus", args.prometheus),
                ("--incremental", args.incremental),
                ("--route-mode single_pass", pipeline.route_mode == "single_pass"),
                (f"encoding = {', '.join(encodings)}", encodings),
                (f"deadletter = {pipeline.deadletter}", pipeline.deadletter != "deadletter"),
            ) if given
        ]
        if ignored:
            ap.error(f"--streaming does not support {', '.join(ignored)}")

    from bmspark.session import get_session

    spark = get_session("bmspark-pipeline", master=args.master)

    if args.streaming:
        from bmspark import fixtures
        from bmspark.streaming import runner

        q = runner.run_streaming_pipeline(
            spark,
            pipeline.source_path,
            fixtures.PAGES_SCHEMA,
            pipeline.out_dir,
            args.checkpoint or f"{pipeline.out_dir}/_checkpoint",
            [(r.name, r.predicate) for r in pipeline.routes],
            trigger_interval=args.daemon_interval,
        )
        q.awaitTermination()
        return 0

    if args.incremental:
        from bmspark.plans import incremental

        res = incremental.incremental_run(spark, pipeline)
        if res is None:
            print(json.dumps({"status": "no_new_files"}))
            return 0
    else:
        res = spec.run_pipeline(spark, pipeline)
    if args.prometheus:
        from bmspark.streaming import monitor

        monitor.export_prometheus(
            args.prometheus,
            sink_counts=res.counts,
            input_count=res.input_count,
        )
    print(json.dumps({
        "input_count": res.input_count,
        "counts": res.counts,
        "skipped": res.skipped,
        "docs_per_sec": round(res.docs_per_sec, 1),
        "wall_secs": round(res.wall_secs, 2),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
