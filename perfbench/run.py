"""Benchmark entry point.

    python3 perfbench/run.py --workload {search,ingest,build} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  Prints a header line (environment), a
report line (every metric by name and unit, workload descriptors, failed
checks) and, last, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  Everything the run writes stays under
``.bench_run/`` in the checkout; the full report and, when traced, the span
file are kept in ``.bench_run/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s",
             "index_bytes_per_text_byte": "ratio"}
INFO_UNITS = {"search_p50_ms": "ms", "search_tail_ms": "ms",
              "search_qps": "1/s", "cached_index_mb": "MB",
              "build_docs_per_s": "docs/s", "append_p50_s": "s",
              "refresh_search_p50_ms": "ms", "ingest_docs_per_s": "docs/s",
              "merge_s": "s", "update_s": "s", "failed_frac": "ratio",
              "repeat_share": "ratio"}


def session_config(cores: int, workdir: str, traced: bool) -> dict:
    """bench.make_spark's settings with cores from nproc, plus paths that
    keep every file the run writes inside the checkout."""
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "whoosh-reloaded-spark-perfbench",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "32m",
        # bench.make_spark asks for 8g; the benchmark's inputs need far less
        # and the machine's memory is shared
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(workdir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_spark(conf: dict, workdir: str):
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    tmp = os.path.join(workdir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the module caches its first choice
    # every JVM, the launcher included: temp files in the checkout and no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "whoosh_reloaded_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds "
              "whoosh_reloaded_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads
    import tracing as tr

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    workdir = os.path.join(root, ".bench_run", f"{tag}-{os.getpid()}")
    outdir = os.path.join(root, ".bench_run", "out")
    os.makedirs(outdir, exist_ok=True)
    shutil.rmtree(workdir, ignore_errors=True)
    conf = session_config(cores, workdir, traced)
    spark = None
    try:
        spark = start_spark(conf, workdir)
        env = {"nproc": cores, "spark": spark.version,
               "java": spark.sparkContext._jvm.System.getProperty("java.version"),
               "python": platform.python_version(), "session": conf,
               "workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "traced": traced,
               "client": "one closed-loop client thread"}
        print(json.dumps({"env": env}), flush=True)
        tracer = tr.Tracer(spark.sparkContext, traced)
        if traced:
            tracer.install()
        run = workloads.Run(spark, tracer, workdir, args.seed, cores)
        res = workloads.WORKLOADS[args.workload](run, args.seconds)
        probe = res["probe"]() if traced else None
        stop_spark(spark)
        spark = None
        report = build_report(args, env, run, res)
        if traced:
            log = tr.read_event_log(os.path.join(workdir, "events"))
            metrics = per_layer(run, res, tracer, log, probe, cores)
            with open(os.path.join(outdir, f"spans-{args.workload}-s{args.seed}.json"),
                      "w") as f:
                json.dump(tracer.spans, f)
        else:
            metrics = report["metrics"]
        report["result_metrics"] = metrics
        with open(os.path.join(outdir, f"{tag}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        print(json.dumps({k: report[k] for k in
                          ("report", "descriptors", "failures")}, default=str))
        unknown = [f for f in run.failures if not f["known_defect"]]
        print(json.dumps({"correct": not unknown, "attempted": run.attempted,
                          "failed": len(run.failures), "metrics": metrics}))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def build_report(args, env, run, res) -> dict:
    setup_s = statistics.median(res["setup_times"]) + res.get("warmup_s", 0.0)
    e2e = dict(res["e2e"], setup_s=setup_s)
    metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    info = dict(res["info"], failed_frac=len(run.failures) / max(1, run.attempted))
    named = {}
    for k, v in info.items():
        if isinstance(v, dict):
            named[k] = dict(v, unit=INFO_UNITS[k])
        else:
            named[k] = {"value": v, "unit": INFO_UNITS[k]}
    named["setup_s"] = {"value": setup_s, "unit": "s",
                        "each": res["setup_times"],
                        "warmup_s": res.get("warmup_s", 0.0)}
    return {"env": env, "metrics": metrics,
            "report": {"workload": args.workload, "metrics": named},
            "descriptors": res["descriptors"], "failures": run.failures,
            "op_seconds": run.op_seconds}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


PER_LAYER_UNITS = {
    "analysis.invert_s": "s", "analysis.postings_per_s": "1/s",
    "build.plan_ms": "ms", "build.save_s": "s", "build.jobs": "count",
    "build.stages": "count", "build.tasks": "count", "build.task_run_s": "s",
    "build.core_busy_frac": "ratio", "build.shuffle_write_mb": "MB",
    "build.spill_mb": "MB", "spark.jvm_gc_s": "s",
    "index.postings_mb": "MB", "index.docmeta_mb": "MB",
    "index.term_stats_mb": "MB", "index.blocks_mb": "MB",
    "load.ms": "ms", "parser.parse_ms": "ms",
    "search.construct_ms": "ms", "search.construct_jobs": "count",
    "search.plan_ms": "ms", "search.execute_ms": "ms",
    "search.jobs_per_query": "count", "search.tasks_per_query": "count",
    "search.rows_scanned_per_query": "count",
    "search.shuffle_kb_per_query": "KB", "search.exchanges_per_plan": "count",
    "search.fresh_p50_ms": "ms", "search.repeat_p50_ms": "ms",
    "search.repeat_frac": "ratio",
    "append.jobs": "count", "append.tasks": "count",
    "append.core_busy_frac": "ratio",
    "segments.open_ms": "ms", "segments.count": "count",
    "mutate.live_view_ms": "ms", "mutate.update_s": "s",
    "mutate.tombstones": "count", "segments.merge_rewritten_mb": "MB",
    "ingest.write_amp": "ratio", "trace.overhead_frac": "ratio",
    "trace.jobs_by_group": "count", "trace.jobs_by_window": "count",
    "trace.jobs_unattributed": "count",
}


def per_layer_units() -> dict:
    """Every per-layer metric name -> unit."""
    import tracing as tr
    from queries import SHAPES

    units = dict(PER_LAYER_UNITS)
    units.update({f"search.shape.{s}_p50_ms": "ms" for s in SHAPES})
    units.update({f"self_s.{layer}": "s" for layer in tr.LAYERS})
    return units


def per_layer(run, res, tracer, log, probe, cores) -> dict:
    """Every per-layer metric; a layer the workload never calls reads 0."""
    import tracing as tr
    import workloads as wl
    from queries import SHAPES

    spans = [s for s in tracer.spans if s["end"] is not None]
    tr.self_times(spans)
    counts = tr.attribute(spans, log)

    def kind(s):
        return (s["op"] or "").rsplit("-", 1)[0]

    def named(name, kinds=None):
        return [s for s in spans if s["name"] == name
                and (kinds is None or kind(s) in kinds)]

    def dur(ss):
        return [s["end"] - s["start"] for s in ss]

    m = {k: 0.0 for k in per_layer_units()}
    writes = ("build", "setup", "append", "update")
    builds, saves = named("build_index", writes), named("save_index", writes)
    if saves:
        incl = [s["incl"] for s in builds + saves]
        wall = sum(dur(builds + saves))
        n = len(saves)
        m.update({
            "build.plan_ms": wl.p50(dur(builds)) * 1e3,
            "build.save_s": wl.p50(dur(saves)),
            "build.jobs": sum(i["jobs"] for i in incl) / n,
            "build.stages": sum(i["stages"] for i in incl) / n,
            "build.tasks": sum(i["tasks"] for i in incl) / n,
            "build.task_run_s": sum(i["task_run_s"] for i in incl) / n,
            "build.core_busy_frac": sum(i["task_run_s"] for i in incl) / (wall * cores),
            "build.shuffle_write_mb": sum(i["shuffle_write_b"] for i in incl) / n / 1e6,
            "build.spill_mb": sum(i["spill_b"] for i in incl) / n / 1e6,
        })
    m["spark.jvm_gc_s"] = log["gc_s"]
    path = res["index_paths"][-1]
    for t in ("postings", "docmeta", "term_stats", "blocks"):
        m[f"index.{t}_mb"] = sum(
            wl.dir_bytes(os.path.join(d, t)) for d in _index_dirs(path)) / 1e6
    if probe:
        m["analysis.invert_s"] = probe[0]
        m["analysis.postings_per_s"] = probe[1] / probe[0]
    m["load.ms"] = wl.p50(dur(named("load_index"))) * 1e3
    m["parser.parse_ms"] = wl.p50(dur(named("QueryParser.parse", ("search",)))) * 1e3

    ops = [s for s in spans if s["parent"] is None and kind(s) == "search"]
    if ops:
        cons = named("Searcher.search", ("search",))
        m.update({
            "search.construct_ms": wl.p50(dur(cons)) * 1e3,
            "search.construct_jobs": _mean([s["incl"]["jobs"] for s in cons]),
            "search.plan_ms": wl.p50(dur(named("plan", ("search",)))) * 1e3,
            "search.execute_ms": wl.p50(dur(named("execute", ("search",)))) * 1e3,
            "search.jobs_per_query": _mean([s["incl"]["jobs"] for s in ops]),
            "search.tasks_per_query": _mean([s["incl"]["tasks"] for s in ops]),
            "search.rows_scanned_per_query": _mean([s["incl"]["scan_rows"] for s in ops]),
            "search.shuffle_kb_per_query": _mean(
                [s["incl"]["shuffle_write_b"] for s in ops]) / 1e3,
        })
    results = res.get("search_results", [])
    for shape in SHAPES:
        m[f"search.shape.{shape}_p50_ms"] = wl.p50(
            [r[2] for r in results if r[0][0] == shape]) * 1e3
    if results:
        m.update({
            "search.fresh_p50_ms": wl.p50([r[2] for r in results if not r[1]]) * 1e3,
            "search.repeat_p50_ms": wl.p50([r[2] for r in results if r[1]]) * 1e3,
            "search.repeat_frac": _mean([float(r[1]) for r in results]),
        })
    m["search.exchanges_per_plan"] = _mean(run.plan_exchanges)
    appends = named("append_batch")
    if appends:
        incl = [s["incl"] for s in appends]
        m.update({
            "append.jobs": _mean([i["jobs"] for i in incl]),
            "append.tasks": _mean([i["tasks"] for i in incl]),
            "append.core_busy_frac": sum(i["task_run_s"] for i in incl)
            / (sum(dur(appends)) * cores),
        })
    m["segments.open_ms"] = wl.p50(dur(named("open_partitioned"))) * 1e3
    views = named("live_view")
    if views:
        opened = {s["parent"]: s["end"] - s["start"] for s in named("open_partitioned")}
        m["mutate.live_view_ms"] = _mean(
            [s["end"] - s["start"] - opened.get(s["id"], 0.0) for s in views]) * 1e3
    m["mutate.update_s"] = wl.p50(dur(named("update_documents")))
    for k in ("segments.count", "mutate.tombstones", "segments.merge_rewritten_mb",
              "ingest.write_amp"):
        m[k] = res.get("layer", {}).get(k, 0.0)
    m["trace.overhead_frac"] = tracer.own_s / res["loop_s"]
    m["trace.jobs_by_group"] = counts["by_group"]
    m["trace.jobs_by_window"] = counts["by_window"]
    m["trace.jobs_unattributed"] = counts["unattributed"]
    for layer in tr.LAYERS:
        m[f"self_s.{layer}"] = sum(s["self_s"] for s in spans if s["layer"] == layer)
    return {k: {"value": m[k], "unit": u} for k, u in per_layer_units().items()}


def _index_dirs(path: str):
    """An index directory, or every segment of a multi-segment root."""
    segs = sorted(os.path.join(path, d) for d in os.listdir(path)
                  if d.startswith("segment_"))
    return segs or [path]


if __name__ == "__main__":
    sys.exit(main())
