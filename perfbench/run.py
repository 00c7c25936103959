#!/usr/bin/env python3
"""Layered benchmark of the extraction engine. See README.md in this
directory for the workloads, the metrics and why each exists.

    python3 perfbench/run.py --workload job_write --seed 1 --seconds 16
                             --trace 0

Run from the repository root. Each run is one fresh process holding one
local[4] Spark session; its passes, as many as fill about --seconds, run
back to back (closed loop, one client). The last line of stdout is the
result JSON; with --trace 0 it holds the end-to-end metrics, with --trace 1
the per-layer ones. Logs, the run context and (traced) the spans and Spark
event log go to perfbench/_out/; inputs and Spark scratch space live under
perfbench/_work/ and are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

from workloads import KINDS, WORKLOADS, Curation  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
MIN_PASSES = 3

END_TO_END = {
    "pass_wall_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "setup.session_s": "s", "setup.warmup_s": "s",
    "trace.pass_wall_s": "s",
    "kernels.detect.us_per_turn": "us",
    **{f"kernels.{k}.{m}": u for k in KINDS
       for m, u in (("turns", "count"), ("bytes", "bytes"),
                    ("us_per_turn", "us"))},
    "extract_stage.us_per_turn": "us",
    "extract_stage.handback_us_per_turn": "us",
    "spark.scan.s": "s", "spark.scan.bytes": "bytes",
    "spark.salt_shuffle.write_bytes": "bytes",
    "spark.salt_shuffle.write_s": "s",
    "spark.salt_shuffle.read_bytes": "bytes",
    "spark.python.s": "s", "spark.python.cpu_s": "s",
    "spark.python.bytes_sent": "bytes",
    "spark.python.bytes_received": "bytes",
    "spark.python.tasks": "count", "spark.python.task_skew": "ratio",
    "spark.other.s": "s", "spark.gc_s": "s",
    "spark.stage_busy_share": "ratio", "spark.driver_s": "s",
    "spark.write.s": "s", "spark.write.bytes": "bytes",
    "spark.write.files": "count", "spark.manifest.s": "s",
    **{f"query.{q}.{m}": u for q in Curation.PANEL
       for m, u in (("s", "s"), ("jobs", "count"),
                    ("shuffle_bytes", "bytes"))},
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _isolate(work_dir: str) -> dict:
    """Keep every file the run writes inside the checkout and point the
    Python workers at the working tree's ocr_spark (never a packaged zip).
    Returns the Spark conf the benchmark's sessions add."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM, spark-submit's launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    sys.path.insert(0, ROOT)
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # bench.py's collector for extraction runs; the heap size is
        # build_session's default and grows with demand
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    }


def _import_kernels(batches):
    """Warm-up task body: import the kernel modules in a Python worker."""
    from ocr_spark.kernels import parsers, pdftext, readability  # noqa: F401
    yield from batches


def set_up(conf: dict):
    """Import the program, build the session, warm it up (a first JVM job
    that spawns one Python worker per core and imports the kernels there).
    Returns (spark, session_s, warmup_s)."""
    t0 = time.perf_counter()
    from ocr_spark.pipeline.session import build_session
    spark = build_session(app_name="perfbench", cores=CORES, extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(0, CORES, 1, CORES).mapInPandas(
        _import_kernels, "id long").count()
    return spark, t1 - t0, time.perf_counter() - t1


def _shut_down(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def canary_s() -> float:
    """Fixed pure-Python work, median of three: machine speed context."""
    def work():
        t0 = time.perf_counter()
        sum(i * i % 7 for i in range(300_000))
        return time.perf_counter() - t0
    return statistics.median(work() for _ in range(3))


def context(args, loadavg) -> dict:
    """Run context recorded beside the result; not gated."""
    import pyarrow
    import pyspark
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": loadavg,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "canary_s": canary_s(),
        "local_cores": CORES,
        "reference_parity": {
            "status": "skipped",
            "reason": "golden parity reads the reference uploads "
                      "(bench.py UPLOADS), which lie outside the "
                      "benchmark's checkout"},
    }


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def measure(args, out_dir: str, work_dir: str) -> dict:
    from tracing import (EVENT_LOG_CONF, EventLog, RssSampler, Tracer,
                         cpu_s, find_event_log, process_tree)
    loadavg = os.getloadavg()
    tracer = Tracer(bool(args.trace))
    conf = _isolate(work_dir)
    event_dir = os.path.join(out_dir, "eventlog")
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(EVENT_LOG_CONF, **{"spark.eventLog.dir":
                                       "file://" + event_dir})

    with tracer.span("setup"):
        spark, session_s, warmup_s = set_up(conf)
    setup_s = time.perf_counter() - T_START
    log(f"set-up {setup_s:.3f}s (session {session_s:.3f}s, "
        f"warm-up {warmup_s:.3f}s)")
    ctx = context(args, loadavg)
    log(f"context {json.dumps(ctx)}")

    workload = WORKLOADS[args.workload](work_dir, args.seed, tracer)
    attempted = failed = 0
    failures: list[str] = []

    def record(op_failures):
        nonlocal attempted, failed
        attempted += 1
        if op_failures:
            failed += 1
            failures.extend(op_failures)
            log(f"FAILED: {op_failures}")

    t0 = time.perf_counter()
    with tracer.span("prepare"):
        info = workload.prepare(spark)
    log(f"generated {info} in {time.perf_counter() - t0:.2f}s")

    t0 = time.perf_counter()
    with tracer.span("check_pass"):
        try:
            record(workload.check_pass(spark))
        except Exception:
            record([traceback.format_exc()])
    log(f"check pass {time.perf_counter() - t0:.2f}s")

    jvm_pid = spark.sparkContext._gateway.proc.pid
    sampler = RssSampler(jvm_pid)
    # a fixed pass count sized to --seconds: the JIT still warms through
    # these passes, so a count that followed the machine's speed would move
    # the median along the warm-up curve
    n_passes = max(MIN_PASSES, round(args.seconds / workload.PASS_S))
    passes = []
    for i in range(n_passes):
        # start each pass from a collected heap, as a new job does, so no
        # pass pays for its predecessor's garbage
        spark.sparkContext._jvm.System.gc()
        pids = process_tree(jvm_pid)
        cpu0, py0 = cpu_s(pids), cpu_s(pids, python_only=True)
        try:
            with tracer.span("pass", index=i) as span, sampler.window():
                res = workload.run_pass(spark, i)
        except Exception:  # the session may be unusable: stop passing
            record([traceback.format_exc()])
            break
        pids = process_tree(jvm_pid)
        res["cpu_s"] = cpu_s(pids) - cpu0
        res["python_cpu_s"] = cpu_s(pids, python_only=True) - py0
        res["span"] = span["id"] if span else None
        record(res["failures"])
        passes.append(res)
    sampler.close()
    walls = [p["wall_s"] for p in passes]
    log(f"{len(passes)} passes, walls {[round(w, 3) for w in walls]}, "
        f"cpu s {[round(p['cpu_s'], 2) for p in passes]}, "
        f"peak RSS MB {[round(p / 2**20) for p in sampler.peaks]}")

    with tracer.span("verify"):
        try:
            record(workload.verify(bool(args.trace)))
        except Exception:
            record([traceback.format_exc()])
    _shut_down(spark)

    pass_wall = _median(walls)
    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update({"setup.session_s": session_s,
                       "setup.warmup_s": warmup_s,
                       "trace.pass_wall_s": pass_wall})
        layers.update(workload.layers)
        layers.update(_spark_layers(
            EventLog(find_event_log(event_dir)), passes, tracer))
        metrics = layers
        units = PER_LAYER
        tracer.write(os.path.join(out_dir, "spans.json"))
    else:
        peaks = [p / 2**20 for p in sampler.peaks]
        metrics = {"pass_wall_s": pass_wall, "setup_s": setup_s,
                   "peak_rss_mb": _median(peaks)}
        units = END_TO_END
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items()}}
    details = {"context": ctx, "input": info, "pass_walls_s": walls,
               "query_walls_s": [p.get("query_walls") for p in passes],
               "pass_cpu_s": [p["cpu_s"] for p in passes],
               "passes": len(passes), "failures": failures,
               "setup_s": [setup_s, session_s, warmup_s],
               "turns_per_s": (info["turns"] / pass_wall
                               if "turns" in info and pass_wall else None),
               "result": result}
    with open(os.path.join(out_dir, "result.json"), "w") as f:
        json.dump(details, f, indent=1)
    return result


def _spark_layers(event_log, passes, tracer) -> dict:
    """Per-pass Spark metrics from the event log, median over passes. A
    curation pass is one job group per query; its queries also get their
    own metrics."""
    from tracing import add_spark_spans, pass_metrics
    values: dict[str, list] = {}

    def add(key, value):
        values.setdefault(key, []).append(value)

    for p in passes:
        for k, v in pass_metrics(event_log, list(p["groups"]),
                                 p["wall_s"]).items():
            add(k, v)
        add("spark.python.cpu_s", p["python_cpu_s"])
        if "spark.write.files" in p:
            add("spark.write.files", p["spark.write.files"])
        for group, parent in p["groups"].items():
            add_spark_spans(tracer, event_log, group,
                            p["span"] if parent is None else parent)
            if "/" in group:  # pass-<i>/<query>
                name = group.split("/", 1)[1]
                wall = p["query_walls"][name]
                m = pass_metrics(event_log, [group], wall)
                add(f"query.{name}.s", wall)
                add(f"query.{name}.jobs", m["spark.jobs"])
                add(f"query.{name}.shuffle_bytes", m["spark.shuffle_bytes"])
    return {k: _median(v) for k, v in values.items() if k in PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "__init__.py")):
        log(f"no ocr_spark package under {ROOT}: run from a full checkout")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(HERE, "_out", tag)
    work_dir = os.path.join(HERE, "_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    try:
        result = measure(args, out_dir, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    for name, m in result["metrics"].items():
        log(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
