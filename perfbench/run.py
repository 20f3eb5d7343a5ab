"""Benchmark of the structa_spark library, run from a checkout root.

    python3 perfbench/run.py --workload profile_table --seed 1 \\
        --seconds 10 --trace 0

One process, one ``local[<cores>]`` Spark session sized to the machine.
A run:

1. sets up three times and reports the median (``setup_s``): start a
   session (the first time also launches the JVM), generate the seeded
   inputs, warm up;
2. repeats the workload's operation until ``--seconds`` have passed
   and the workload's minimum number of operations ran, untraced;
3. with ``--trace 1``, runs one more untraced operation and then one
   traced operation, and reports the per-layer metrics of the traced
   one and its overhead against the untraced one;
4. checks every operation's outputs.

The last line of standard output is one JSON object (``correct``,
``attempted``, ``failed``, ``metrics``). The full record of the run
(environment, inputs, every sample, check messages, trace spans) is
written to ``perfbench/_out/``. Generated inputs and Spark's scratch
files live under ``perfbench/_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory_mb() -> int:
    # a quarter of the machine, at most 4 GiB: the inputs are small and
    # the machine may be shared
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal"))
                       .split()[1])
    return max(1024, min(4096, total_kb // 4096))


def session_conf(work: str) -> dict:
    cores = _cores()
    mem = _driver_memory_mb()
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "structa-perfbench",
        "spark.driver.memory": f"{mem}m",
        # a fixed-size heap: with a growing one, peak RSS follows the
        # collector's resizing decisions more than the workload. No
        # perf-data file, which the JVM would write under /tmp.
        "spark.driver.extraJavaOptions":
            f"-Xms{mem}m -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the traced pass reads every job and stage of one operation
        # back from the status store, and scanned file names from plan
        # strings that would otherwise be cut at 100 characters
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.maxMetadataStringLength": "4096",
    }


def start_session(work: str):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in session_conf(work).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_jvm() -> None:
    """Stop the session, close the gateway and wait for the JVM (and
    with it Spark's Python workers) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    proc = jvm_process()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def peak_rss_mb() -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    proc = jvm_process()
    jvm_kb = 0
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            jvm_kb = int(next(ln for ln in f if ln.startswith("VmHWM"))
                         .split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def environment(spark) -> dict:
    import pyspark

    jvm = spark._jvm
    return {
        "nproc": os.cpu_count(), "cores_used": _cores(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get(
            "spark.driver.memory"),
        "conf": dict(sorted(spark.sparkContext.getConf().getAll())),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__, "spark": spark.version,
        "python": platform.python_version(),
        "loadavg_at_end": os.getloadavg(),
    }


# ---------------------------------------------------------------------------
# run
# ---------------------------------------------------------------------------

def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def setup(wl, work: str, seed: int, t_start: float):
    """Set up SETUP_REPS times; return (spark, inputs, samples). The
    first sample counts from process start (imports, JVM launch)."""
    samples = []
    spark = inputs = None
    for rep in range(SETUP_REPS):
        rep_dir = os.path.join(work, f"inputs{rep}")
        if spark is not None:
            spark.stop()
            shutil.rmtree(os.path.join(work, f"inputs{rep - 1}"))
        t0 = t_start if rep == 0 else time.perf_counter()
        spark = start_session(work)
        inputs = wl.generate(rep_dir, seed)
        wl.warm_up(spark, inputs)
        samples.append(time.perf_counter() - t0)
    return spark, inputs, samples


def run_ops(wl, spark, inputs, seconds: float):
    """Untraced operations until ``seconds`` passed and ``min_ops``
    ran. Returns (walls, results, errors) with one entry per op."""
    from workloads import no_span

    walls, results, errors = [], [], []
    t_start = time.perf_counter()
    while True:
        try:
            wall, r = _timed(wl.op, spark, inputs, no_span)
            walls.append(wall)
            results.append(r)
        except Exception:
            errors.append(traceback.format_exc())
            print(errors[-1], file=sys.stderr)
        ops = len(walls) + len(errors)
        if time.perf_counter() - t_start >= seconds and ops >= wl.min_ops:
            return walls, results, errors


def traced_op(wl, spark, inputs):
    """The op traced, then once more untraced as the reference for the
    tracing overhead."""
    from spans import Tracer
    from workloads import no_span

    tracer = Tracer(spark)
    with tracer.span("op") as root:
        traced = wl.op(spark, inputs, tracer.span)
    traced_wall = root["t1"] - root["t0"]
    collected = tracer.collect()
    ref_wall, ref = _timed(wl.op, spark, inputs, no_span)
    return ref_wall, ref, traced_wall, traced, collected


def layer_metrics(names, inputs, collected, traced_wall, ref_wall,
                  cores) -> dict:
    """The per-layer metrics ``names`` of one traced op. ``<layer>.<key>``
    is the span counter ``key`` summed over the layer's calls; the
    ratios and whole-op counts are built below."""
    totals = {}
    for s in collected["spans"]:
        t = totals.setdefault(s["name"], {})
        for k, v in s.items():
            if k not in ("id", "parent", "start_s", "job_ids",
                         "scan_rows", "name"):
                t[k] = t.get(k, 0) + v

    def get(name, key):
        return totals.get(name, {}).get(key, 0)

    def util(name):
        s = get(name, "s")
        return get(name, "executor_run_s") / (s * cores) if s else 0.0

    values = {}
    for metric in names:
        layer, key = metric.rsplit(".", 1)
        values[metric] = get(layer, key)
    rows = inputs["rows"]
    source = os.path.basename(inputs["path"])

    def scanned(prefix, kinds):
        return sum(s["scan_rows"].get(f"{k}:{source}", 0) / rows
                   for s in collected["spans"] if s["name"].startswith(prefix)
                   for k in kinds)

    # passes over the input, from the file or from a cache of it
    values["analyzer.analyze.scans"] = scanned("analyzer.analyze",
                                               ("file", "cache"))
    values["analyzer.analyze.core_util"] = util("analyzer.analyze")
    values["operators.action.core_util"] = util("operators.action")
    values["operators.rereads"] = scanned("operators.", ("file",))
    from structa_spark import registered_cells
    values["operators._cache.cells_held"] = sum(registered_cells().values())
    values["trace.overhead_frac"] = traced_wall / ref_wall - 1.0
    values["trace.unattributed_jobs"] = collected["unattributed_jobs"]
    return values


def run(wl, spec, args, work: str, t_start: float) -> dict:
    """One benchmark run; returns the artifact record, whose "result"
    is the line the benchmark prints."""
    spark, inputs, setup_samples = setup(wl, work, args.seed, t_start)
    walls, results, errors = run_ops(wl, spark, inputs, args.seconds)
    record = {"workload": wl.name, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "inputs": {k: inputs[k] for k in ("rows", "bytes", "files")},
              "setup_samples_s": setup_samples, "op_walls_s": walls,
              "errors": errors}
    checked = list(results)
    layer = None
    if args.trace:
        try:
            ref_wall, ref, traced_wall, traced, collected = traced_op(
                wl, spark, inputs)
            checked += [ref, traced]
            record["trace"] = collected
            record["reference_wall_s"] = ref_wall
            record["traced_wall_s"] = traced_wall
            layer = layer_metrics([m["name"] for m in spec["per_layer"]],
                                  inputs, collected, traced_wall, ref_wall,
                                  _cores())
        except Exception:
            errors.append(traceback.format_exc())
            print(errors[-1], file=sys.stderr)
    fails = wl.check(inputs, checked) if checked else {}
    record["check_failures"] = fails
    record["environment"] = environment(spark)
    rss = peak_rss_mb()
    attempted = len(checked) + len(errors)
    failed = len(errors) + len(fails)
    # with every op failed there is no time; report zeros, correct=false
    wall = statistics.median(walls) if walls else 0.0
    per_s = 1.0 / wall if wall else 0.0
    if args.trace:
        values, kind = layer or {}, "per_layer"
    else:
        values, kind = {
            "setup_s": statistics.median(setup_samples),
            "wall_s": wall,
            "rows_per_s": inputs["rows"] * per_s,
            "mb_per_s": inputs["bytes"] / 1e6 * per_s,
            "peak_rss_mb": rss,
        }, "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec[kind]} if values else {}
    record["failed_frac"] = failed / attempted if attempted else 1.0
    record["result"] = {
        "correct": failed == 0 and bool(walls) and (
            not args.trace or layer is not None),
        "attempted": max(attempted, 1), "failed": failed,
        "metrics": metrics}
    return record


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "structa_spark")):
        print(f"error: no structa_spark package under {ROOT}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(HERE, "_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        record = run(wl, spec, args, work, t_start)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-"
                           f"trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
