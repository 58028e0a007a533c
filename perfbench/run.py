"""Benchmark runner: runs one workload of BENCHMARK.json and prints its
metrics.

    python3 perfbench/run.py --workload query_basket --seed 1 --seconds 5 --trace 0

Run from the repository root.  The launcher pins the host settings before
the package is imported: ``SPARK_GRAFT_CPUS`` to half the CPU affinity
count (what ``nproc`` prints), ``SPARK_DRIVER_MEMORY`` well below host RAM, and
``SPARK_LOCAL_DIRS``, the JVM temp dir and every generated file under
``.perfbench/`` in the current directory, which the run deletes again.

A run: generate the seeded inputs; start the session, load the
workload's initial state and run its discarded warm-up cycles (together
``setup_s``); time whole
cycles for about ``--seconds`` of cycle time, and at least the workload's
minimum count of them; then read bench.py's
frozen host-speed sentinel once.  Outputs are checked outside the timed
spans.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` prints the
per-layer metrics: it does the untraced run (timer metrics), then restarts
the SparkContext in the same JVM with Spark's event log on, runs the timed
cycles again, and folds the log's job and task events into the spans
recorded around each call; it runs the workload's minimum count of
cycles.  ``trace.overhead_frac`` compares the traced
and untraced cycle medians; it includes what the context restart costs
the first traced cycle.

The last stdout line is the result object; the line before it holds the
run's details (host settings, versions, per-cycle times, sample counts).
Exit status is 0 when every output check passed, 1 when one failed and 2
when the run could not start (for example outside a repository checkout).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEMORY = "2g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_host(work: str) -> dict:
    # Spark gets half the CPUs: the other half keeps the driver JVM's JIT
    # and GC threads and the Python client off the task threads' cores.
    # On a shared 4-vCPU host, local[4] made pass times swing by 1.6x
    # within a run; local[2] kept them within 1.2x and was faster.
    host_cpus = len(os.sched_getaffinity(0))
    cpus = max(1, host_cpus // 2)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.enabled=false pyspark-shell"
    )
    return {"host_cpus": host_cpus, "cpus": cpus, "driver_memory": DRIVER_MEMORY}


def _enable_event_log(log_dir: str):
    """Turn Spark's event log on for the next SparkContext of this JVM.
    SparkConf reads ``spark.*`` JVM system properties, so this is launch
    configuration, never a setting inside the package."""
    from pyspark import SparkContext

    os.makedirs(log_dir, exist_ok=True)
    system = SparkContext._jvm.java.lang.System
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.dir", "file://" + log_dir)
    system.setProperty("spark.eventLog.compress", "false")
    system.setProperty("spark.eventLog.rolling.enabled", "false")


def _one_cycle(wl, spark, rec, c: int, full_check: bool) -> float:
    """Run cycle ``c`` and its output check; returns the check's seconds."""
    wl.cycle(spark, rec, c)
    t = time.perf_counter()
    wl.check(spark, rec, c, full=full_check)
    return time.perf_counter() - t


def _run_cycles(wl, spark, rec, first: int, seconds: float) -> list[int]:
    """Run fully checked cycles from ``first``: at least
    ``wl.min_timed_cycles``, then more while at least half a mean cycle of
    the ``seconds`` is left, so whole cycles fill ``seconds`` as closely as
    they can.  Returns the cycle numbers."""
    cycles, spent = [], 0.0
    while (len(cycles) < wl.min_timed_cycles
           or seconds - spent >= 0.5 * spent / len(cycles)):
        c = first + len(cycles)
        _one_cycle(wl, spark, rec, c, True)
        spent += rec.of_kind("cycle", [c])[0].wall_s
        cycles.append(c)
    return cycles


def _stop_jvm():
    """Close the JVM that PySpark launched and wait until it has exited;
    left alone it outlives this process until it notices its stdin is
    closed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _op_walls(rec, cycles) -> dict[str, list[float]]:
    """Wall seconds of each call in ``cycles``, by call name."""
    out: dict[str, list[float]] = {}
    for s in rec.spans:
        if s.kind != "cycle" and s.cycle in cycles:
            out.setdefault(s.name, []).append(round(s.wall_s, 3))
    return out


def _start_session():
    from zeta_etl_spark.session import get_spark

    spark = get_spark(app_name="zeta-etl-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _traced_metrics(log_dir: str, rec, cycles) -> tuple[dict, dict]:
    """Per-layer metrics from the event log, folded into the spans of the
    traced cycles, and the queries whose job count varied between passes."""
    from harness import fold_events, median, read_event_log

    logs = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    events = read_event_log(os.path.join(log_dir, logs[0]))
    cyc = rec.of_kind("cycle", cycles)
    per_cycle = fold_events(events, cyc)
    out = {}
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
              "spark.job_s", "executor.run_s", "executor.cpu_s", "executor.gc_s",
              "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes",
              "scan.input_bytes"):
        out[k] = median([per_cycle[id(s)][k] for s in cyc])
    jobs_all = [per_cycle[id(s)]["spark.jobs"] for s in cyc]
    out["spark.jobs.spread"] = float(max(jobs_all) - min(jobs_all))

    ops = [s for s in rec.spans if s.kind != "cycle" and s.cycle in cycles]
    per_op = fold_events(events, ops)

    def jobs_of(kind, per_call=False):
        spans = [s for s in ops if s.kind == kind and s.cycle in cycles]
        total = sum(per_op[id(s)]["spark.jobs"] for s in spans)
        return total / max(1, len(spans) if per_call else len(cycles))

    out["streaming.runner.ingest_jobs"] = jobs_of("streaming.runner.ingest")
    out["pipelines.serving_path.miss_jobs"] = jobs_of("request.miss", per_call=True)
    out["pipelines.serving_path.hit_jobs"] = jobs_of("request.hit", per_call=True)
    out["plans.graph.run_jobs"] = jobs_of("plans.graph.run")

    # job counts per query across traced passes: a count that differs
    # between identical passes is reported by name, not trusted as exact
    by_name: dict[str, set] = {}
    for s in ops:
        if s.kind.startswith("query"):
            by_name.setdefault(s.name, set()).add(per_op[id(s)]["spark.jobs"])
    return out, {n: sorted(v) for n, v in by_name.items() if len(v) > 1}


def run(args, work: str, host: dict, spec: dict) -> tuple[dict, dict, bool]:
    t_run = time.perf_counter()
    import bench
    from harness import Recorder, RssSampler, trimmed_mean
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed)
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    rec = Recorder()
    detail: dict = {"workload": args.workload, "seed": args.seed, **host}
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = _start_session()
        wl.start(spark)
        wl.load(spark, rec)
        warm = list(range(wl.warmup_cycles))
        check_s = sum(_one_cycle(wl, spark, rec, c, False) for c in warm)
        setup_s = (time.perf_counter() - t0 - check_s
                   - sum(wl.untimed_s.get(c, 0.0) for c in [-1, *warm]))

        timed = _run_cycles(wl, spark, rec, wl.warmup_cycles, args.seconds)
        # after the timed cycles: the sentinel's 20M-row shuffle would
        # otherwise sit in the heap the timed cycles run in
        t = time.perf_counter()
        bench._sentinel(spark)
        sentinel_s = time.perf_counter() - t
        cycle_s = wl.cycle_seconds(rec, timed)
        batch_s = wl.batch_seconds(rec, timed)
        detail.update({
            "spark": spark.version,
            "python": sys.version.split()[0],
            "sentinel_s": round(sentinel_s, 4),
            "warmup_cycle_s": [round(x, 3) for x in wl.cycle_seconds(rec, warm)],
            "cycle_s": [round(x, 3) for x in cycle_s],
            "batch_s": [round(x, 3) for x in batch_s],
            "read_calls": len(wl.reads(rec, timed)),
            "op_s": _op_walls(rec, timed),
            "prepare_s": round(prepare_s, 3),
        })
        metrics = {
            "setup_s": setup_s,
            "cycle_s": wl.typical_cycle(rec, timed),
            "batch_s": trimmed_mean(batch_s),
            "dashboard_s": wl.dashboard_seconds(rec, timed),
        }
        if args.trace:
            layer = {k: 0.0 for k in spec_names(spec, "per_layer")}
            layer.update(wl.layer_metrics(rec, timed))
            layer["host.sentinel_s"] = sentinel_s
            spark.stop()
            log_dir = os.path.join(work, "eventlog")
            _enable_event_log(log_dir)
            spark = _start_session()
            wl.start(spark)
            # the workload's minimum count of cycles only: the per-layer
            # metrics have no bound, and a traced run must fit the budget
            traced = _run_cycles(wl, spark, rec, timed[-1] + 1, 0.0)
            spark.stop()
            traced_layer, varying = _traced_metrics(log_dir, rec, traced)
            layer.update(traced_layer)
            layer["trace.overhead_frac"] = (
                wl.typical_cycle(rec, traced) / metrics["cycle_s"] - 1.0)
            detail["traced_cycle_s"] = [
                round(x, 3) for x in wl.cycle_seconds(rec, traced)]
            detail["varying_job_counts"] = varying
            metrics = layer
        else:
            spark.stop()
    metrics["process.peak_rss_mb"] = rss.peak_mb
    detail["peak_rss_mb"] = round(rss.peak_mb, 1)
    detail.update(wl.detail)
    detail["notes"] = wl.notes[:20]
    detail["wall_s"] = round(time.perf_counter() - t_run, 3)
    ok = wl.failed == 0 and all(math.isfinite(v) for v in metrics.values())
    result = {
        "correct": ok,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": metrics[k], "unit": unit}
                    for k, unit in spec_units(spec, "per_layer" if args.trace
                                              else "end_to_end").items()},
    }
    return result, detail, ok


def spec_names(spec: dict, section: str) -> list[str]:
    return [m["name"] for m in spec[section]]


def spec_units(spec: dict, section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec[section]}


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(root, "bench.py"))
            and os.path.isdir(os.path.join(root, "zeta_etl_spark"))
            and os.path.isfile(spec_path)):
        print("perfbench: run from a repository checkout (bench.py, "
              "zeta_etl_spark/ and BENCHMARK.json not found here)", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        host = _pin_host(work)
        sys.path[:0] = [root, HERE]
        result, detail, ok = run(args, work, host, spec)
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
