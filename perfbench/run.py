"""spark-graft benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload ivm_live --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads (see perfbench/README.md):
``ivm_live`` and ``query_headline``. Inputs are
generated from ``--seed`` under ``perfbench/.work`` (cached); each run
gets a fresh temporary directory there for sink, mirror, checkpoint and
Spark scratch, removed at exit.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the layer spans are recorded and the metrics are
the per-layer ones, including the traced run's own end-to-end values
(``traced.*``), so tracing overhead = traced minus untraced. The line
before it carries run details: sample counts, host noise, errors.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("ivm_live", "query_headline")
DRIVER_MEM_MB = 2048
# A run must end within 180 s; stop (without a result) a little before.
RUN_LIMIT_S = 170


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Units of the end-to-end and per-layer metrics, by name, as
    ``BENCHMARK.json`` declares them: the one list of what a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[key]} for key in ("end_to_end", "per_layer"))


def _isolate(run_dir: str) -> None:
    """Environment for the session and its Python workers: repo on
    PYTHONPATH (executors import the program), all Spark, JVM and temp
    files inside the run directory (``-XX:-UsePerfData``: no
    ``/tmp/hsperfdata``), a driver heap fixed at its maximum (heap
    resizing made run time swing with GC timing), status-store
    retention wide enough to keep every job of a run."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    heap_mb = min(DRIVER_MEM_MB, mem_mb // 4)
    conf = os.path.join(run_dir, "conf")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(conf)
    os.makedirs(tmp)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write(
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_mb}m\n"
            f"spark.sql.warehouse.dir {os.path.join(run_dir, 'warehouse')}\n"
            "spark.ui.retainedJobs 100000\n"
            "spark.ui.retainedStages 100000\n"
        )
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_CONF_DIR=conf,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
    )
    sys.path.insert(0, ROOT)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _host_noise(before: list[int], after: list[int]) -> dict:
    """CPU steal and iowait over the timed region, as % of all CPU
    time, with the load average and CPU count."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return {
        "host.steal_pct": 100.0 * d[7] / total,
        "host.iowait_pct": 100.0 * d[4] / total,
        "host.loadavg_1m": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
    }


def _peak_mem_mb(spark, live_heap: int) -> float:
    """Driver memory the program holds: the driver JVM's largest live
    heap (heap in use after a full GC, sampled by the workload) plus
    its non-heap memory in use, plus this process's high-water resident
    set. The JVM's own resident set is not used: its heap is committed
    at the ``-Xmx`` size from the start, so it would read the setting."""
    jvm = spark._jvm
    non_heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getNonHeapMemoryUsage().getUsed()
    python = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
    return (live_heap + non_heap + python) / 2**20


def _percentile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def measure(args, run_id: str, run_dir: str, inputs: str) -> tuple[dict, dict]:
    """Run the workload in a fresh session; return (detail, result)."""
    import spans as sp

    if args.workload == "query_headline":
        from query import run_query as workload
    else:
        from ivm import run_live as workload
    from actyxos_data_flow_spark.session import get_spark

    e2e_units, layer_units = _metric_units()
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t
    try:
        tracer = sp.Tracer(spark, run_id) if args.trace else None
        progress = sp.install_program_spans(tracer, spark) if tracer else None
        store = sp.StatusStore(spark)
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        cpu0 = _cpu_times()
        out = workload(spark, args.seed, args.seconds, work, inputs, tracer)
        noise = _host_noise(cpu0, _cpu_times())
        jobs, stages = store.jobs(), store.stages()
        run_counters = sp.counters(sp.jobs_between(jobs, *out["window"]), stages)
        lat = sorted(out["latencies"])
        e2e = {
            "setup_s": session_s + out["setup_s"],
            "peak_rss_mb": _peak_mem_mb(spark, out["live_heap_bytes"]),
            "executor_cpu_s": run_counters["executor_cpu_s"] / (out["work_units"] or 1),
            "latency_geomean_s": statistics.geometric_mean(lat) if lat else None,
            "throughput_per_s": out["throughput"],
        }
        if tracer:
            tracer.unwrap_all()
            tracer.attribute(jobs, stages)
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-s{args.seed}-{run_id}.jsonl"))
            metrics = sp.layer_metrics(layer_units, tracer.spans, out, progress, run_counters, noise)
            metrics.update({f"traced.{k}": v for k, v in e2e.items()})
            units = layer_units
        else:
            metrics, units = e2e, e2e_units
    finally:
        _stop(spark)
    if set(metrics) != set(units):
        raise RuntimeError(f"reported metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    attempted, failed = int(out["attempted"]), int(out["failed"])
    if not lat:  # every op failed: no latency to report
        attempted = max(attempted, 1)
        failed = attempted
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "samples": len(lat),
        **(
            {
                "latency_p50_s": statistics.median(lat),
                "latency_p90_s": _percentile(lat, 90),
                "latency_p99_s": _percentile(lat, 99),
            }
            if lat
            else {}
        ),
        "live_heap_mb": out["live_heap_bytes"] / 2**20,
        "session_start_s": session_s,
        "spark": run_counters,
        **noise,
        **out["detail"],
    }
    if out["errors"]:
        detail["errors"] = out["errors"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items() if v is not None},
    }
    return detail, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(RUN_LIMIT_S)

    run_id = uuid.uuid4().hex[:12]
    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)  # leftovers of a killed run
    run_dir = os.path.join(runs, run_id)
    inputs = os.path.join(WORK, "inputs")
    os.makedirs(inputs, exist_ok=True)
    try:
        _isolate(run_dir)
        detail, result = measure(args, run_id, run_dir, inputs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    signal.alarm(0)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
