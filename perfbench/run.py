"""Benchmark entry point.

    python3 perfbench/run.py --workload weekly_warehouse --seed 1 --seconds 20 --trace 0

Runs one workload in a fresh process on ``local[nproc]``: set-up, one
cold call, then steady calls for ``--seconds`` (at least the workload's
minimum count), each a closed-loop call inside its own
``operator_cache_scope()``. Output checks run after the timed calls.
Prints one line per metric, then as the last line a JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Run context and every metric also go to ``perfbench/.work/results/``.
See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: Input size per scale and workload: listing-universe contracts, corpus documents.
SCALES = {
    "bench": {"weekly_warehouse": 10_000, "curation": 500},
    "smoke": {"weekly_warehouse": 1_000, "curation": 500},
}
SETUP_REPEATS = 3
LAYERS = ("stage", "scd2", "dims", "facts", "quality", "pipeline", "curation") + tuple(
    f"operators.{m}" for m in ("c4", "dedup", "textstats", "repetition", "lm", "sampling")
)
LAYER_FIELDS = {"driver_s": "s", "jobs": "count", "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB"}
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_run_s": "s", "task_cpu_s": "s",
    "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB", "busy_share": "ratio", "cpu_share": "ratio",
}


def host_settings() -> dict:
    """Core count from the CPUs this process may use; a fixed driver heap
    of a quarter of host memory, between 1 and 6 GB."""
    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {"cores": cores, "heap_gb": int(max(1, min(6, mem_gb // 4))), "host_mem_gb": round(mem_gb, 1)}


def start_spark(host: dict, work: str):
    from manifold_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # The launcher JVM that spark-submit starts first: no hsperfdata file either.
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{host['cores']}]",
        shuffle_partitions=host["cores"],
        warehouse_dir=os.path.join(work, "spark-warehouse"),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": f"{host['heap_gb']}g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            # Sample Spark's memory every 100 ms, so that each task's peak
            # reaches the status store when the task ends.
            "spark.executor.metrics.pollingInterval": "100ms",
            # A fixed heap (-Xms = -Xmx) for steadier GC times. No
            # hsperfdata file in /tmp: a run writes only inside its checkout.
            "spark.driver.extraJavaOptions": f"-Xms{host['heap_gb']}g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Peak memory the run held: Spark's on-heap execution and storage
    memory plus the JVM's non-heap memory (peaks of the driver executor's
    memory metrics), plus the Python process's peak RSS. The JVM's own
    RSS is left out: with -Xms = -Xmx it is the configured heap."""
    store = spark.sparkContext._jsc.sc().statusStore()
    peaks = store.executorList(True).apply(0).peakMemoryMetrics()
    jvm_bytes = 0
    if peaks.isDefined():
        jvm_bytes = sum(peaks.get().getMetricValue(k) for k in ("OnHeapUnifiedMemory", "JVMOffHeapMemory"))
    python_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_bytes / 2**20 + python_kb / 1024.0


def timing(values: list[float]) -> dict:
    """Median, count, and the highest percentile with at least ten
    samples above it (none below 11 samples)."""
    out = {"median": statistics.median(values), "n": len(values), "max": max(values)}
    for pct in (99, 90):
        if len(values) * (100 - pct) / 100 >= 10:
            out[f"p{pct}"] = statistics.quantiles(values, n=100)[pct - 1]
            break
    return out


class Runner:
    """One run of one workload; ``--trace 1`` selects the traced run."""

    def __init__(self, args, host: dict, work: str):
        self.args, self.host, self.work = args, host, work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.shares: list[float] = []

    def timed_call(self, workload, tracer=None, traced: bool = False):
        """One workload call in its own cache scope. Returns its wall
        seconds (None if it raised) and, given a tracer, the status-store
        reading of the call's jobs; ``traced`` runs it under the tracer's
        spans. Jobs of ``after_call`` are read and dropped."""
        from manifold_spark.operators.dedup import operator_cache_scope

        self.attempted += 1
        elapsed, reading = None, None
        try:
            with operator_cache_scope():
                start = time.perf_counter()
                if traced:
                    tracer.call("call", workload.call)
                else:
                    workload.call()
                elapsed = time.perf_counter() - start
                if tracer is not None:
                    reading = self.read(tracer)
                workload.after_call()
        except Exception:
            self.failed += 1
            self.problems.append(traceback.format_exc(limit=3))
        if tracer is not None:
            self.read(tracer)
        return elapsed, reading

    def read(self, tracer):
        layers, totals = tracer.read_call()
        charged = sum(v["task_run_s"] for v in layers.values())
        if abs(charged - totals["task_run_s"]) > 1e-6:
            self.problems.append(f"layers were charged {charged} s of {totals['task_run_s']} s task time")
        self.shares.append(totals["attributed_task_share"])
        return layers, totals

    def traced_call(self, workload, tracer) -> dict | None:
        driver, counters = dict(tracer.driver_s), dict(tracer.counters)
        wall, reading = self.timed_call(workload, tracer, traced=True)
        if reading is None:
            return None
        layers, totals = reading
        return {
            "wall": wall,
            "layers": layers,
            "totals": totals,
            "driver_s": {k: v - driver.get(k, 0.0) for k, v in tracer.driver_s.items()},
            "counters": {k: v - counters.get(k, 0.0) for k, v in tracer.counters.items()},
        }

    def run(self, spark, workload) -> dict:
        """The cold call, then steady calls. In the traced run the steady
        calls come in untraced/traced pairs (at least two), and every
        other pair runs its traced call first, so that a workload whose
        calls grow (weekly_warehouse) does not bias the difference of the
        two medians, the tracing overhead."""
        tracer = None
        minimum = workload.min_steady
        if self.args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, workload.default_layer)
            workload.instrument(tracer)
            codegen = tracer.codegen()
            cold = self.traced_call(workload, tracer)
            first = cold and cold["wall"]
            codegen = [a - b for a, b in zip(tracer.codegen(), codegen)]
            tracer.unpatch()
            minimum = 2
        else:
            first, _ = self.timed_call(workload)
        untraced: list[float] = []
        traced: list[dict] = []
        start = time.perf_counter()
        while not self.failed and (time.perf_counter() - start < self.args.seconds or len(untraced) < minimum):
            if tracer is None:
                workload.between_calls()
                untraced.append(self.timed_call(workload)[0])
                continue
            for traced_side in (False, True) if len(untraced) % 2 == 0 else (True, False):
                workload.between_calls()
                if not traced_side:
                    untraced.append(self.timed_call(workload, tracer)[0])
                    continue
                workload.instrument(tracer)
                call = self.traced_call(workload, tracer)
                tracer.unpatch()
                if call is not None:
                    traced.append(call)
        problems = workload.check()
        if problems:
            self.problems.extend(problems)
            self.failed = self.attempted
        result = {"first_call_s": first, "steady_s": untraced}
        if tracer is not None:
            result["traced_s"] = [c["wall"] for c in traced]
            result["layers"] = self.layer_metrics(traced, codegen)
            tracer.write(os.path.join(self.work, "spans.json"), {"cold": cold, "steady": traced})
        return result

    def layer_metrics(self, traced: list[dict], codegen: list[float]) -> dict[str, tuple[float, str]]:
        """Per-layer metrics: the mean over the traced steady calls,
        except codegen, which is the cold call's."""
        n = max(1, len(traced))
        mean = lambda values: sum(values) / n  # noqa: E731
        metrics: dict[str, tuple[float, str]] = {}
        for layer in ("ingest", "clean") + LAYERS:
            fields = LAYER_FIELDS if layer in LAYERS else {"driver_s": "s"}
            for field, unit in fields.items():
                if field == "driver_s":
                    values = [c["driver_s"].get(layer, 0.0) for c in traced]
                else:
                    values = [c["layers"].get(layer, {}).get(field, 0.0) for c in traced]
                metrics[f"{layer}.{field}"] = (mean(values), unit)
        metrics["catalog.files_written"] = (mean([c["counters"].get("catalog.files_written", 0.0) for c in traced]), "count")
        metrics["catalog.bytes_written_mb"] = (mean([c["counters"].get("catalog.bytes_written_mb", 0.0) for c in traced]), "MB")
        for field, unit in SPARK_UNITS.items():
            if field == "busy_share":
                values = [c["totals"]["task_run_s"] / (c["wall"] * self.host["cores"]) for c in traced]
            elif field == "cpu_share":
                values = [c["totals"]["task_cpu_s"] / (c["totals"]["task_run_s"] or 1.0) for c in traced]
            else:
                values = [c["totals"][field] for c in traced]
            metrics[f"spark.{field}"] = (mean(values), unit)
        metrics["codegen.compiles"] = (float(codegen[0]), "count")
        metrics["codegen.compile_s"] = (codegen[1], "s")
        return metrics


def set_up(args, host: dict, work: str):
    """Start the session, then prepare the inputs SETUP_REPEATS times
    (each into its own directory; the last is used). Returns the session,
    the workload and the set-up timings."""
    import workloads

    spark = start_spark(host, work)
    session_start_s = time.perf_counter() - PROCESS_START
    workload = workloads.WORKLOADS[args.workload](spark, args.seed, SCALES[args.scale][args.workload])
    prepare_s = []
    for i in range(SETUP_REPEATS):
        start = time.perf_counter()
        workload.prepare(os.path.join(work, f"inputs-{i}"))
        prepare_s.append(time.perf_counter() - start)
    inputs_s = statistics.median(prepare_s)
    setup = {"session_start_s": session_start_s, "inputs_s": inputs_s, "setup_s": session_start_s + inputs_s}
    return spark, workload, setup


def host_probe_s() -> float:
    """Seconds for a fixed single-threaded Python loop: a reading of host
    speed at the end of the run, to tell host drift from program change."""
    start = time.perf_counter()
    total = 0
    for i in range(5_000_000):
        total += i
    return time.perf_counter() - start


def context(args, host: dict, spark, loadavg_start) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": host["cores"],
        "heap_gb": host["heap_gb"],
        "host_mem_gb": host["host_mem_gb"],
        "loadavg_start": loadavg_start,
        "loadavg_end": list(os.getloadavg()),
        "host_probe_s": host_probe_s(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("weekly_warehouse", "curation"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--scale", choices=tuple(SCALES), default="bench")
    args = parser.parse_args(argv)
    loadavg_start = list(os.getloadavg())

    # The package is imported from the checkout this file sits in; fail
    # before starting anything if it is not there.
    sys.path.insert(0, ROOT)
    import manifold_spark  # noqa: F401

    host = host_settings()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark, workload, setup = set_up(args, host, work)
        runner = Runner(args, host, work)
        result = runner.run(spark, workload)
        ctx = context(args, host, spark, loadavg_start)
        rss = peak_rss_mb(spark)
        extra = workload.extra_metrics() if not runner.failed else {}
    finally:
        if spark is not None:
            stop_spark(spark)
    return report(args, workload, setup, runner, result, ctx, rss, extra, work)


def report(args, workload, setup, runner, result, ctx, rss, extra, work) -> int:
    steady = [s for s in result["steady_s"] if s is not None]
    named = workload.metric_names
    end_to_end = {"setup_s": (setup["setup_s"], "s"), "peak_rss_mb": (rss, "MB")}
    if result["first_call_s"] is not None:
        end_to_end["first_call_s"] = (result["first_call_s"], "s")
    if steady:
        end_to_end["call_s"] = (statistics.median(steady), "s")
    end_to_end = {k: end_to_end[k] for k in ("setup_s", "first_call_s", "call_s", "peak_rss_mb") if k in end_to_end}
    metrics = end_to_end
    if args.trace:
        traced = result["traced_s"]
        overhead = statistics.median(traced) - statistics.median(steady) if traced and steady else 0.0
        metrics = {
            **result["layers"],
            "session.start_s": (setup["session_start_s"], "s"),
            "inputs.generate_s": (setup["inputs_s"], "s"),
            "trace.overhead_s": (overhead, "s"),
            "trace.attributed_task_share": (min(runner.shares, default=0.0), "ratio"),
        }
    correct = runner.failed == 0 and not runner.problems and all(s == 1.0 for s in runner.shares)

    for problem in runner.problems:
        print(f"problem: {problem.strip()}")
    print(f"context {json.dumps(ctx)}")
    for key, (value, unit) in {**end_to_end, **extra}.items():
        print(f"metric {workload.name} {named.get(key, key)} {value:.6g} {unit}")
    print(f"metric {workload.name} fail_ratio {runner.failed / max(1, runner.attempted):.6g} ratio")
    if steady:
        stats = timing(steady)
        print(f"timing {workload.name} {named['call_s']} " + " ".join(f"{k}={v:.6g}" for k, v in stats.items()))
    if args.trace:
        for key, (value, unit) in metrics.items():
            print(f"layer {workload.name} {key} {value:.6g} {unit}")
    summary = {
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump({
            "context": ctx, "summary": summary, "result": result,
            "extra": extra, "problems": runner.problems, "claim": None,
        }, f, indent=1, default=str)
    if args.trace:
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(results, name.replace(".json", "-spans.json")))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
