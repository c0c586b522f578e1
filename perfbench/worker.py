"""One benchmark run inside its own process (started by ``run.py``).

Starts a fresh Spark session sized by ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEM``, sets up the workload, runs its untimed warm-up, runs
timed iterations for ``--seconds``, checks outputs, and writes every record
to ``--out`` as JSON.  Always stops streaming queries, the session and the
JVM before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]

from harness import CALL_METRICS, Harness, median  # noqa: E402

CATALOG_MODULES = ["decision_support", "eventanalytics", "timeseries", "profiling", "sketches",
                   "graph", "retrieval", "linalg", "clustering", "similarity", "merges"]
CALL_SET = ["build_s", "exec_s", *CALL_METRICS]
CURATION_STAGES = ["s1_quality_s", "s2_exact_s", "s3_near_s", "s4_decontam_s", "s5_semantic_s",
                   "s5b_clean_tokens_s", "s6_pack_scorecard_s"]

# Every per-layer metric a traced run reports.  A layer the workload does not
# call reports 0 (it spent no time and launched no work there).
LAYER_METRICS = (
    ["session.start_s", "session.warmup_s"]
    + [f"streaming.{m}" for m in (
        "run_s", "batches", "addBatch_ms", "queryPlanning_ms", "walCommit_ms",
        "latestOffset_ms", "commitOffsets_ms", "jobs", "task_cpu_s", "shuffle_write_mb",
        "spill_mb")]
    + [f"sources.{m}" for m in ("written_mb", "input_mb", "write_amp", "files_written", "sink_mb")]
    + [f"filter_pipeline.{m}" for m in CALL_SET]
    + [f"curation.{m}" for m in CALL_SET + CURATION_STAGES + ["wall_s", "cores", "cpu_util"]]
    + [f"catalog.{mod}.{m}" for mod in CATALOG_MODULES
       for m in ("build_s", "exec_s", "jobs", "task_cpu_s")]
    + ["trace.self_s", "trace.spans"]
)


def layer_metrics(h: Harness, session_s: float, warmup_s: float, cores: int) -> dict:
    s = h.samples
    out = {name: median(s.get(name, [])) for name in LAYER_METRICS}
    out["session.start_s"] = session_s
    out["session.warmup_s"] = warmup_s
    if s.get("sources.input_mb"):
        out["sources.write_amp"] = sum(s["sources.written_mb"]) / sum(s["sources.input_mb"])
    if s.get("curation.wall_s"):
        out["curation.cores"] = cores
        out["curation.cpu_util"] = median([
            run / (wall * cores) for run, wall in zip(s["curation.task_run_s"], s["curation.wall_s"])])
    out["trace.self_s"] = h.trace_self_s
    out["trace.spans"] = len(h.spans)
    return out


def host_cpu() -> list[int]:
    """The host's cumulative CPU times (``/proc/stat``, all CPUs)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def stop_spark(spark) -> None:
    """Stop every streaming query, then the session, then the JVM, and wait
    for the JVM to exit, so nothing this process started outlives it."""
    from pyspark import SparkContext

    try:
        for q in spark.streams.active:
            q.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — last resort: the parent kills the session
                proc.kill()
                proc.wait(timeout=10)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", required=True)
    p.add_argument("--plant", default="", help="self-test only: corrupt one output")
    a = p.parse_args()
    t_spawn = float(os.environ.get("PERFBENCH_T0", time.time()))

    from workloads import WORKLOADS

    from rss_feed_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{a.workload}")
    session_s = time.perf_counter() - t0
    cores = spark.sparkContext.defaultParallelism
    h = Harness(spark, trace=bool(a.trace))
    result: dict = {"workload": a.workload, "seed": a.seed}
    try:
        jvm = spark.sparkContext._jvm
        result["env"] = {
            "cores": cores,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "pyspark": __import__("pyspark").__version__,
            "java": jvm.System.getProperty("java.version"),
        }
        wl = WORKLOADS[a.workload](spark, h, os.getcwd(), a.seed)
        wl.plant = a.plant
        with h.span("run", workload=a.workload, seed=a.seed):
            with h.op("setup", "setup") as box, h.span("setup"):
                wl.setup()
            ok = box["status"] == "ok"
            t_w = time.perf_counter()
            if ok:
                with h.span("warmup"):
                    wl.warmup()
            warmup_s = time.perf_counter() - t_w
            result["setup_s"] = time.time() - t_spawn
            open("timed", "w").close()  # run.py samples memory from here ...
            cpu0 = host_cpu()
            h.timed = True
            t_m = time.perf_counter()
            while ok and time.perf_counter() - t_m < a.seconds:
                with h.span("iteration"):
                    wl.step()
            result["measured_s"] = time.perf_counter() - t_m
            h.timed = False
            open("done", "w").close()  # ... to here
            d = [b - a for a, b in zip(cpu0, host_cpu())]
            # time the host's hypervisor ran other guests on this machine's
            # CPUs: wall times stretch with it, CPU seconds do not
            result["steal_share"] = d[7] / max(1, sum(d))
            if ok:
                with h.span("finish"):
                    wl.finish()
        result["metrics"] = wl.metrics()
        result["report"] = wl.report()
        if h.trace:
            result["layers"] = layer_metrics(h, session_s, warmup_s, cores)
            result["self_times"] = h.self_times()
            result["spans"] = h.span_records()
    except Exception:  # noqa: BLE001 — the harness itself broke: record it, fail the run
        h.record("harness", "run", "failed", 0.0, traceback.format_exc(limit=8))
    finally:
        result["ops"] = h.ops
        try:
            stop_spark(spark)
        except Exception:  # noqa: BLE001
            h.record("teardown", "stop_spark", "failed", 0.0, traceback.format_exc(limit=4))
        with open(a.out, "w") as f:
            json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
