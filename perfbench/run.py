"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload feed_cycle --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The run gets its own session (setsid) and its
own directory (``.perfbench_runs/<workload>-<seed>-<pid>``) that holds the
working directory, ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM's temp dir, the
generated inputs, checkpoints and sinks.  ``worker.py`` does the Spark work in
a child process; this process samples the resident memory of the child's
whole process tree during the timed phase, enforces the time limit, kills and records anything left
in the session once the child exits, and removes the run directory.

Prints a human-readable report, then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A traced run
also prints every span it recorded, one ``span {...}`` JSON line each.  Exits non-zero,
printing no result, when the engine is missing or the child wrote no result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("feed_cycle", "query_catalog")
RUN_LIMIT_S = 160.0  # with the 5 s grace and the kill wait, the run ends before 180 s
DRIVER_MEM = "2g"
HEAP_MB = 2048.0  # the JVM commits and pre-touches all of DRIVER_MEM at start (-Xms, AlwaysPreTouch)
SAMPLE_S = 0.25
# glibc's malloc keeps up to 8 arenas per core, and how full each one gets
# depends on which thread ran when: with the default, the JVM's native memory
# varied by about 85 MB between runs of the same code.  Four arenas, the cap
# Hadoop's launch scripts set for their JVMs, kept it within about 25 MB at
# no measurable cost in CPU seconds.
MALLOC_ARENAS = "4"
UNITS = {"setup_s": "s", "peak_rss_over_heap_mb": "MB", "iter_cpu_s.gmean": "s",
         "op_cpu_s.gmean": "s", "busy_share": "ratio"}


def session_members(sid: int) -> dict[int, str]:
    """``{pid: command line}`` of every live process in session ``sid``.

    The session, not the process group: PySpark's worker daemon moves itself
    into a process group of its own, but stays in the run's session."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            fields = stat[stat.rindex(")") + 2:].split()
            if int(fields[3]) != sid or fields[0] == "Z":
                continue
            with open(f"/proc/{d}/cmdline", "rb") as f:
                out[int(d)] = f.read().replace(b"\0", b" ").decode(errors="replace")[:200]
        except (OSError, ValueError, IndexError):
            continue
    return out


def session_pss_mb(pids) -> float:
    """Resident memory of ``pids`` summed as proportional set size, so pages
    shared between processes (a JVM's forked helper, forked Python workers)
    count once instead of once per process."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, ValueError, StopIteration):
            continue
    return total_kb / 1024


def source_digest() -> str:
    """sha1 over the engine's sources (the checkout need not be a git repo)."""
    h = hashlib.sha1()
    for p in sorted((ROOT / "rss_feed_etl_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--short", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def kill_session(sid: int) -> None:
    for pid in session_members(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def reap(sid: int, grace_s: float) -> list[str]:
    """Wait up to ``grace_s`` for the session to empty; kill, wait for and
    return what is left."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline and session_members(sid):
        time.sleep(0.1)
    left = session_members(sid)
    deadline = time.monotonic() + 10
    while session_members(sid) and time.monotonic() < deadline:
        kill_session(sid)
        time.sleep(0.05)
    return [f"{pid} {cmd}" for pid, cmd in sorted(left.items())]


def run(workload: str, seed: int, seconds: float, trace: int, plant: str = "") -> dict | None:
    """One run in a fresh session and directory; returns the worker's
    result plus what this process observed, or None if there is no result."""
    run_dir = ROOT / ".perfbench_runs" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        (run_dir / sub).mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        MALLOC_ARENA_MAX=MALLOC_ARENAS,
        TMPDIR=str(run_dir / "tmp"),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join([str(ROOT)] + ([os.environ["PYTHONPATH"]]
                                                  if os.environ.get("PYTHONPATH") else [])),
        PYSPARK_PYTHON=sys.executable,
        PERFBENCH_T0=repr(time.time()),
    )
    out_path = run_dir / "result.json"
    cmd = [sys.executable, str(HERE / "worker.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--out", str(out_path)]
    if plant:
        cmd += ["--plant", plant]
    log_path = run_dir / "worker.log"
    peak_mb, timed_out, child = 0.0, False, None
    try:
        with open(log_path, "wb") as log:
            child = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                     stderr=subprocess.STDOUT, start_new_session=True)
            deadline = time.monotonic() + RUN_LIMIT_S
            while child.poll() is None:
                # only the timed phase: set-up, warm-up and the output
                # checks around it are not what the metric is about
                if (run_dir / "timed").exists() and not (run_dir / "done").exists():
                    peak_mb = max(peak_mb, session_pss_mb(session_members(child.pid)))
                if time.monotonic() > deadline:
                    timed_out = True
                    kill_session(child.pid)
                    child.wait()
                    break
                time.sleep(SAMPLE_S)
        survivors = reap(child.pid, grace_s=5.0)
        result = json.loads(out_path.read_text()) if out_path.exists() else None
        if result is None:
            sys.stderr.write(log_path.read_text(errors="replace")[-6000:])
            sys.stderr.write(f"\nperfbench: worker exited with {child.returncode} and no result"
                             f"{' (time limit)' if timed_out else ''}\n")
            return None
        if timed_out:
            result["ops"].append({"kind": "run", "name": "time_limit", "status": "timeout",
                                  "seconds": RUN_LIMIT_S, "reason": "run killed at its time limit"})
        result["ops"].append({"kind": "teardown", "name": "no_survivors",
                              "status": "failed" if survivors else "ok", "seconds": 0.0,
                              "reason": "; ".join(survivors)})
        result["survivors"] = survivors
        result["peak_rss_mb"] = peak_mb
        result["returncode"] = child.returncode
        result["sid"] = child.pid
        return result
    finally:
        if child is not None and child.poll() is None:  # interrupted: take the run down too
            kill_session(child.pid)
            child.wait()
            reap(child.pid, grace_s=0.0)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (ROOT / ".perfbench_runs").rmdir()
        except OSError:
            pass


def end_to_end(result: dict) -> dict:
    """The end-to-end metrics of a run.  The memory metric leaves out the
    pre-touched heap, a constant that would hide every change in the rest."""
    return {**result.get("metrics", {}), "setup_s": result.get("setup_s", 0.0),
            "peak_rss_over_heap_mb": max(0.0, result["peak_rss_mb"] - HEAP_MB)}


def summarize(result: dict, trace: int) -> tuple[dict, list[str]]:
    ops = result["ops"]
    bad = [o for o in ops if o["status"] != "ok"]
    e2e = end_to_end(result)
    lines = [f"# perfbench {result['workload']} seed={result['seed']} trace={trace} "
             f"commit={git_commit()} source={source_digest()} env={json.dumps(result.get('env'))}"]
    for name in UNITS:
        lines.append(f"{name} = {e2e.get(name, 0.0):.6f} {UNITS[name]}")
    lines.append(f"failed_ratio = {len(bad) / max(1, len(ops)):.6f} ratio "
                 f"({len(bad)} of {len(ops)} operations)")
    lines.append(f"peak_rss_mb = {result['peak_rss_mb']:.6f} MB (timed phase, heap included)")
    lines.append(f"jvm_heap_mb = {HEAP_MB:.0f} MB (pre-touched)")
    lines.append(f"host_steal_share = {result.get('steal_share', 0.0):.4f} ratio (timed phase)")
    for name, (value, unit) in result.get("report", {}).items():
        lines.append(f"{name} = {value:.6f} {unit}" if isinstance(value, float)
                     else f"{name} = {value} {unit}")
    for o in bad:
        lines.append(f"! {o['kind']} {o['name']}: {o['status']} — {o['reason']}")
    if trace:
        for st in result.get("self_times", []):
            lines.append(f"self {st['span']}: n={st['n']} total={st['total_s']:.3f} s "
                         f"self={st['self_s']:.3f} s")
        lines.extend("span " + json.dumps(sp) for sp in result.get("spans", []))
    metrics = result.get("layers", {}) if trace else e2e
    units = {} if trace else UNITS
    final = {
        "correct": not bad and "metrics" in result,
        "attempted": len(ops),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": units.get(k) or layer_unit(k)}
                    for k, v in metrics.items()},
    }
    return final, lines


def layer_unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("write_amp", "ratio"),
                         ("cpu_util", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup in finally
    if not (ROOT / "rss_feed_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    result = run(a.workload, a.seed, a.seconds, a.trace)
    if result is None:
        return 1
    final, lines = summarize(result, a.trace)
    print("\n".join(lines))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
