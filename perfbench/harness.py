"""Calls into the engine's layers, timed and (optionally) traced.

Every call the workloads make into a layer's public function goes through
:meth:`Harness.call`: the call runs under its own Spark job group, so a
watchdog can cancel it at its time limit, and its outcome is recorded as
``ok``, ``failed`` or ``timeout`` with a reason.  With tracing on, the
harness also keeps a span per call (name, start, end, parent, run id) and
reads the call's jobs, stages and task metrics from the status store, which
works with the Spark UI disabled.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# metrics of one call into a layer, read from the status store
CALL_METRICS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_write_mb", "spill_mb")
MB = 1024.0 * 1024.0
CALL_LIMIT_S = 60.0  # a call still running after this is cancelled as a timeout


class CheckFailed(Exception):
    """An output check found a wrong result."""


class CallTimeout(Exception):
    """The watchdog cancelled the call's jobs at its time limit."""


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Harness:
    """Records operations, and with ``trace`` on, spans and job metrics."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.run_id = uuid.uuid4().hex[:12]
        self.ops: list[dict] = []
        self.spans: list[Span] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.trace_self_s = 0.0
        self.timed = False  # set while the timed iterations run
        self.timed_groups: list[str] = []  # job groups of the calls they made
        self._stack: list[int] = []
        self._groups = 0

    # --- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.trace:
            yield None
            return
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                  attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def sample(self, name: str, value: float) -> None:
        self.samples[name].append(float(value))

    # --- operations ------------------------------------------------------------

    def record(self, kind: str, name: str, status: str, seconds: float, reason: str = ""):
        self.ops.append({"kind": kind, "name": name, "status": status,
                         "seconds": round(seconds, 6), "reason": reason[:500]})

    def call(self, layer: str, build, action, limit_s: float = CALL_LIMIT_S):
        """Run ``build()`` (the layer's public call) and then ``action(result)``
        under one job group; return ``(result, action_result, timings)``.

        Raises :class:`CallTimeout` when the watchdog cancelled the group, and
        lets every other error through; :meth:`op` turns both into records.
        """
        self._groups += 1
        group = f"pb-{self.run_id}-{self._groups}"
        if self.timed:
            self.timed_groups.append(group)
        self.sc.setJobGroup(group, layer, interruptOnCancel=True)
        fired = threading.Event()

        def cancel():
            fired.set()
            self.sc.cancelJobGroup(group)

        watchdog = threading.Timer(limit_s, cancel)
        watchdog.daemon = True
        watchdog.start()
        try:
            with self.span(layer + ".build"):
                t0 = time.perf_counter()
                result = build()
                t1 = time.perf_counter()
            with self.span(layer + ".exec"):
                out = action(result)
                t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — re-raised with the timeout made explicit
            if fired.is_set():
                raise CallTimeout(f"{layer} cancelled after {limit_s:.0f} s") from e
            raise
        finally:
            watchdog.cancel()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        timings = {"build_s": t1 - t0, "exec_s": t2 - t1}
        if self.trace:
            timings.update(self.group_metrics(group))
        return result, out, timings

    @contextmanager
    def op(self, kind: str, name: str):
        """Record one attempted operation; a failure is recorded, not raised."""
        t0 = time.perf_counter()
        box = {"status": "ok", "reason": ""}
        try:
            yield box
        except CallTimeout as e:
            box.update(status="timeout", reason=str(e))
        except CheckFailed as e:
            box.update(status="failed", reason=f"wrong result: {e}")
        except Exception as e:  # noqa: BLE001 — an engine error fails this op only
            box.update(status="failed",
                       reason=f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}")
        self.record(kind, name, box["status"], time.perf_counter() - t0, box["reason"])

    # --- job metrics -----------------------------------------------------------

    def group_metrics(self, group: str) -> dict:
        """Jobs, stages and task metrics of every job in ``group``."""
        t0 = time.perf_counter()
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        out = self.stage_metrics(job_ids)
        self.trace_self_s += time.perf_counter() - t0
        return out

    def stage_metrics(self, job_ids: list[int]) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        deadline = time.perf_counter() + 2.0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            # the status listener runs behind the scheduler; wait (briefly)
            # until it has seen the job end so the stage totals are final
            while info is not None and info.status == "RUNNING" and time.perf_counter() < deadline:
                time.sleep(0.01)
                info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        m = dict.fromkeys(CALL_METRICS, 0.0)
        m["jobs"] = float(len(job_ids))
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                continue
            m["stages"] += 1
            m["tasks"] += st.numTasks()
            m["task_run_s"] += st.executorRunTime() / 1e3
            m["task_cpu_s"] += st.executorCpuTime() / 1e9
            m["gc_s"] += st.jvmGcTime() / 1e3
            m["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        return m

    def busy_share(self, wall_s: float) -> float:
        """Task run time of the timed calls' jobs ÷ (``wall_s`` × cores): the
        share of the cores' time spent running tasks.  Waiting (a sleep, a
        lock, a serial stage on an idle core) lowers it; host steal stretches
        task time and wall time alike, so it moves it less than wall time."""
        tracker = self.sc.statusTracker()
        jobs = [j for g in self.timed_groups for j in tracker.getJobIdsForGroup(g)]
        run_s = self.stage_metrics(jobs)["task_run_s"]
        return run_s / (wall_s * self.sc.defaultParallelism) if wall_s else 0.0

    # --- reports -----------------------------------------------------------------

    def self_times(self) -> list[dict]:
        """Per span name: count, total and self seconds.  A span's self time
        is its duration minus the part of it covered by its child spans."""
        children: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        agg: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0])
        for i, sp in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(children.get(i, []), key=lambda s: s.start):
                if cur_e is None or c.start > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = c.start, c.end
                else:
                    cur_e = max(cur_e, c.end)
            if cur_e is not None:
                covered += cur_e - cur_s
            a = agg[sp.name]
            a[0] += 1
            a[1] += sp.end - sp.start
            a[2] += sp.end - sp.start - covered
        return [{"span": k, "n": v[0], "total_s": round(v[1], 4), "self_s": round(v[2], 4)}
                for k, v in sorted(agg.items(), key=lambda kv: -kv[1][2])]

    def span_records(self) -> list[dict]:
        return [{"name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
                 "parent": s.parent, "run_id": self.run_id, **s.attrs} for s in self.spans]


_TICK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    every process of this run's session: this driver, the JVM and the Python
    workers.  Unlike wall time it does not grow while the host runs other
    tenants' work, so it stays comparable on a shared machine."""
    sid, total = os.getsid(0), 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def gmean(xs: list[float]) -> float:
    """Geometric mean: every operation weighs the same, whatever its size."""
    return statistics.geometric_mean(xs) if xs and min(xs) > 0 else 0.0


def tail(xs: list[float], pct: int) -> float:
    """Nearest-rank ``pct``-th percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-pct * len(s) // 100) - 1))
    return s[k]
