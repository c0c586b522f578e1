"""Self-tests of the benchmark harness (not of the engine).

    python3 perfbench/selftest.py

1. A tiny traced run leaves no process and no file behind: its session
   is empty, no file under the checkout or the system temp dir is new, and
   the run recorded no survivor.  Its report holds every span it recorded.
2. A planted wrong result is caught: a duplicated sink row and a stale
   row in the regional output fail the ``feed_cycle`` checks, and a
   corrupted query result fails the ``query_catalog`` oracle check.  Each
   run reports ``correct: false``.

Takes about five minutes; prints one line per test and exits non-zero on
the first failure.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import run


def snapshot() -> set[str]:
    """Every path under the checkout, and the top two levels of the system
    temp dir (where a JVM or PySpark would drop files by default)."""
    seen = set()
    tmp = tempfile.gettempdir()
    for top, depth in ((str(run.ROOT), 99), (tmp, 2)):
        for root, dirs, files in os.walk(top):
            if root[len(top):].count(os.sep) >= depth - 1:
                dirs[:] = []
            dirs[:] = [d for d in dirs if d not in ("__pycache__", ".git")]
            seen.update(os.path.join(root, f) for f in files)
            seen.update(os.path.join(root, d) for d in dirs)
    return seen


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def test_no_survivors() -> None:
    before = snapshot()
    result = run.run("feed_cycle", seed=5, seconds=1, trace=1)
    check(result is not None, "tiny run produced a result")
    final, lines = run.summarize(result, trace=1)
    check(final["correct"], "tiny run is correct")
    spans = [json.loads(line[5:]) for line in lines if line.startswith("span {")]
    check(len(spans) == len(result["spans"]) > 0
          and all({"name", "start", "end", "parent", "run_id"} <= set(sp) for sp in spans),
          f"the report prints all {len(spans)} spans with name, start, end, parent and run id")
    check(result["survivors"] == [], "no survivor had to be killed")
    check(run.session_members(result["sid"]) == {}, "the run's session is empty")
    new = snapshot() - before
    check(not new, f"no file outlives the run {sorted(new)[:5]}")


def test_planted_results_are_caught() -> None:
    feed = run.run("feed_cycle", seed=6, seconds=1, trace=0, plant="sink_duplicate")
    reasons = [o["reason"] for o in feed["ops"] if o["status"] == "failed"]
    check(any("wrong result" in r and "links" in r for r in reasons),
          "feed_cycle: duplicated sink row is caught")
    check(not run.summarize(feed, 0)[0]["correct"], "feed_cycle: run is marked incorrect")
    stale = run.run("feed_cycle", seed=6, seconds=1, trace=0, plant="stale_row")
    reasons = [o["reason"] for o in stale["ops"] if o["status"] == "failed"]
    check(any("(1 outside the 7-day window)" in r for r in reasons),
          "feed_cycle: a regional output row older than the date window is caught")
    check(not run.summarize(stale, 0)[0]["correct"], "feed_cycle: run is marked incorrect")
    cat = run.run("query_catalog", seed=6, seconds=0, trace=0, plant="holt_forecast")
    bad = {o["name"]: o["reason"] for o in cat["ops"] if o["status"] == "failed"}
    check(set(bad) == {"holt_forecast"} and "oracle" in bad["holt_forecast"],
          "query_catalog: corrupted result is caught by the oracle check, and only it")
    check(not run.summarize(cat, 0)[0]["correct"], "query_catalog: run is marked incorrect")


if __name__ == "__main__":
    test_no_survivors()
    test_planted_results_are_caught()
    print("all self-tests passed")
