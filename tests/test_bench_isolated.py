"""The bench's fresh-JVM headline block never drops an entry silently: a
child group that fails, times out, or returns only some records lists
the missing names under ``failed``."""

from __future__ import annotations

import importlib.util
import pathlib

_BENCH = pathlib.Path(__file__).resolve().parents[1] / "bench.py"


def _bench():
    spec = importlib.util.spec_from_file_location("bench_under_test", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_failed_child_groups_are_recorded(monkeypatch):
    bench = _bench()
    monkeypatch.setattr(bench, "CHILD_GROUP_SIZE", 2)
    monkeypatch.setattr(bench, "_remaining_budget", lambda: 1e9)

    def child(kind, group, *args):
        if "b" in group:
            return None  # the whole group failed or timed out
        return [{"name": n, "base": 1.0} for n in group if n != "e"]

    monkeypatch.setattr(bench, "_run_child_group", child)
    timings = {n: 10.0 - i for i, n in enumerate("abcde")}
    out = bench.bench_headline_isolated("unused", timings)
    assert out["seconds"] == {"c": 1.0, "d": 1.0}
    assert sorted(out["failed"]) == ["a", "b", "e"]
    assert out["skipped_budget"] == []
