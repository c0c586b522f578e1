"""Rotation hygiene for the driver-sampled query window.

The driver checks the first ~50 names of ``queries()`` each round, so the
rotation decides which queries earn a CORRECTNESS row.  Rounds 4 and 5
both went stale because the sampled set was a hand-refreshed literal
(VERDICT r4/r5 finding #1); the rotation is now derived at import time
from the committed ``CORRECTNESS_r*.json`` artifacts.  These tests pin
the self-refresh invariants the round-5 judge asked for.
"""

from __future__ import annotations

import ast
import json
import pathlib
import re
import sys

from rss_feed_etl_spark import driver_queries as dq

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "rss_feed_etl_spark"


def _sampled_names() -> set[str]:
    names: set[str] = set()
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        names.update(json.loads(path.read_text()).keys())
    return names


def test_recheck_has_no_duplicates():
    assert len(dq._RECHECK) == len(set(dq._RECHECK))


def test_recheck_is_small():
    # Every recheck slot delays a never-sampled name by a round; the list
    # exists only for queries whose code changed since their green row.
    # Once EVERY registered name holds a driver row (true since round
    # 10), recheck slots displace only re-samples, so the cap relaxes to
    # the window size an optimization round can need (changed-code
    # queries must always re-verify).
    sampled = _sampled_names()
    never_sampled = set(dq.QUERIES) - sampled
    cap = 5 if never_sampled else 20
    assert len(dq._RECHECK) <= cap


def test_recheck_names_are_registered():
    registered = set(dq.QUERIES)
    stale = set(dq._RECHECK) - registered
    assert not stale, f"_RECHECK names not registered: {stale}"


def test_sampled_loader_without_artifacts_is_empty(tmp_path):
    # a bare checkout has no CORRECTNESS artifacts: nothing counts as
    # sampled, so the window keeps registration order
    assert dq._driver_sampled(tmp_path) == set()


def test_sampled_loader_reads_correctness_artifacts():
    # The loader must see every committed round.
    sampled = _sampled_names()
    if not sampled:  # fresh checkout without CORRECTNESS artifacts
        return
    assert dq._driver_sampled() == sampled


def test_readme_query_count_matches_registry():
    # the README's "N queries" line went stale two rounds running; pin it

    readme = (REPO / "README.md").read_text()
    m = re.search(r"\((\d+) queries;", readme)
    assert m, "README query-count line missing"
    assert int(m.group(1)) == len(dq.queries())


def test_window_leads_with_unsampled_or_recheck_names():
    # The self-refresh invariant: while >=50 names have never been
    # driver-sampled, the first-50 window must contain ONLY never-sampled
    # names plus the explicit changed-code _RECHECK head -- a stale
    # rotation (re-recording an old round's window) is impossible.
    sampled = _sampled_names()
    if not sampled:  # fresh checkout without CORRECTNESS artifacts
        return
    order = list(dq.queries().keys())
    first50 = order[:50]
    unsampled_count = sum(1 for n in dq.QUERIES if n not in sampled)
    if unsampled_count + len(dq._RECHECK) >= 50:
        wasted = [n for n in first50 if n in sampled and n not in dq._RECHECK]
        assert not wasted, f"window slots wasted on sampled names: {wasted}"
    # the recheck head leads the window in all cases
    assert first50[: len([n for n in dq._RECHECK if n in dq.QUERIES])] == [
        n for n in dq._RECHECK if n in dq.QUERIES
    ]


def test_unsampled_names_appear_in_registration_order():
    # Never-sampled names keep registration order.
    sampled = _sampled_names()
    if not sampled:
        return
    order = list(dq.queries().keys())
    fresh = [n for n in order if n not in sampled and n not in dq._RECHECK]
    reg_fresh = [n for n in dq.QUERIES if n not in sampled and n not in dq._RECHECK]
    assert fresh == reg_fresh


def _registered_in(path: pathlib.Path) -> list[str]:
    """Names a module registers, in source order (every ``_register``
    call sits at module level with a literal name)."""
    tree = ast.parse(path.read_text())
    return [
        st.value.args[0].value
        for st in tree.body
        if isinstance(st, ast.Expr)
        and isinstance(st.value, ast.Call)
        and getattr(st.value.func, "id", None) == "_register"
    ]


def test_window_is_recheck_then_base_then_corpus():
    # The driver's window covers the head of queries(): the _RECHECK
    # names, then driver_queries.py's own queries, then queries/corpus.py's,
    # each in registration order.  Holds when every name (or no name)
    # holds a driver row; otherwise never-sampled names lead, which
    # test_window_leads_with_unsampled_or_recheck_names pins.
    sampled = _sampled_names()
    if sampled and not set(dq.QUERIES) <= sampled:
        return
    recheck = [n for n in dq._RECHECK if n in dq.QUERIES]
    head = recheck + [
        n
        for path in (PKG / "driver_queries.py", PKG / "queries" / "corpus.py")
        for n in _registered_in(path)
        if n not in recheck
    ]
    assert len(head) == 54
    assert list(dq.queries())[: len(head)] == head


def test_registry_is_one_module_per_family():
    assert not list(PKG.glob("driver_queries_wave*.py"))
    registered = set(dq.QUERIES)
    family_names: list[str] = []
    for path in sorted((PKG / "queries").glob("*.py")):
        if path.name == "__init__.py":
            continue
        assert f"rss_feed_etl_spark.queries.{path.stem}" in sys.modules, path.name
        names = _registered_in(path)
        assert names, f"{path.name} registers no query"
        family_names += names
    base = _registered_in(PKG / "driver_queries.py")
    assert sorted(base + family_names) == sorted(registered)


def test_no_test_module_binds_a_name_twice():
    # a module that binds a name twice silently shadows the first test,
    # fixture or helper
    twice = []
    for path in sorted((REPO / "tests").glob("*.py")):
        seen: set[str] = set()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            else:
                continue
            twice += [f"{path.name}:{n}" for n in names if n in seen]
            seen.update(names)
    assert not twice
