"""Every operator that runs Python on executors ships the package first.

A ``mapInPandas`` function or a ``pandas_udf`` is pickled on the driver and
unpickled in a Spark Python worker.  When its closure names a module of this
package (``vecmath``, say), the worker must import the package, which it can
only do when ``session.ensure_executors_can_import`` has shipped it (or the
worker happens to start with the repository on its path).  A function that
forgets the call works whenever another operator made it earlier in the
same session, and fails when it runs first: the guard below catches the
omission without depending on call order.
"""

import ast
import os
import pathlib
import subprocess
import sys
import tempfile
import zipfile
from types import SimpleNamespace

from rss_feed_etl_spark import session

PKG = pathlib.Path(__file__).resolve().parent.parent / "rss_feed_etl_spark"
PYTHON_ON_EXECUTORS = {"mapInPandas", "pandas_udf"}


def _names_called(fn: ast.FunctionDef) -> set[str]:
    """Names of the functions and methods called anywhere in ``fn``'s
    body, and of the decorators of the functions nested in it.  ``fn``'s
    own decorators do not count: a module-level ``pandas_udf`` runs
    nothing when defined, and the function that calls it ships the
    package."""
    out = set()
    for n in (n for stmt in fn.body for n in ast.walk(stmt)):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for dec in n.decorator_list:
                d = dec.func if isinstance(dec, ast.Call) else dec
                out.add(d.attr if isinstance(d, ast.Attribute) else getattr(d, "id", ""))
        elif isinstance(n, ast.Call):
            if isinstance(n.func, ast.Attribute):
                out.add(n.func.attr)
            elif isinstance(n.func, ast.Name):
                out.add(n.func.id)
    return out


def _outer_functions(tree: ast.Module):
    """Module-level functions and class methods (nested ones are part of
    their enclosing function)."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node
        elif isinstance(node, ast.ClassDef):
            yield from (
                f for f in node.body if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            )


def missing_import_calls(root: pathlib.Path = PKG) -> list[str]:
    out = []
    for sub in ("operators", "plans", "queries"):
        for path in sorted((root / sub).rglob("*.py")):
            tree = ast.parse(path.read_text(), filename=str(path))
            for fn in _outer_functions(tree):
                called = _names_called(fn)
                if called & PYTHON_ON_EXECUTORS and "ensure_executors_can_import" not in called:
                    out.append(f"{path.relative_to(root)}:{fn.lineno} {fn.name}")
    return out


def test_guard_sees_python_on_executors():
    """The walk finds both shapes: a method call and a nested decorator."""
    src = (
        "@F.pandas_udf('double')\ndef udf(v):\n    return v\n"
        "def a(df):\n    return df.mapInPandas(f, s)\n"
        "def b(df):\n    @F.pandas_udf('long')\n    def g(s):\n        return s\n"
        "    return df.select(g('x'))\n"
        "def c(df):\n    ensure_executors_can_import(df.sparkSession)\n"
        "    return df.mapInPandas(f, s)\n"
    )
    flagged = [
        fn.name
        for fn in _outer_functions(ast.parse(src))
        if _names_called(fn) & PYTHON_ON_EXECUTORS
        and "ensure_executors_can_import" not in _names_called(fn)
    ]
    assert flagged == ["a", "b"]


def test_every_python_operator_ships_the_package():
    assert missing_import_calls() == []


def test_shipped_zip_is_this_checkout(tmp_path, monkeypatch):
    """A zip left at the old per-pid path (a recycled pid, another
    checkout) is never shipped: the workers get the code this process
    runs."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with zipfile.ZipFile(tmp_path / f"rss_feed_etl_spark-{os.getpid()}.zip", "w") as zf:
        zf.writestr("rss_feed_etl_spark/session.py", "# another checkout\n")
    monkeypatch.setattr(session, "_PYFILES_ADDED", set())
    monkeypatch.setattr(session, "_PACKAGE_ZIP", None, raising=False)
    shipped: list[str] = []
    spark = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))
    session.ensure_executors_can_import(spark)
    assert len(shipped) == 1
    with zipfile.ZipFile(shipped[0]) as zf:
        assert zf.read("rss_feed_etl_spark/session.py") == pathlib.Path(session.__file__).read_bytes()
        assert "rss_feed_etl_spark/queries/corpus.py" in zf.namelist()


def test_shipped_zip_is_removed_at_exit(tmp_path):
    code = (
        "import sys, tempfile\n"
        f"sys.path.insert(0, {str(PKG.parent)!r})\n"
        f"tempfile.tempdir = {str(tmp_path)!r}\n"
        "from types import SimpleNamespace\n"
        "from rss_feed_etl_spark import session\n"
        "shipped = []\n"
        "sc = SimpleNamespace(addPyFile=shipped.append)\n"
        "session.ensure_executors_can_import(SimpleNamespace(sparkContext=sc))\n"
        "print(shipped[0])\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    ).stdout.strip()
    assert pathlib.Path(out).parent == tmp_path
    assert not pathlib.Path(out).exists()
    assert list(tmp_path.iterdir()) == []
