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
import pathlib

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
    for sub in ("operators", "plans"):
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
