"""Every defaulted parameter in the package is set by some call.

A parameter with a default that no call ever passes is a setting with one
value in use: it belongs in the code as a constant, not in the signature.
The scan below is name-based and AST-only (no Spark).  A call to a function
named ``f`` -- anywhere in the package, ``tests/``, ``perfbench/``,
``tools/``, ``bench.py`` or ``__spark_entry__.py`` -- sets parameter ``p`` of
every definition named ``f`` when it

* passes ``p`` by keyword,
* passes enough positional arguments to reach ``p`` (``*args`` reaches all),
* passes ``**kwargs`` (which may hold any name), or
* does one of the above through ``functools.partial(f, ...)``.

A class's ``__init__`` is called by the class name.  Matching by bare name
over-approximates (two functions of one name share their calls), so the scan
can miss an unset parameter but never reports a set one.
"""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "rss_feed_etl_spark"
CALLERS = ("rss_feed_etl_spark", "tests", "perfbench", "tools", "bench.py", "__spark_entry__.py")

# Deployment settings stay configurable even with one value in use.
ALLOWED = {
    # The retry policy of the LLM match endpoint: how often and how long to
    # retry depends on the service a deployment talks to.
    "sources/llm_client.py:retrying_match_client_factory(max_retries)",
    "sources/llm_client.py:retrying_match_client_factory(retry_delay)",
    # Where the CLI fetches feeds from: the network in a deployment, local
    # files everywhere else.
    "cli.py:run_etl_from_config(fetcher)",
}


def _py_files(root: pathlib.Path = REPO):
    for name in CALLERS:
        path = root / name
        if path.is_dir():
            yield from sorted(path.rglob("*.py"))
        elif path.exists():
            yield path


def _defaulted(fn: ast.FunctionDef, is_method: bool):
    """(name, positional index or None) of each parameter with a default;
    the index counts from the first argument a caller passes."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if is_method and not any(
        getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list
    ) else 0
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i - skip) for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def definitions(root: pathlib.Path = REPO):
    """(where, line, call name, param, positional index) for every
    defaulted parameter of every function defined in the package."""
    out = []
    for path in sorted((root / PKG.name).rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        methods = {}
        for cls in (n for n in ast.walk(tree) if isinstance(n, ast.ClassDef)):
            for f in cls.body:
                if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    methods[f] = cls.name
        rel = path.relative_to(root / PKG.name)
        for fn in (n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))):
            names = [fn.name]
            if fn.name == "__init__" and fn in methods:
                names.append(methods[fn])
            for param, index in _defaulted(fn, fn in methods):
                where = f"{rel}:{fn.name}({param})"
                out += [(where, fn.lineno, name, param, index) for name in names]
    return out


def _callee(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def calls(root: pathlib.Path = REPO):
    """name -> list of (positional count, keyword names, open-ended) for
    every call in the callers; open-ended means ``**`` (sets every name),
    and a ``*args`` call has an unbounded positional count."""
    out = {}
    for path in _py_files(root):
        for n in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(n, ast.Call):
                continue
            name, args = _callee(n.func), n.args
            if name == "partial" and args:
                name, args = _callee(args[0]), args[1:]
            if name is None:
                continue
            npos = float("inf") if any(isinstance(x, ast.Starred) for x in args) else len(args)
            kws = {k.arg for k in n.keywords if k.arg is not None}
            out.setdefault(name, []).append((npos, kws, any(k.arg is None for k in n.keywords)))
    return out


def unset_parameters(root: pathlib.Path = REPO) -> list[str]:
    by_name = calls(root)
    set_ = set()
    lines = {}
    for where, lineno, name, param, index in definitions(root):
        lines[where] = lineno
        for npos, kws, open_ended in by_name.get(name, ()):
            if open_ended or param in kws or (index is not None and npos > index):
                set_.add(where)
    return sorted(f"{w} line {lines[w]}" for w in lines if w not in set_ and w not in ALLOWED)


def test_scan_applies_the_set_rule():
    """Keyword, positional reach, ``**``, ``partial`` and ``Class(...)`` each
    count as setting; a method's ``self`` takes no caller position."""
    import tempfile

    src = {
        "rss_feed_etl_spark/m.py": (
            "def f(a, b=1, c=2, *, d=3, e=4):\n    pass\n"
            "def g(a, k=1):\n    pass\n"
            "def h(x=1, y=2):\n    pass\n"
            "class C:\n    def __init__(self, p=1, q=2):\n        pass\n"
            "    def m(self, r=1, s=2):\n        pass\n"
        ),
        "tests/t.py": (
            "f(0, 1, e=5)\ng(0, **kw)\nimport functools\nfunctools.partial(h, y=3)\n"
            "C(1)\nC(None).m(1)\n"
        ),
    }
    with tempfile.TemporaryDirectory() as d:
        root = pathlib.Path(d)
        for rel, text in src.items():
            (root / rel).parent.mkdir(parents=True, exist_ok=True)
            (root / rel).write_text(text)
        found = [w.split(" line")[0] for w in unset_parameters(root)]
    assert found == [
        "m.py:__init__(q)",
        "m.py:f(c)",
        "m.py:f(d)",
        "m.py:h(x)",
        "m.py:m(s)",
    ]


def test_every_defaulted_parameter_is_set_by_some_call():
    unset = unset_parameters()
    assert unset == [], f"{len(unset)} defaulted parameters no call sets:\n" + "\n".join(unset)
