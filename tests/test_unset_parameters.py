"""Every optional parameter in the package is set by some call.

A default that no call overrides is a constant spelled as an option:
it doubles the configurations a reader has to consider and no test or
workload exercises the other branch. This scan parses every ``def`` in
``pdf_extractor_spark/`` and every call in the package, the tools, the
benchmark harnesses, the driver entry point and the tests, and reports
each parameter with a default that no call sets.

Calls are matched by name (``f(...)`` and ``x.f(...)`` both match a
``def f``; a class call matches its ``__init__``; ``partial(f, ...)``
counts as a call of ``f``), so the scan over-approximates what is set:
it can miss a dead parameter, never invent one. A call sets a parameter
by keyword or by position; a ``*args`` or ``**kwargs`` call sets all of
them.

Environment knobs get the same check: every ``SPARK_GRAFT_*`` variable
the package reads must be set outside it, by the benchmark harnesses,
``tests/conftest.py`` or a test's ``setenv``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
CALL_ROOTS = (
    "pdf_extractor_spark", "tools", "bench_extract", "bench.py", "__spark_entry__.py", "tests",
)


def _py_files(repo: Path, root: str) -> list[Path]:
    p = repo / root
    if not p.exists():
        return []
    return [p] if p.is_file() else sorted(p.rglob("*.py"))


def _optional_params(fn: ast.FunctionDef, is_method: bool) -> list[tuple[str, int | None]]:
    """(name, positional index or None for keyword-only) of each
    parameter with a default; a method's index skips self/cls."""
    a = fn.args
    pos = a.posonlyargs + a.args
    static = any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list)
    if is_method and not static:
        pos = pos[1:]
    first_default = len(pos) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= first_default]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _defs(repo: Path):
    """(path, callable name, optional params) of every function,
    method and nested function in the package."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for f in _py_files(repo, "pdf_extractor_spark"):
        path = f.relative_to(repo).as_posix()
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, (ast.Module, ast.ClassDef, *funcs)):
                continue
            cls = node.name if isinstance(node, ast.ClassDef) else None
            for fn in node.body:
                if isinstance(fn, funcs):
                    name = cls if cls and fn.name == "__init__" else fn.name
                    yield path, name, _optional_params(fn, cls is not None)


def _callee(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls(repo: Path) -> dict[str, list[tuple[int, set[str], bool]]]:
    """callee name → (n positional args, keywords, sets-all) per call."""
    out: dict[str, list[tuple[int, set[str], bool]]] = {}
    for root in CALL_ROOTS:
        for f in _py_files(repo, root):
            for node in ast.walk(ast.parse(f.read_text())):
                if not isinstance(node, ast.Call):
                    continue
                name, args = _callee(node.func), node.args
                if name == "partial" and args:
                    name, args = _callee(args[0]), args[1:]
                if name is None:
                    continue
                sets_all = any(isinstance(a, ast.Starred) for a in args) or any(
                    k.arg is None for k in node.keywords
                )
                kw = {k.arg for k in node.keywords if k.arg}
                out.setdefault(name, []).append((len(args), kw, sets_all))
    return out


def unset_parameters(repo: Path = REPO) -> list[str]:
    calls = _calls(repo)
    found = []
    for path, name, params in _defs(repo):
        for p, i in params:
            if not any(
                all_ or p in kw or (i is not None and i < n_pos)
                for n_pos, kw, all_ in calls.get(name, ())
            ):
                found.append(f"{path}::{name}({p})")
    return found


def test_every_optional_parameter_is_set_by_some_call():
    found = unset_parameters()
    assert not found, (
        "optional parameters no call sets; make each a constant:\n  " + "\n  ".join(found)
    )


def test_scan_sees_keyword_positional_and_unset(tmp_path):
    """The scan itself, on a two-file tree: a keyword, a positional, a
    ``**kwargs``, a class and a ``partial`` call each set a parameter;
    what no call reaches is reported, self excluded from positions."""
    pkg = tmp_path / "pdf_extractor_spark"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "def f(a, b=1, c=2, *, d=3, e=4):\n    pass\n"
        "def g(x=0):\n    pass\n"
        "def h(y=0):\n    pass\n"
        "class K:\n"
        "    def __init__(self, p=0, q=0):\n        pass\n"
        "    def m(self, r=0, s=0):\n        pass\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "t.py").write_text(
        "f(0, 5)\nf(0, e=6)\ng(**{})\npartial(h, y=1)\nK(1)\nK().m(0)\n"
    )
    assert unset_parameters(tmp_path) == [
        "pdf_extractor_spark/m.py::f(c)",
        "pdf_extractor_spark/m.py::f(d)",
        "pdf_extractor_spark/m.py::K(q)",
        "pdf_extractor_spark/m.py::m(s)",
    ]


_KNOB = re.compile(r"SPARK_GRAFT_\w+")


def _knob(node: ast.AST | None) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value if _KNOB.fullmatch(node.value) else None
    return None


def _knobs_set(tree: ast.AST) -> set[str]:
    """Knob names a file sets: a key of a dict literal (an environment
    being built), ``environ[K] = ...``, or the first argument of a
    ``setenv``/``setdefault`` call. A ``pop`` or ``delenv`` sets
    nothing."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            out.update(filter(None, map(_knob, node.keys)))
        elif isinstance(node, ast.Assign):
            out.update(_knob(t.slice) for t in node.targets if isinstance(t, ast.Subscript))
        elif isinstance(node, ast.Call) and node.args:
            if _callee(node.func) in ("setenv", "setdefault"):
                out.add(_knob(node.args[0]))
    out.discard(None)
    return out


def unset_env_knobs(repo: Path = REPO) -> list[str]:
    """``SPARK_GRAFT_*`` names the package reads that nothing outside
    it sets."""
    read = {
        k
        for f in _py_files(repo, "pdf_extractor_spark")
        for node in ast.walk(ast.parse(f.read_text()))
        if (k := _knob(node))
    }
    set_ = set()
    for root in CALL_ROOTS:
        if root != "pdf_extractor_spark":
            for f in _py_files(repo, root):
                set_ |= _knobs_set(ast.parse(f.read_text()))
    return sorted(read - set_)


def test_every_env_knob_is_set_outside_the_package():
    found = unset_env_knobs()
    assert not found, "variables nothing sets; make each a constant: " + ", ".join(found)


def test_env_knob_scan_counts_sets_not_pops(tmp_path):
    pkg = tmp_path / "pdf_extractor_spark"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "import os\n"
        "a = os.environ.get('SPARK_GRAFT_A')\n"
        "b = os.environ['SPARK_GRAFT_B']\n"
        "c, d, e = (os.getenv(k) for k in ('SPARK_GRAFT_C', 'SPARK_GRAFT_D', 'SPARK_GRAFT_E'))\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "t.py").write_text(
        "import os\n"
        "monkeypatch.setenv('SPARK_GRAFT_A', '1')\n"
        "os.environ['SPARK_GRAFT_B'] = '1'\n"
        "os.environ.update({'SPARK_GRAFT_C': '1'})\n"
        "os.environ.pop('SPARK_GRAFT_D', None)\n"
        "monkeypatch.delenv('SPARK_GRAFT_E')\n"
    )
    assert unset_env_knobs(tmp_path) == ["SPARK_GRAFT_D", "SPARK_GRAFT_E"]
