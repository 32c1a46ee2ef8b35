"""The scripts under ``tools/`` and ``bench.py`` import package names
that must exist.

The scripts are not run (``tools/banding_stress.py`` parses
``sys.argv`` at import); their source is parsed with ``ast`` and every
``from mapreducewordcount_spark... import name`` — top-level or nested
inside a function — is resolved against the package. A rename or
deletion in the package that leaves a script behind fails here.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "mapreducewordcount_spark"
SCRIPTS = sorted((REPO / "tools").glob("*.py")) + [REPO / "bench.py"]


def _package_imports(path: Path) -> list[tuple[str, str | None]]:
    """``(module, name)`` for every package import in ``path``;
    ``name`` is None for a plain ``import module``."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and (node.module or "").split(".")[0] == PACKAGE:
            found += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            found += [(a.name, None) for a in node.names
                      if a.name.split(".")[0] == PACKAGE]
    return found


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:  # `from pkg import submodule`
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_package_imports_resolve(script):
    imports = _package_imports(script)
    missing = [f"{m}:{n}" for m, n in imports if not _resolves(m, n)]
    assert not missing, f"{script.name} imports missing names: {missing}"


def test_import_scan_sees_nested_imports(tmp_path):
    src = tmp_path / "s.py"
    src.write_text(
        "import sys\n"
        f"from {PACKAGE}.operators.dedup import no_such_name\n"
        "def f():\n"
        f"    from {PACKAGE}.operators import similarity\n")
    imports = _package_imports(src)
    assert imports == [(f"{PACKAGE}.operators.dedup", "no_such_name"),
                       (f"{PACKAGE}.operators", "similarity")]
    assert not _resolves(*imports[0])
    assert _resolves(*imports[1])


def test_dump_plans_normalizes_session_counters():
    spec = importlib.util.spec_from_file_location(
        "dump_plans", REPO / "tools" / "dump_plans.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    a = ("Project [x#12L, lambda x_493#7] plan_id=59882 "
         "MapPartitionsRDD[708]")
    b = ("Project [x#40L, lambda x_12#9] plan_id=3 "
         "MapPartitionsRDD[7]")
    assert mod.normalize_plan(a) == mod.normalize_plan(b) == (
        "Project [x#NL, lambda x_N#N] plan_id=N MapPartitionsRDD[N]")
    # names that merely end in digits are plan content, not counters
    assert mod.normalize_plan("col_1#3") == "col_1#N"
    # the session's warehouse directory differs per session
    assert mod.normalize_plan("InMemoryFileIndex[file:/tmp/wh-1/t_b]",
                              "file:/tmp/wh-1") == \
        "InMemoryFileIndex[file:<warehouse>/t_b]"


def test_py_task_overhead_gaps_per_worker():
    spec = importlib.util.spec_from_file_location(
        "py_task_overhead", REPO / "tools" / "py_task_overhead.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # (pid, start, end) in collection order; gaps never cross workers
    rows = [(7, 5.0, 5.5), (9, 1.0, 1.25), (7, 1.0, 2.0), (9, 2.0, 3.0),
            (7, 2.25, 3.0), (8, 0.0, 1.0)]
    assert sorted(mod.worker_gaps(rows)) == [0.25, 0.75, 2.0]


def _public_definitions(paths) -> dict[str, list[str]]:
    """Public top-level function and class name → defining modules."""
    defined: dict[str, list[str]] = {}
    for path in paths:
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)) \
                    and not node.name.startswith("_"):
                defined.setdefault(node.name, []).append(
                    str(path.relative_to(REPO)))
    return defined


def test_public_names_defined_once():
    """One implementation per capability: no two engine modules define
    the same public function or class. ``queries/`` is left out, since
    a query may share its operator's name."""
    pkg = REPO / PACKAGE
    paths = sorted(pkg.glob("*.py"))
    for sub in ("operators", "functions", "sources", "streaming"):
        paths += sorted((pkg / sub).rglob("*.py"))
    twice = {name: mods for name, mods in _public_definitions(paths).items()
             if len(mods) > 1}
    assert not twice, f"public names defined in more than one module: {twice}"


_EMPTY_FACTORIES = ("set", "list", "dict")
_LOCKS = ("Lock", "RLock")


def _module_level_stores(tree: ast.Module) -> list[tuple[int, str]]:
    """``(line, source)`` of every module-level lock and every
    module-level name bound to an empty mutable container. Statements
    under a module-level ``if``/``try``/``with`` count; function and
    class bodies do not."""
    found, todo = [], list(tree.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.If, ast.Try, ast.With)):
            todo += [n for field in ("body", "orelse", "finalbody")
                     for n in getattr(node, field, [])]
            todo += [n for h in getattr(node, "handlers", []) for n in h.body]
            continue
        if not isinstance(node, (ast.Assign, ast.AnnAssign)) \
                or node.value is None:
            continue
        value = node.value
        if isinstance(value, ast.Call):
            fn = value.func
            name = fn.attr if isinstance(fn, ast.Attribute) else \
                getattr(fn, "id", None)
            store = name in _LOCKS or (name in _EMPTY_FACTORIES
                                       and not value.args
                                       and not value.keywords)
        else:
            store = (isinstance(value, ast.List) and not value.elts
                     or isinstance(value, ast.Dict) and not value.keys)
        if store:
            found.append((node.lineno, ast.unparse(node)))
    return found


def test_no_module_level_mutable_state():
    """No package module keeps a module-level lock or a module-level
    name bound to an empty ``[]``, ``{}``, ``set()``, ``list()`` or
    ``dict()``: state a query needs lives in its frames or its
    session, not in a registry shared by every caller in the
    process."""
    stores = {
        str(path.relative_to(REPO)): found
        for path in sorted((REPO / PACKAGE).rglob("*.py"))
        if (found := _module_level_stores(
            ast.parse(path.read_text(), str(path))))}
    assert not stores, f"module-level mutable state: {stores}"


def test_module_level_store_scan_finds_each_form():
    src = ("import threading\n"
           "from threading import RLock\n"
           "A = []\n"
           "B: dict[str, int] = {}\n"
           "C = set()\n"
           "if True:\n"
           "    D = threading.Lock()\n"
           "E = RLock()\n"
           "F = (1, 2)\n"
           "G = [1]\n"
           "H = frozenset()\n"
           "def f():\n"
           "    local = []\n")
    found = [line for line, _ in _module_level_stores(ast.parse(src))]
    assert sorted(found) == [3, 4, 5, 7, 8]
