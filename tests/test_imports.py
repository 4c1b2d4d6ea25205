"""Import guard for the scripts that run outside this suite: every
``tripsu_spark`` name that bench.py, bench_extra.py, __spark_entry__.py,
jobs/, tools/ and perfbench/ import must still exist, so deleting a
name one of them uses fails here instead of at the next benchmark run.
The scripts are parsed with ``ast``, never executed; no Spark session."""

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"]
    + [p for d in ("jobs", "tools", "perfbench") for p in (ROOT / d).glob("*.py")]
)


def _tripsu_imports(path: Path):
    """(module, name) for every ``from tripsu_spark... import name`` in
    ``path``, at any nesting depth."""
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "tripsu_spark":
            yield from ((node.module, a.name) for a in node.names)


def _resolves(module: str, name: str) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_script_tripsu_imports_resolve(path):
    missing = [
        f"{module}.{name}" for module, name in _tripsu_imports(path) if not _resolves(module, name)
    ]
    assert not missing, f"{path.name} imports names that no longer exist: {missing}"


def test_guard_sees_the_scripts():
    names = {p.name for p in SCRIPTS}
    assert {"bench.py", "__spark_entry__.py", "run_pipeline.py", "workloads.py"} <= names
    assert sum(1 for p in SCRIPTS for _ in _tripsu_imports(p)) > 20


def _names(path: Path) -> list[str]:
    """Every name ``path`` imports, references or calls an attribute of."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.ImportFrom):
            out += [a.name for a in node.names]
        elif isinstance(node, ast.Name):
            out.append(node.id)
        elif isinstance(node, ast.Attribute):
            out.append(node.attr)
    return out


@pytest.mark.parametrize(
    "path", sorted((ROOT / "jobs").glob("*.py")), ids=lambda p: str(p.relative_to(ROOT))
)
def test_job_session_leaves_master_to_the_launcher(path):
    """Jobs run under spark-submit, which owns ``--master``:
    ``get_spark`` pins ``local[N]`` and would override it."""
    names = _names(path)
    assert "get_submit_spark" in names and "get_spark" not in names


def _wraps_target(node: ast.AST) -> bool:
    """``inheritable_thread_target(fn)`` or ``inheritable_thread_target(spark)(fn)``."""
    while isinstance(node, ast.Call):
        func = node.func
        name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
        if name == "inheritable_thread_target":
            return True
        node = func
    return False


def _thread_targets(source: str):
    """(line, wrapped?) for every ``<pool>.submit(target, ...)`` and
    ``Thread(target=...)`` call in ``source``."""
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Call):
            continue
        func = node.func
        name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
        if name == "submit" and node.args:
            yield node.lineno, _wraps_target(node.args[0])
        elif name == "Thread":
            target = [k.value for k in node.keywords if k.arg == "target"]
            target += node.args[1:2]  # Thread(group, target, ...)
            yield node.lineno, bool(target) and _wraps_target(target[0])


PROGRAM = sorted(p for d in ("tripsu_spark", "jobs") for p in (ROOT / d).rglob("*.py"))


def test_threads_inherit_the_callers_spark_properties():
    """A Spark job started on a plain pool thread runs without the
    caller's job group and description, so cancelling the group misses
    it and per-group metrics do not count it. Every thread target in
    the program goes through ``pyspark.util.inheritable_thread_target``."""
    found, bare = 0, []
    for path in PROGRAM:
        for line, wrapped in _thread_targets(path.read_text(encoding="utf-8")):
            found += 1
            if not wrapped:
                bare.append(f"{path.relative_to(ROOT)}:{line}")
    assert found >= 2  # the writer's quarantine and unit commits
    assert not bare, f"thread targets without inheritable_thread_target: {bare}"


def test_thread_guard_flags_a_bare_target():
    lineage = (ROOT / "tripsu_spark" / "plans" / "lineage.py").read_text(encoding="utf-8")
    bare = lineage.replace("inheritable_thread_target(spark)(", "(")
    assert bare != lineage
    assert not all(w for _, w in _thread_targets(bare))
    assert not all(w for _, w in _thread_targets("Thread(target=work).start()"))
    assert all(w for _, w in _thread_targets("Thread(target=inheritable_thread_target(work))"))
