"""Every entry point still resolves after code moves or deletions.

Spark-free: each `*.py` at the repo root and under `scripts/` is parsed
(not imported), and every repo-local import in it — `bench`,
`cluster_parity`, `cluster_scaling`, `scripts.*` or
`supercrawler_spark.*`, at module level or inside a function — must name
a file in the checkout, and each name taken `from` such a module must be
bound in it. Shell scripts under `scripts/` must pass `bash -n`.
"""

from __future__ import annotations

import ast
import glob
import os
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# scripts put the repo root, and the scripts dir, on sys.path
ROOTS = (REPO, os.path.join(REPO, "scripts"))
LOCAL = {"bench", "cluster_parity", "cluster_scaling", "scripts",
         "supercrawler_spark"}
ENTRY_POINTS = sorted(glob.glob(os.path.join(REPO, "*.py"))
                      + glob.glob(os.path.join(REPO, "scripts", "*.py")))


def _module_file(dotted: str) -> str | None:
    parts = dotted.split(".")
    for root in ROOTS:
        base = os.path.join(root, *parts)
        for path in (base + ".py", os.path.join(base, "__init__.py")):
            if os.path.isfile(path):
                return path
    return None


def _bound_names(path: str) -> set[str]:
    """Names bound at the top level of a module (including inside
    top-level if/try blocks)."""
    names: set[str] = set()
    todo = list(ast.parse(open(path).read(), path).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) \
                else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t)
                             if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0]
                         for a in node.names)
        elif isinstance(node, (ast.If, ast.Try)):
            todo.extend(node.body + node.orelse
                        + getattr(node, "finalbody", []))
            for h in getattr(node, "handlers", []):
                todo.extend(h.body)
    return names


def _unresolved(path: str) -> list[str]:
    missing = []
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            mods = [(a.name, []) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            mods = [(node.module, [a.name for a in node.names])]
        else:
            continue
        for mod, names in mods:
            if mod.split(".")[0] not in LOCAL:
                continue
            target = _module_file(mod)
            if target is None:
                missing.append(f"line {node.lineno}: module {mod}")
                continue
            bound = _bound_names(target) if names else set()
            missing += [f"line {node.lineno}: {mod}.{n}" for n in names
                        if n != "*" and n not in bound
                        and _module_file(f"{mod}.{n}") is None]
    return missing


@pytest.mark.parametrize("path", ENTRY_POINTS,
                         ids=lambda p: os.path.relpath(p, REPO))
def test_repo_local_imports_resolve(path):
    assert _unresolved(path) == []


def test_unresolved_import_is_caught(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text("def f():\n    import bench\n"
                   "from scripts.cluster_scaling import calibrate\n"
                   "from supercrawler_spark.session import get_spark\n")
    assert sorted(_unresolved(str(bad))) == [
        "line 2: module bench", "line 3: scripts.cluster_scaling.calibrate"]


def test_shell_scripts_parse():
    for sh in sorted(glob.glob(os.path.join(REPO, "scripts", "*.sh"))):
        res = subprocess.run(["bash", "-n", sh], capture_output=True,
                             text=True)
        assert res.returncode == 0, (sh, res.stderr)
