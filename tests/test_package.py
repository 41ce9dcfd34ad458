"""The --py-files artifact must be importable from the zip alone (the
executor-side condition of the spark-submit run mode): build it, then in a
clean subprocess whose only package path is the zip, import the modules
the cluster surface needs and run the pure-Python mention lexer."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import zipfile

from kgforge.package import build_zip

CHILD = r"""
import sys
sys.path.insert(0, sys.argv[1])
import kgforge, kgforge.pipeline, kgforge.lexer, kgforge.constants
import kgforge.stages.mentions, kgforge.stages.link, kgforge.stages.canonical
import kgforge.stages.materialize, kgforge.checkpoint, kgforge.schemas
import kgforge.simjoin, kgforge.iterate, kgforge.operators.dedup
assert kgforge.__file__.startswith(sys.argv[1]), kgforge.__file__
ms = kgforge.lexer.lex("python", "pkg/mod.py", "import os\ndef f():\n    pass\n")
kinds = {m[0] for m in ms}
assert "module" in kinds and "import" in kinds, ms
print("ZIPOK", len(ms))
"""


def test_pyfiles_zip_is_self_contained(tmp_path):
    out = str(tmp_path / "kgforge.zip")
    n = build_zip(out)
    assert n > 20
    names = zipfile.ZipFile(out).namelist()
    assert "kgforge/pipeline.py" in names
    assert "kgforge/data/ontology.yml" in names  # bundled data rides along
    assert not any("__pycache__" in m for m in names)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", CHILD, out],
        cwd=str(tmp_path),  # not the repo — the zip must stand alone
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert "ZIPOK" in res.stdout


# The only environment variables library code may read: deployment
# settings of the session and the catalog.  A tuning knob belongs in a
# module constant (tests monkeypatch it) or a parameter a caller sets.
DEPLOYMENT_ENV = {"SPARK_GRAFT_CPUS", "KGFORGE_DRIVER_MEM", "KGFORGE_LOCAL_DIR", "KGFORGE_TABLE_FORMAT"}


def _env_reads(tree) -> list[tuple[int, str | None]]:
    """(line, variable) of every ``os.environ`` / ``os.getenv`` use in
    ``tree``; the variable is None when it is not a string literal."""

    def is_os(node, attr):
        return (
            isinstance(node, ast.Attribute)
            and node.attr == attr
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )

    def literal(node):
        return node.value if isinstance(node, ast.Constant) and isinstance(node.value, str) else None

    parents = {child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)}
    reads = []
    for node in ast.walk(tree):
        if is_os(node, "getenv"):
            call = parents.get(node)
            arg = call.args[0] if isinstance(call, ast.Call) and call.args else None
            reads.append((node.lineno, literal(arg)))
        elif is_os(node, "environ"):
            up = parents.get(node)
            if isinstance(up, ast.Subscript):  # os.environ["X"]
                key = up.slice
            elif isinstance(up, ast.Compare):  # "X" in os.environ
                key = up.left
            elif isinstance(up, ast.Attribute) and isinstance(parents.get(up), ast.Call):
                call = parents[up]  # os.environ.get("X", ...)
                key = call.args[0] if call.args else None
            else:
                key = None
            reads.append((node.lineno, literal(key)))
    return reads


def _library_modules():
    """(path relative to the repo, parsed tree) of every module under kgforge/."""
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "kgforge")
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, os.path.dirname(root)), ast.parse(f.read(), path)


def test_library_reads_only_deployment_env():
    """No module under kgforge/ reads an env var other than the
    deployment settings: a knob only a bench sets is not library API."""
    bad = [
        f"{rel}:{ln} {var}"
        for rel, tree in _library_modules()
        for ln, var in _env_reads(tree)
        if var not in DEPLOYMENT_ENV
    ]
    assert not bad, f"env reads outside the deployment settings: {bad}"


def _limit_collects(tree) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every ``<frame>.limit(...).collect()``
    in ``tree``."""
    found = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                inner = child.func.value
                if (
                    child.func.attr == "collect"
                    and isinstance(inner, ast.Call)
                    and isinstance(inner.func, ast.Attribute)
                    and inner.func.attr == "limit"
                ):
                    found.append((child.lineno, fn))
            is_fn = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_fn else fn)

    visit(tree, None)
    return found


def test_driver_probes_go_through_driver_rows():
    """Every capped collect under kgforge/ is ``session.driver_rows``,
    the one place the driver-size policy lives: a probe written inline
    could again pass a truncated table off as the whole one."""
    bad = [
        f"{rel}:{ln}"
        for rel, tree in _library_modules()
        for ln, fn in _limit_collects(tree)
        if (rel, fn) != ("kgforge/session.py", "driver_rows")
    ]
    assert not bad, f"limit(...).collect() outside session.driver_rows: {bad}"
