"""Static guard: the engine reads no environment variable except its two
deployment settings, so no hidden knob can switch a plan or a result.
Each size cutover is a module constant decided from a measured count;
tests reach the other path by patching that constant."""

from __future__ import annotations

import ast
from pathlib import Path

import engine

# (module file, variable): host sizing of the session, read in get_spark.
ALLOWED = {("session.py", "SPARK_GRAFT_CPUS"), ("session.py", "ENGINE_DRIVER_MEM")}


def _env_reads(tree: ast.AST):
    """Yield (line, key) for every use of ``os.environ`` / ``os.getenv``
    (under any import alias). ``key`` is the literal variable name of a
    ``.get(...)``, ``[...]`` or ``getenv(...)`` read, else None."""
    os_names, env_names = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            os_names |= {a.asname or a.name for a in node.names if a.name == "os"}
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            env_names |= {
                a.asname or a.name for a in node.names if a.name in ("environ", "getenv")
            }
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name)
            and node.value.id in os_names
        ) and not (isinstance(node, ast.Name) and node.id in env_names):
            continue
        func, up = node, parent.get(node)
        if isinstance(up, ast.Attribute) and up.attr == "get":
            func, up = up, parent.get(up)
        key = None
        if isinstance(up, ast.Call) and up.func is func and up.args:
            arg = up.args[0]
            key = arg.value if isinstance(arg, ast.Constant) else None
        elif isinstance(up, ast.Subscript) and isinstance(up.slice, ast.Constant):
            key = up.slice.value
        yield node.lineno, key


def test_engine_reads_only_deployment_env_vars():
    probe = ast.parse(
        "import os\nimport os as o\nfrom os import environ as E, getenv\n"
        "os.environ.get('A')\no.environ['B']\nos.getenv('C')\nE.get('D')\n"
        "getenv('E')\ndict(os.environ)\nos.environ.get(name)\n"
    )
    assert sorted(str(k) for _, k in _env_reads(probe)) == [
        "A", "B", "C", "D", "E", "None", "None"
    ]
    found = [
        f"{path.name}:{line} {key}"
        for path in sorted(Path(engine.__file__).parent.glob("*.py"))
        for line, key in _env_reads(ast.parse(path.read_text()))
        if (path.name, key) not in ALLOWED
    ]
    assert not found, f"engine reads environment variables: {found}"
