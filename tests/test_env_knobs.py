"""The engine reads exactly three environment variables, all deployment
settings. Measurement belongs to perfbench (from outside) and
SearchTelemetry (inside the kernels), so a new env-var switch — a stderr
tracer, a debug branch, a tuning knob — fails here first."""
import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "jvector_spark"

DEPLOYMENT_ENV = {
    "SPARK_GRAFT_CPUS",
    "JVS_DRIVER_MEMORY",
    "JVS_DRIVER_THREADS",
}


def env_reads(source: str) -> set[str]:
    """Names of the environment variables a module reads: ``environ.get``/
    ``setdefault``/``pop``, ``environ[...]``, ``... in environ`` and
    ``getenv``, through ``os`` under any alias and ``from os import
    environ/getenv [as ...]``. A read whose name is not a string literal
    is reported as ``<dynamic>``."""
    tree = ast.parse(source)
    os_names, env_names, getenv_names = set(), set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == "os":
                    os_names.add(a.asname or "os")
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            for a in node.names:
                if a.name == "environ":
                    env_names.add(a.asname or "environ")
                elif a.name == "getenv":
                    getenv_names.add(a.asname or "getenv")

    def is_os(n) -> bool:
        return isinstance(n, ast.Name) and n.id in os_names

    def is_environ(n) -> bool:
        return (isinstance(n, ast.Name) and n.id in env_names) or (
            isinstance(n, ast.Attribute) and n.attr == "environ" and is_os(n.value)
        )

    def is_getenv(n) -> bool:
        return (isinstance(n, ast.Name) and n.id in getenv_names) or (
            isinstance(n, ast.Attribute) and n.attr == "getenv" and is_os(n.value)
        )

    def name_of(n) -> str:
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            return n.value
        return "<dynamic>"

    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if is_getenv(f) or (
                isinstance(f, ast.Attribute)
                and f.attr in ("get", "setdefault", "pop")
                and is_environ(f.value)
            ):
                out.add(name_of(node.args[0]))
        elif isinstance(node, ast.Subscript) and is_environ(node.value):
            out.add(name_of(node.slice))
        elif isinstance(node, ast.Compare) and any(
            isinstance(op, (ast.In, ast.NotIn)) for op in node.ops
        ):
            if any(is_environ(c) for c in node.comparators):
                out.add(name_of(node.left))
    return out


@pytest.mark.parametrize(
    "src, names",
    [
        ('import os\nos.environ.get("A", "1")', {"A"}),
        ('import os as _os\n_os.environ["B"]', {"B"}),
        ('import os\nos.getenv("C")', {"C"}),
        ('from os import environ as e\ne.setdefault("D", "x")', {"D"}),
        ('from os import getenv\ngetenv("E")', {"E"}),
        ('import os\nif "F" in os.environ: pass', {"F"}),
        ('import os\nk = "G"\nos.environ.get(k)', {"<dynamic>"}),
        ('import os\nos.path.join("H", "I")', set()),
    ],
)
def test_env_reads_scanner(src, names):
    assert env_reads(src) == names


def test_engine_reads_only_deployment_env():
    found: dict[str, list[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        for name in env_reads(path.read_text()):
            found.setdefault(name, []).append(str(path.relative_to(PKG.parent)))
    assert set(found) == DEPLOYMENT_ENV, {
        n: f for n, f in found.items() if n not in DEPLOYMENT_ENV
    }
