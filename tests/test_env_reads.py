"""The package reads two environment variables, both in ``session.py``:
``SPARK_GRAFT_CPUS`` (core count) and ``SPARK_GRAFT_DRIVER_MEM``
(driver heap). Every other setting is a module constant or a parameter
that some caller passes, so a new env knob fails here."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "cdc_realtime_pipeline_spark"
ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}
_ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _key(node: ast.AST, parent: dict) -> str | None:
    """The literal variable name an env access reads, or None."""
    up = parent.get(node)
    if isinstance(up, ast.Attribute):  # os.environ.get(...)
        up = parent.get(up)
    if isinstance(up, ast.Subscript):  # os.environ[...]
        arg = up.slice
    elif isinstance(up, ast.Call) and up.args:
        arg = up.args[0]
    else:
        return None
    return arg.value if isinstance(arg, ast.Constant) else None


def _env_reads(path: pathlib.Path) -> list[tuple[int, str | None]]:
    """(line, variable name or None) for every environment access."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    reads = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in _ENV_NAMES:
            reads.append((node.lineno, _key(node, parent)))
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in _ENV_NAMES for a in node.names):
                reads.append((node.lineno, None))
    return reads


def test_only_session_reads_the_two_deployment_env_vars():
    offenders, session_keys = [], set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for line, key in _env_reads(path):
            if rel == "session.py" and key in ALLOWED:
                session_keys.add(key)
            else:
                offenders.append(f"{rel}:{line} reads {key or 'the environment'}")
    assert not offenders, offenders
    # the scan sees the reads it allows, so it is not vacuous
    assert session_keys == ALLOWED
