"""Per-session state lives in ``session.py``, in the one memo
(``memo_persist``) and its neighbours. A module-level name bound to an
empty ``{}``, ``dict()``, ``set()``, ``[]`` or ``list()`` anywhere else
in the package is a private cache with its own key and its own release
rule, so a new one fails here."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "cdc_realtime_pipeline_spark"
_EMPTY_CALLS = {"dict", "set", "list"}


def _is_empty_container(node: ast.AST | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in _EMPTY_CALLS
        and not node.args
        and not node.keywords
    )


def _module_level_caches(path: pathlib.Path) -> list[int]:
    """Lines of module-level assignments of an empty container."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    return [
        node.lineno
        for node in tree.body
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and _is_empty_container(node.value)
    ]


def test_only_session_holds_module_level_caches():
    offenders, in_session = [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for line in _module_level_caches(path):
            (in_session if rel == "session.py" else offenders).append(f"{rel}:{line}")
    assert not offenders, offenders
    # the scan sees the session memo itself, so it is not vacuous
    assert in_session
