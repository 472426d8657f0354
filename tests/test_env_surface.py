"""The environment variables the package reads are deployment settings
only: the driver's cores, memory and result cap, and the two allocator
defaults `engine._ensure_allocator_env` sets. A new read (a behaviour
dial, say) fails here until it is added below on purpose."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEM",
    "SPARK_MAX_RESULT",
    "MALLOC_MMAP_THRESHOLD_",
    "MALLOC_TRIM_THRESHOLD_",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ"
            and isinstance(node.value, ast.Name) and node.value.id == "os")


def _loop_bindings(tree: ast.AST) -> dict[str, set]:
    """Name -> the constants a `for` loop over a literal tuple or list
    binds it to (`for var, val in (("A", ...), ("B", ...))`)."""
    bound: dict[str, set] = {}
    for node in ast.walk(tree):
        if not (isinstance(node, ast.For) and isinstance(node.iter, (ast.Tuple, ast.List))):
            continue
        targets = node.target.elts if isinstance(node.target, ast.Tuple) else [node.target]
        for item in node.iter.elts:
            values = item.elts if isinstance(item, ast.Tuple) else [item]
            for t, v in zip(targets, values):
                if isinstance(t, ast.Name) and isinstance(v, ast.Constant):
                    bound.setdefault(t.id, set()).add(v.value)
    return bound


def _names(arg: ast.AST, bound: dict[str, set], where: str) -> set:
    if isinstance(arg, ast.Constant):
        return {arg.value}
    if isinstance(arg, ast.Name) and arg.id in bound:
        return bound[arg.id]
    return {f"<unresolved {ast.unparse(arg)} at {where}>"}


def _environ_names(path: Path) -> set:
    tree = ast.parse(path.read_text(), str(path))
    bound = _loop_bindings(tree)
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    names = set()
    for node in ast.walk(tree):
        where = f"{path.relative_to(ROOT)}:{getattr(node, 'lineno', '?')}"
        if _is_environ(node):
            up = parents[node]
            if isinstance(up, ast.Subscript):
                names |= _names(up.slice, bound, where)
            elif (isinstance(up, ast.Attribute) and up.attr in ("get", "setdefault")
                  and isinstance(parents[up], ast.Call)):
                names |= _names(parents[up].args[0], bound, where)
            else:
                names.add(f"<os.environ used whole at {where}>")
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
              and node.func.attr == "getenv"):
            names |= _names(node.args[0], bound, where)
    return names


def test_environment_reads_are_deployment_settings():
    files = [*sorted((ROOT / "kafka_streams_app_spark").rglob("*.py")),
             ROOT / "__spark_entry__.py"]
    read = set().union(*(_environ_names(f) for f in files))
    assert read == ALLOWED
