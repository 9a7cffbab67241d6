"""No package definition without a production caller.

Parses every ``.py`` file of the package, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py`` with ``ast`` and checks that every top-level
function, class and method of the package is referenced outside its own
body. A reference is a ``Name``, an ``Attribute``, an import alias or a
string constant that is exactly an identifier (``getattr`` targets such as
perfbench's ``TRACED`` spans); names inside f-string expressions count,
docstrings and ``__all__`` do not. References made from inside a
definition that has no caller themselves do not count either, so the scan
iterates until nothing new turns up. Tests are not scanned: code only
tests call is what this file keeps out.

Dunder names, ``@register`` query builders (reached through the query
registry) and the names in ``ALLOWED`` are roots. The scan goes by name
only, so a definition that shares its name with a live one is not seen.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "clickhouse_mysql_data_reader_spark"

# name -> why it stays although only tests call it.
ALLOWED = {
    "backfill_embeddings": "the state's missing-embeddings error names it as the fix",
    "backfill_image_fps": "the state's missing-image-fingerprints error names it as the fix",
    "backfill_audio_fps": "the state's missing-audio-fingerprints error names it as the fix",
    "backfill_video_fps": "the state's missing-video-fingerprints error names it as the fix",
    "calibrated_quality_thresholds": "the quality-threshold errors name it as the way to fit them",
    "train_quality_classifier": "CurationConfig's classifier comment names it for the weights",
    "stage_counts": "the per-stage funnel until an observed run record replaces it",
}


def _sources() -> list[Path]:
    return [
        *sorted(PACKAGE.rglob("*.py")),
        *sorted((ROOT / "perfbench").glob("*.py")),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]


def _docstring_ids(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _all_ids(tree: ast.AST) -> set[int]:
    """Ids of every node under an ``__all__ = [...]`` assignment."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            if any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets):
                out.update(id(n) for n in ast.walk(node))
    return out


def _is_register(dec: ast.expr) -> bool:
    fn = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(fn, ast.Name) and fn.id == "register") or (
        isinstance(fn, ast.Attribute) and fn.attr == "register"
    )


def _definitions(path: Path, tree: ast.Module):
    """(key, name, node) for each top-level function/class and method."""
    rel = path.relative_to(ROOT).as_posix()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield f"{rel}:{node.name}", node.name, node
            if isinstance(node, ast.ClassDef):
                for sub in node.body:
                    if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        yield f"{rel}:{node.name}.{sub.name}", sub.name, sub


def _references(tree: ast.Module, owners: dict[int, list[str]]):
    """(name, keys of the definitions the reference sits in)."""
    skip = _docstring_ids(tree) | _all_ids(tree)

    def visit(node: ast.AST, inside: tuple[str, ...]):
        inside = inside + tuple(owners.get(id(node), ()))
        if id(node) not in skip:
            if isinstance(node, ast.Name):
                yield node.id, inside
            elif isinstance(node, ast.Attribute):
                yield node.attr, inside
            elif isinstance(node, ast.alias):
                yield node.name.rsplit(".", 1)[-1], inside
                if node.asname:
                    yield node.asname, inside
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.isidentifier()
            ):
                yield node.value, inside
        for child in ast.iter_child_nodes(node):
            yield from visit(child, inside)

    yield from visit(tree, ())


def dead_definitions(allowed=ALLOWED) -> list[str]:
    """Keys (``path:name`` or ``path:Class.method``) of definitions no root reaches."""
    defs: dict[str, str] = {}
    roots: set[str] = set()
    refs: dict[str, list[tuple[str, ...]]] = {}
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        owners: dict[int, list[str]] = {}
        if PACKAGE in path.parents:
            for key, name, node in _definitions(path, tree):
                owners.setdefault(id(node), []).append(key)
                defs[key] = name
                dunder = name.startswith("__") and name.endswith("__")
                registered = any(_is_register(d) for d in node.decorator_list)
                if dunder or registered or name in allowed:
                    roots.add(key)
        for name, inside in _references(tree, owners):
            refs.setdefault(name, []).append(inside)
    # Grow the live set from the roots: a reference counts once none of
    # the definitions it sits in is still dead (its own body included).
    dead = set(defs) - roots
    while True:
        live = {
            k
            for k in dead
            if any(not dead.intersection(inside) for inside in refs.get(defs[k], ()))
        }
        if not live:
            break
        dead -= live
    return sorted(dead)


def test_every_package_definition_has_a_production_caller():
    dead = dead_definitions()
    assert not dead, "package code only tests call:\n  " + "\n  ".join(dead)


def test_allowlist_holds_only_names_without_a_production_caller():
    dead_names = {key.rsplit(":", 1)[1].rsplit(".", 1)[-1] for key in dead_definitions(allowed=())}
    assert set(ALLOWED) - dead_names == set()
