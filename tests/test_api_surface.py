"""The package holds only code that something other than a test reaches.

The audit parses every module under ``uc_historic_data_importer_spark/``
and walks references from these roots:

- every ``@register``-decorated catalog query function;
- every top-level package statement that defines nothing (``if``,
  ``try``, expression statements, ...);
- all non-test code in ``tools/``, ``perfbench/``, ``bench.py`` and
  ``__spark_entry__.py``.

A reference is an identifier — a name load or an attribute, never a
string — and reaches every top-level package definition of that name;
``from m import a as b`` makes ``b`` a reference to ``a``. A reached
definition's own body is followed in turn. Every top-level definition
(function, class or assignment, private names included; only dunders are
exempt) that no root reaches fails the audit unless ``ALLOWED`` names it,
with its reason.

A second scan fails on any name a package module imports and never loads
(the image has no pyflakes or ruff). ``__init__.py`` re-exports,
``__future__`` imports and lines marked ``# noqa: F401`` (availability
probes) are exempt."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "uc_historic_data_importer_spark")

# (module relative to the package, name) -> why it stays unreached
ALLOWED = {
    ("sources/listing.py", "Boto3Lister"): "S3 listing adapter for "
    "deployments; boto3 is not a dependency",
    ("sources/key_service.py", "mtls_context"): "the DKS mutual-TLS client "
    "context (SecureHttpClientProvider.kt) a deployment hands to "
    "HttpKeyService",
    ("functions/imagecodec.py", "encode_jpeg_gray"): "reference encoder the "
    "decoder tests and the encode_jpeg_gray_batch parity test compare "
    "against",
    ("functions/imagecodec.py", "encode_jpeg_rgb"): "reference encoder the "
    "colour-JPEG decoder tests compare against",
    ("hfile.py", "bloom_maybe_contains"): "reader-side probe test_hfile uses "
    "to check the writer's bloom chunks",
    ("operators/multimodal.py", "MEDIA_SCHEMA"): "the media operators' "
    "declared input schema",
}


def _py_files(root: str):
    for d, _dirs, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py") and not f.startswith("test_"):
                yield os.path.join(d, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _aliases(tree: ast.AST) -> dict[str, str]:
    """``b`` -> ``a`` for every ``from m import a as b``."""
    return {
        a.asname: a.name
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
        for a in n.names
        if a.asname
    }


def _identifiers(node: ast.AST, aliases: dict[str, str]) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(aliases.get(n.id, n.id))
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return []


def _is_query(stmt: ast.stmt) -> bool:
    return isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "register"
        for d in stmt.decorator_list
    )


def unreached_definitions() -> set[tuple[str, str]]:
    """(module, name) for every non-dunder top-level package definition
    no root reaches."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}  # name -> (module, refs)
    frontier: set[str] = set()
    for path in _py_files(PKG):
        mod = os.path.relpath(path, PKG)
        tree = _parse(path)
        aliases = _aliases(tree)
        for stmt in tree.body:
            refs = _identifiers(stmt, aliases)
            names = _defined(stmt)
            if _is_query(stmt):
                frontier.add(stmt.name)
            elif not names:
                frontier |= refs
            for name in names:
                if not name.startswith("__"):
                    defs.setdefault(name, []).append((mod, refs))
    for root in (os.path.join(REPO, "tools"), os.path.join(REPO, "perfbench")):
        for path in _py_files(root):
            tree = _parse(path)
            frontier |= _identifiers(tree, _aliases(tree))
    for f in ("bench.py", "__spark_entry__.py"):
        tree = _parse(os.path.join(REPO, f))
        frontier |= _identifiers(tree, _aliases(tree))

    reached: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in reached:
            continue
        reached.add(name)
        for _mod, refs in defs.get(name, ()):
            frontier |= refs - reached
    return {
        (mod, name)
        for name, sites in defs.items()
        if name not in reached
        for mod, _refs in sites
    }


def test_package_defines_only_reached_names():
    unreached = unreached_definitions()
    missing = unreached - set(ALLOWED)
    assert not missing, (
        f"{len(unreached)} definitions no query, job mode, tool or "
        f"benchmark reaches; {len(missing)} are not in ALLOWED (delete "
        f"them, or add them with a reason): {sorted(missing)}; in "
        f"ALLOWED: {sorted(unreached & set(ALLOWED))}"
    )


def test_allowlist_names_still_exist_and_stay_unreferenced():
    """An ALLOWED entry whose name was deleted, or which non-test code
    now reaches, is stale."""
    assert set(ALLOWED) <= unreached_definitions()


def unused_imports() -> list[str]:
    """``module:line name`` for every imported name its package module
    never loads (a name load anywhere in the module counts)."""
    out = []
    for path in _py_files(PKG):
        if os.path.basename(path) == "__init__.py":
            continue
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        tree, lines = ast.parse(src, path), src.splitlines()
        loaded = {
            n.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
        }
        for n in ast.walk(tree):
            if (
                not isinstance(n, (ast.Import, ast.ImportFrom))
                or getattr(n, "module", None) == "__future__"
                or "noqa: F401" in lines[n.lineno - 1]
            ):
                continue
            for a in n.names:
                name = a.asname or a.name.split(".")[0]
                if name not in loaded:
                    out.append(f"{os.path.relpath(path, PKG)}:{n.lineno} {name}")
    return out


def test_package_imports_only_loaded_names():
    assert not unused_imports()
