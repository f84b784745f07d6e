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

A second scan fails on any name a package or test module imports and
never loads (the image has no pyflakes or ruff). ``__init__.py``
re-exports, ``__future__`` imports and lines marked ``# noqa: F401``
(availability probes, registry imports) are exempt.

The third audit checks options. Every defaulted parameter of a
top-level package function or method (keyword-only ones included, and
dataclass fields with defaults, as parameters of their class) must be
set, by position or by keyword, at some call site in the same roots.
Call sites match by simple name; a class name matches its ``__init__``
and its dataclass fields; a ``*``/``**`` splat sets every parameter;
``functools.partial(f, k=...)`` sets ``k``. A function that is also
referenced as a value (a name load outside a call, not shadowed by a
local) has unknown callers and is skipped. Anything else fails unless
``ALLOWED_PARAMS`` names it, with one of three reasons: a deployment
setting or seam, a fake a test substitutes, or a size threshold that
tests lower to reach a branch production only reaches at scale."""

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
    """``module:line name`` for every imported name its package or test
    module never loads (a name load anywhere in the module counts)."""
    out = []
    tests = os.path.join(REPO, "tests")
    test_files = [os.path.join(tests, f) for f in sorted(os.listdir(tests))]
    for path in [*_py_files(PKG), *test_files]:
        if not path.endswith(".py") or os.path.basename(path) == "__init__.py":
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
                    out.append(f"{os.path.relpath(path, REPO)}:{n.lineno} {name}")
    return out


def test_package_imports_only_loaded_names():
    assert not unused_imports()


# (module, function or Class.method, parameter) -> why no non-test caller
# sets it
_SEAM = "deployment setting or seam: "
_FAKE = "fake a test substitutes: "
_SIZE = "size threshold tests lower to reach the at-scale branch: "
ALLOWED_PARAMS = {
    ("sources/crypto_source.py", "read_encrypted_jsonl", "opener"): _SEAM
    + "object-store reader for s3a/HDFS listing paths",
    ("sources/key_service.py", "HttpKeyService.__init__", "ssl_context"):
    _SEAM + "the DKS mutual-TLS context (mtls_context)",
    ("sources/key_service.py", "HttpKeyService.__init__", "timeout_s"):
    _SEAM + "DKS request timeout",
    ("sources/key_service.py", "mtls_context", "key_password"): _SEAM
    + "password of an encrypted client key",
    ("plans/pipeline.py", "run", "manifest_uploader"): _SEAM
    + "S3 client the W6 manifest upload uses",
    ("plans/pipeline.py", "run", "manifest_bucket"): _SEAM
    + "manifest bucket of the W6 upload",
    ("plans/pipeline.py", "run", "manifest_prefix"): _SEAM
    + "manifest key prefix of the W6 upload",
    ("sources/listing.py", "Boto3Lister", "client"): _SEAM
    + "S3 client; boto3's default when unset",
    ("sources/listing.py", "Boto3Lister", "uri_prefix"): _SEAM
    + "scheme the listed keys resolve under (s3a:// by default)",
    ("sources/listing.py", "list_objects", "sleep"): _FAKE
    + "retry backoff clock",
    ("sinks.py", "send_manifest", "sleep"): _FAKE + "retry backoff clock",
    ("sources/key_service.py", "HttpKeyService.__init__", "sleep"): _FAKE
    + "retry backoff clock",
    ("run.py", "main", "argv"): _FAKE + "command line",
    ("operators/multimodal.py", "extract_features", "decoder"): _FAKE
    + "the PIL/torchvision decode seam, parity-pinned against the "
    "stdlib decoder",
    ("operators/packing.py", "pack_concat_chunks", "encode"): _FAKE
    + "tokenizer (a real BPE encoder in production)",
    ("operators/similarity.py", "_cell_column", "exact_max_rows"): _SIZE
    + "Arrow matmul cell assignment",
    ("operators/similarity.py", "cosine_neardup_pairs", "exact_max_rows"):
    _SIZE + "per-cell numpy pair scan",
    ("operators/similarity.py", "ivf_topk", "exact_max_rows"): _SIZE
    + "per-cell numpy top-k",
    ("operators/similarity.py", "kmeans_fit", "exact_max_rows"): _SIZE
    + "Arrow matmul assignment",
    ("operators/similarity.py", "kmeans_fit", "max_driver_floats"): _SIZE
    + "distributed centroid path",
    ("operators/similarity.py", "semdedup", "exact_max_rows"): _SIZE
    + "per-cell numpy pair scan",
    ("hfile.py", "HFileWriter.__init__", "block_size"): _SIZE
    + "multi-block files",
    ("hfile.py", "HFileWriter.__init__", "max_chunk_size"): _SIZE
    + "multi-level data index",
    ("hfile.py", "HFileWriter.__init__", "min_index_entries"): _SIZE
    + "multi-level data index",
    ("hfile.py", "HFileWriter.__init__", "bloom_block_size"): _SIZE
    + "multi-chunk bloom",
    ("operators/bloom.py", "bloom_anti_join", "broadcast_max_existing"):
    _SIZE + "two-branch Bloom route",
    ("streaming/stream_pipeline.py", "read_jsonl_stream",
     "max_files_per_trigger"): _SIZE + "multi-batch streams",
}


def _is_dataclass(cls: ast.ClassDef) -> bool:
    return any(
        (isinstance(d, ast.Name) and d.id == "dataclass")
        or (
            isinstance(d, ast.Call)
            and isinstance(d.func, ast.Name)
            and d.func.id == "dataclass"
        )
        for d in cls.decorator_list
    )


def _signature(fn: ast.FunctionDef, method: bool) -> tuple[list, list]:
    """(positional names a call fills, defaulted names) — ``self``/``cls``
    dropped for methods."""
    pos = fn.args.posonlyargs + fn.args.args
    static = any(
        isinstance(d, ast.Name) and d.id == "staticmethod"
        for d in fn.decorator_list
    )
    if method and not static:
        pos = pos[1:]
    names = [a.arg for a in pos]
    n_def = len(fn.args.defaults)
    defaulted = names[len(names) - n_def:] if n_def else []
    defaulted += [
        a.arg
        for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
        if d is not None
    ]
    return names, defaulted


def defaulted_parameters() -> dict[tuple[str, str], tuple[str, list, list]]:
    """(module, function) -> (name call sites use, positional names,
    defaulted names) for every top-level function, method and
    dataclass."""
    out = {}
    for path in _py_files(PKG):
        mod = os.path.relpath(path, PKG)
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[(mod, stmt.name)] = (stmt.name, *_signature(stmt, False))
            elif isinstance(stmt, ast.ClassDef):
                if _is_dataclass(stmt):
                    fields = [
                        s
                        for s in stmt.body
                        if isinstance(s, ast.AnnAssign)
                        and isinstance(s.target, ast.Name)
                    ]
                    out[(mod, stmt.name)] = (
                        stmt.name,
                        [f.target.id for f in fields],
                        [f.target.id for f in fields if f.value is not None],
                    )
                for fn in stmt.body:
                    if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        called_as = stmt.name if fn.name == "__init__" else fn.name
                        out[(mod, f"{stmt.name}.{fn.name}")] = (
                            called_as, *_signature(fn, True)
                        )
    return out


def _root_files():
    yield from _py_files(PKG)
    for root in ("tools", "perfbench"):
        yield from _py_files(os.path.join(REPO, root))
    for f in ("bench.py", "__spark_entry__.py"):
        yield os.path.join(REPO, f)


def _callee(node: ast.AST, aliases: dict[str, str]) -> str | None:
    if isinstance(node, ast.Name):
        return aliases.get(node.id, node.id)
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _local_names(fn) -> set[str]:
    a = fn.args
    out = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
    out |= {x.arg for x in (a.vararg, a.kwarg) if x}
    for n in ast.walk(fn):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif n is not fn and isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            out.add(n.name)
    return out


def _value_refs(node, local, skip, aliases, out) -> None:
    """Names loaded outside a call's callee position, an annotation or
    a local binding."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
        local = local | _local_names(node)
    if id(node) not in skip:
        if (
            isinstance(node, ast.Name)
            and isinstance(node.ctx, ast.Load)
            and node.id not in local
        ):
            out.add(aliases.get(node.id, node.id))
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            out.add(node.attr)
    for child in ast.iter_child_nodes(node):
        _value_refs(child, local, skip, aliases, out)


def call_sites() -> tuple[dict[str, list], set[str]]:
    """name -> [(positional count, keywords, splat)] over every call in
    the roots, and the names those roots reference as values."""
    calls: dict[str, list] = {}
    values: set[str] = set()
    for path in _root_files():
        tree = _parse(path)
        aliases = _aliases(tree)
        skip = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                skip.add(id(n.func))
                name, args = _callee(n.func, aliases), n.args
                if name == "partial" and args:
                    skip.add(id(args[0]))
                    name, args = _callee(args[0], aliases), args[1:]
                splat = any(isinstance(a, ast.Starred) for a in args) or any(
                    k.arg is None for k in n.keywords
                )
                calls.setdefault(name, []).append(
                    (len(args), {k.arg for k in n.keywords}, splat)
                )
            for field in ("annotation", "returns"):
                ann = getattr(n, field, None)
                if ann is not None:
                    skip |= {id(m) for m in ast.walk(ann)}
        _value_refs(tree, frozenset(), skip, aliases, values)
    return calls, values


def unset_parameters() -> set[tuple[str, str, str]]:
    """(module, function, parameter) for every defaulted parameter no
    call site in the roots sets."""
    calls, values = call_sites()
    out = set()
    for (mod, fn), (called_as, names, defaulted) in defaulted_parameters().items():
        if called_as in values:
            continue
        sites = calls.get(called_as, [])
        for p in defaulted:
            idx = names.index(p) if p in names else None
            if not any(
                splat or p in kws or (idx is not None and n_pos > idx)
                for n_pos, kws, splat in sites
            ):
                out.add((mod, fn, p))
    return out


def test_package_parameters_are_set_by_a_caller():
    unset = unset_parameters()
    missing = unset - set(ALLOWED_PARAMS)
    assert not missing, (
        f"{len(missing)} defaulted parameters no query, job mode, tool or "
        f"benchmark sets (inline the default and delete the parameter, or "
        f"add it to ALLOWED_PARAMS with a reason): {sorted(missing)}"
    )


def test_allowed_params_stay_unset():
    """An ALLOWED_PARAMS entry a non-test caller now sets, or whose
    parameter was deleted, is stale."""
    assert set(ALLOWED_PARAMS) <= unset_parameters()
