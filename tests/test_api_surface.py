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

The third audit checks options: a parameter must take more than one
value. Every parameter of a top-level package function or method
(keyword-only ones included, and dataclass fields, as parameters of
their class) fails when no call site in the same roots sets it (a
defaulted one), or when every call site leaves it at its default or
passes the same literal. A literal is a constant, a tuple, list or dict
of constants, or a module-level name bound to one (in the package or in
the calling file, unless a local shadows it). Call sites match by
simple name; a class name matches its ``__init__`` and its dataclass
fields; a ``*``/``**`` splat sets every parameter to unknown values;
``functools.partial(f, k=...)`` sets ``k`` (the rest are filled
later). A function that is also referenced as a value (a name load
outside a call, not shadowed by a local) has unknown callers and is
skipped. Anything else fails unless ``ALLOWED_PARAMS`` names it, with
one of three reasons: a deployment setting or seam, a fake a test
substitutes, or a size threshold that tests lower to reach a branch
production only reaches at scale — or it is set by the benchmark
harness, which changes only with the benchmark.

The fourth audit checks copies, over the package and ``tools/``
(``perfbench/`` is frozen with the benchmark, ``tests/`` is left out).
It fails when two function definitions, at any nesting depth and under
any names, have the same arguments and body (``ast.dump``, docstring
dropped), when two string or f-string literals of 5 or more source
lines (docstrings excepted) are AST-identical, or when two runs of 3 or
more consecutive statements (in any block, 120 or more AST nodes) are
identical after renaming the enclosing function's locals and every
lambda or nested-function argument by order of first use. It has no
allowlist: a copy becomes one definition both sites call or read.

The fifth audit checks the Python boundary: the package crosses into
Python through Arrow (``mapInArrow``, Arrow UDFs) only. It fails on any
``.rdd`` attribute in the package, which would pickle every row between
the JVM and a Python worker, except the partition count
``frames.ensure_parallel`` reads (``df.rdd.getNumPartitions()``, which
moves no rows). A call ``.rdd()`` is a py4j method of a JVM object, not
the DataFrame property, and is not counted."""

from __future__ import annotations

import ast
import copy
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
    ("operators/similarity.py", "kmeans_fit", "max_driver_floats"): _SIZE
    + "distributed centroid path",
    ("hfile.py", "HFileWriter.__init__", "block_size"): _SIZE
    + "multi-block files",
    ("hfile.py", "HFileWriter.__init__", "max_chunk_size"): _SIZE
    + "multi-level data index",
    ("hfile.py", "HFileWriter.__init__", "min_index_entries"): _SIZE
    + "multi-level data index",
    ("hfile.py", "HFileWriter.__init__", "bloom_block_size"): _SIZE
    + "multi-chunk bloom",
    ("streaming/stream_pipeline.py", "read_jsonl_stream",
     "max_files_per_trigger"): _SIZE + "multi-batch streams",
    ("hfile.py", "HFileWriter.__init__", "compression"): _SEAM
    + "the column family's COMPRESSION attribute (GZ for the reference "
    "table; a family without one writes NONE, which the reader also reads)",
    ("plans/pipeline.py", "process_lines", "persist"): "set by "
    "perfbench/workloads.py, whose files change only with the benchmark",
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


_VARIED = object()  # a value the audit cannot pin to one literal


def _literal(node, consts: dict, local=frozenset()):
    """The ``repr`` of a constant, a tuple/list/dict of constants or a
    module-level name bound to one; ``_VARIED`` for anything else."""
    def value(n):
        if isinstance(n, ast.Constant):
            return n.value
        if isinstance(n, ast.UnaryOp) and isinstance(n.op, (ast.USub, ast.UAdd)):
            return ast.literal_eval(ast.unparse(n))
        if isinstance(n, (ast.Tuple, ast.List)):
            return type(n) is ast.Tuple and tuple(map(value, n.elts)) or [
                *map(value, n.elts)
            ]
        if isinstance(n, ast.Dict) and None not in n.keys:
            return dict(zip(map(value, n.keys), map(value, n.values)))
        if isinstance(n, ast.Name) and n.id not in local and n.id in consts:
            if consts[n.id] is not _VARIED:
                return ast.literal_eval(consts[n.id])
        raise ValueError(ast.dump(n))

    try:
        return repr(value(node))
    except (ValueError, TypeError, SyntaxError):
        return _VARIED


def _bindings(target: ast.AST, value: ast.AST):
    """(name node, value node or None) for every name an assignment
    binds; ``a, b = 1, 2`` pairs element by element, any other unpacking
    leaves the value unknown."""
    if isinstance(target, ast.Name):
        yield target, value
    elif (
        isinstance(target, (ast.Tuple, ast.List))
        and isinstance(value, (ast.Tuple, ast.List))
        and len(target.elts) == len(value.elts)
        and not any(isinstance(e, ast.Starred) for e in target.elts)
    ):
        for t, v in zip(target.elts, value.elts):
            yield from _bindings(t, v)
    else:
        for n in ast.walk(target):
            if isinstance(n, ast.Name):
                yield n, None


def _module_consts(tree: ast.Module, consts: dict | None = None) -> dict:
    """name -> literal repr (or ``_VARIED``) for every module-level
    binding, tuple-unpacked ones element by element; a name bound twice
    to different values is ``_VARIED``."""
    out = {}
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign):
            targets, value = stmt.targets, stmt.value
        elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
            targets, value = [stmt.target], stmt.value
        else:
            continue
        for t in targets:
            for n, v in _bindings(t, value):
                lit = _VARIED if v is None else _literal(v, consts or {})
                out[n.id] = lit if out.get(n.id, lit) == lit else _VARIED
    return out


def package_consts() -> dict:
    """Module-level literal bindings across the package, by simple name."""
    out = {}
    for path in _py_files(PKG):
        for name, lit in _module_consts(_parse(path)).items():
            out[name] = lit if out.get(name, lit) == lit else _VARIED
    return out


def _signature(fn: ast.FunctionDef, method: bool, consts: dict) -> tuple:
    """(positional names a call fills, name -> default's literal repr or
    ``_VARIED``, required names) — ``self``/``cls`` dropped for
    methods."""
    pos = fn.args.posonlyargs + fn.args.args
    static = any(
        isinstance(d, ast.Name) and d.id == "staticmethod"
        for d in fn.decorator_list
    )
    if method and not static:
        pos = pos[1:]
    names = [a.arg for a in pos]
    defaults = dict(
        zip(
            reversed(names),
            [_literal(d, consts) for d in reversed(fn.args.defaults)],
        )
    )
    for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults):
        if d is not None:
            defaults[a.arg] = _literal(d, consts)
    required = [n for n in names + [a.arg for a in fn.args.kwonlyargs]
                if n not in defaults]
    return names, defaults, required


def package_parameters() -> dict[tuple[str, str], tuple]:
    """(module, function) -> (name call sites use, positional names,
    name -> default, required names) for every top-level function,
    method and dataclass."""
    pkg = package_consts()
    out = {}
    for path in _py_files(PKG):
        mod = os.path.relpath(path, PKG)
        tree = _parse(path)
        consts = {**pkg, **_module_consts(tree, pkg)}
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[(mod, stmt.name)] = (stmt.name, *_signature(stmt, False, consts))
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
                        {
                            f.target.id: _literal(f.value, consts)
                            for f in fields
                            if f.value is not None
                        },
                        [f.target.id for f in fields if f.value is None],
                    )
                for fn in stmt.body:
                    if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        called_as = stmt.name if fn.name == "__init__" else fn.name
                        out[(mod, f"{stmt.name}.{fn.name}")] = (
                            called_as, *_signature(fn, True, consts)
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


class _Site:
    """One call: the literal (or ``_VARIED``) each argument passes."""

    def __init__(self, call: ast.Call, args, consts, local, partial):
        self.args = [_literal(a, consts, local) for a in args]
        self.keywords = {
            k.arg: _literal(k.value, consts, local) for k in call.keywords
        }
        self.splat = any(isinstance(a, ast.Starred) for a in args) or (
            None in self.keywords
        )
        self.partial = partial

    def sets(self, names: list, p: str) -> bool:
        idx = names.index(p) if p in names else len(self.args)
        return self.splat or p in self.keywords or idx < len(self.args)

    def value(self, names: list, defaults: dict, p: str):
        """What this call leaves ``p`` at."""
        if self.sets(names, p):
            if self.splat:
                return _VARIED
            return self.keywords.get(p) or self.args[names.index(p)]
        if self.partial or p not in defaults:  # filled later, or another callee
            return _VARIED
        return defaults[p]


def call_sites() -> tuple[dict[str, list], set[str]]:
    """name -> [_Site] over every call in the roots, and the names those
    roots reference as values (loads outside a call's callee position,
    an annotation or a local binding)."""
    pkg = package_consts()
    calls: dict[str, list] = {}
    values: set[str] = set()
    for path in _root_files():
        tree = _parse(path)
        aliases, consts = _aliases(tree), {**pkg, **_module_consts(tree, pkg)}
        skip = set()
        for n in ast.walk(tree):
            for field in ("annotation", "returns"):
                ann = getattr(n, field, None)
                if ann is not None:
                    skip |= {id(m) for m in ast.walk(ann)}

        def visit(node, local):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                local = local | _local_names(node)
            if isinstance(node, ast.Call):
                skip.add(id(node.func))
                name, args = _callee(node.func, aliases), node.args
                partial = name == "partial" and bool(args)
                if partial:
                    skip.add(id(args[0]))
                    name, args = _callee(args[0], aliases), args[1:]
                calls.setdefault(name, []).append(
                    _Site(node, args, consts, local, partial)
                )
            if id(node) not in skip:
                if (
                    isinstance(node, ast.Name)
                    and isinstance(node.ctx, ast.Load)
                    and node.id not in local
                ):
                    values.add(aliases.get(node.id, node.id))
                elif isinstance(node, ast.Attribute) and isinstance(
                    node.ctx, ast.Load
                ):
                    values.add(node.attr)
            for child in ast.iter_child_nodes(node):
                visit(child, local)

        visit(tree, frozenset())
    return calls, values


def fixed_parameters() -> dict[tuple[str, str, str], str]:
    """(module, function, parameter) -> the one value it takes, for every
    parameter no call site in the roots sets (defaulted ones), or that
    every call site leaves at its default or sets to the same literal."""
    calls, values = call_sites()
    out = {}
    for (mod, fn), (called_as, names, defaults, required) in (
        package_parameters().items()
    ):
        if called_as in values:
            continue
        sites = calls.get(called_as, [])
        for p in [*defaults, *required]:
            if p in defaults and not any(s.sets(names, p) for s in sites):
                out[(mod, fn, p)] = "unset"
                continue
            seen = {s.value(names, defaults, p) for s in sites}
            if len(seen) == 1 and _VARIED not in seen:
                out[(mod, fn, p)] = seen.pop()
    return out


def test_package_parameters_are_set_by_a_caller():
    fixed = fixed_parameters()
    missing = {k: v for k, v in fixed.items() if k not in ALLOWED_PARAMS}
    assert not missing, (
        f"{len(missing)} parameters no query, job mode, tool or benchmark "
        f"sets, or sets to anything but one literal (inline the value and "
        f"delete the parameter, or add it to ALLOWED_PARAMS with a "
        f"reason): {sorted(missing.items())}"
    )


def test_allowed_params_stay_unset():
    """An ALLOWED_PARAMS entry whose parameter was deleted, or which a
    non-test caller now sets to more than one value, is stale."""
    assert set(ALLOWED_PARAMS) <= set(fixed_parameters())


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


# a copied run of statements: at least this many, of at least this many
# AST nodes (ast.walk's count, expression contexts included)
_RUN_STMTS, _RUN_NODES = 3, 120


def _stmt_lists(tree: ast.Module):
    """(statements, locals, owner) for every statement list in the tree
    (bodies, else and finally blocks, handlers), leading docstrings
    dropped; ``locals`` are the names the enclosing function ``owner``
    binds (none at module or class level)."""

    def visit(node, local, owner):
        if isinstance(node, _FUNCS):
            local, owner = _local_names(node), node.name
        for field in ("body", "orelse", "finalbody"):
            stmts = getattr(node, field, None)
            if isinstance(stmts, list) and stmts and isinstance(stmts[0], ast.stmt):
                if (
                    isinstance(node, (ast.Module, ast.ClassDef, *_FUNCS))
                    and ast.get_docstring(node, clean=False) is not None
                ):
                    stmts = stmts[1:]
                yield stmts, local, owner
        for child in ast.iter_child_nodes(node):
            yield from visit(child, local, owner)

    yield from visit(tree, frozenset(), "<module>")


def _renamed_dump(stmts: list, local) -> str:
    """ast.dump of ``stmts`` with every local name (and every lambda or
    nested-function argument) renamed by order of first use."""
    names: dict[str, str] = {}

    def rename(name):
        return names.setdefault(name, f"_{len(names)}")

    out = []
    for stmt in stmts:
        stmt = copy.deepcopy(stmt)
        for n in ast.walk(stmt):
            if isinstance(n, ast.Name) and n.id in local:
                n.id = rename(n.id)
            elif isinstance(n, ast.arg):
                n.arg = rename(n.arg)
            elif isinstance(n, (*_FUNCS, ast.ClassDef)) and n.name in local:
                n.name = rename(n.name)
        out.append(ast.dump(stmt))
    return "\n".join(out)


def _size(stmt: ast.stmt) -> int:
    return sum(1 for _ in ast.walk(stmt))


def duplicate_definitions() -> list[list[str]]:
    """``path:line name`` groups of function definitions with the same
    arguments and body, of multi-line literals with the same AST, and of
    statement runs that are the same after renaming locals."""
    seen: dict[tuple, list[str]] = {}
    runs: dict[str, list[tuple]] = {}
    for path in [*_py_files(PKG), *_py_files(os.path.join(REPO, "tools"))]:
        rel = os.path.relpath(path, REPO)
        tree = _parse(path)
        skip = {  # docstrings, and the constant parts of f-strings
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, *_FUNCS))
            and ast.get_docstring(n, clean=False) is not None
        } | {
            id(v)
            for n in ast.walk(tree)
            if isinstance(n, ast.JoinedStr)
            for v in n.values
        }
        for n in ast.walk(tree):
            if isinstance(n, _FUNCS):
                body = n.body
                if ast.get_docstring(n, clean=False) is not None:
                    body = body[1:]
                key = ("def", ast.dump(n.args), *map(ast.dump, body))
                seen.setdefault(key, []).append(f"{rel}:{n.lineno} {n.name}")
            elif (
                isinstance(n, ast.JoinedStr)
                or (isinstance(n, ast.Constant) and isinstance(n.value, str))
            ) and id(n) not in skip and n.end_lineno - n.lineno >= 4:
                key = ("literal", ast.dump(n))
                seen.setdefault(key, []).append(f"{rel}:{n.lineno} literal")
        # the shortest run of >= _RUN_STMTS statements and >= _RUN_NODES
        # nodes from each start: a longer copied run has it as a prefix
        for stmts, local, owner in _stmt_lists(tree):
            sizes = [_size(s) for s in stmts]
            for i in range(len(stmts)):
                j, nodes = i, 0
                while j < len(stmts) and (j - i < _RUN_STMTS or nodes < _RUN_NODES):
                    nodes += sizes[j]
                    j += 1
                if j - i >= _RUN_STMTS and nodes >= _RUN_NODES:
                    key = _renamed_dump(stmts[i:j], local)
                    runs.setdefault(key, []).append(
                        (f"{rel}:{stmts[i].lineno} statements", (rel, owner))
                    )
    dups = [sites for sites in seen.values() if len(sites) > 1]
    reported = set()  # one report per copied pair of functions
    for sites in runs.values():
        owners = frozenset(o for _, o in sites)
        if len(sites) > 1 and owners not in reported:
            reported.add(owners)
            dups.append([site for site, _ in sites])
    return dups


def test_package_defines_each_piece_once():
    dups = duplicate_definitions()
    assert not dups, (
        f"{len(dups)} groups of copied function definitions or multi-line "
        f"literals (give each one definition that every site calls or "
        f"reads): {dups}"
    )


def rdd_accesses() -> list[str]:
    """``module:line`` of every ``.rdd`` attribute (not a call) in the
    package other than ``frames.ensure_parallel``'s
    ``.rdd.getNumPartitions()``."""
    out = []
    for path in _py_files(PKG):
        rel = os.path.relpath(path, PKG)
        tree = _parse(path)
        allowed = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
        allowed |= {
            id(n.value)
            for fn in tree.body
            if rel == os.path.join("operators", "frames.py")
            and isinstance(fn, ast.FunctionDef)
            and fn.name == "ensure_parallel"
            for n in ast.walk(fn)
            if isinstance(n, ast.Attribute) and n.attr == "getNumPartitions"
        }
        out += [
            f"{rel}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr == "rdd" and id(n) not in allowed
        ]
    return out


def test_package_crosses_into_python_through_arrow_only():
    assert not rdd_accesses(), (
        "row-pickling .rdd access (use mapInArrow, as sinks._write_partitions "
        f"does): {rdd_accesses()}"
    )
