"""The HDI job's modules export only what the job reaches.

Every public top-level name (function, class or assignment not starting
with ``_``) defined in a job-path module must be referenced as an
identifier — a name load or an attribute, never a string — by non-test
code outside its own definition: the package, ``tools/``, ``perfbench/``
(minus its tests), ``bench.py`` or ``__spark_entry__.py``. A name only a
test calls is a test-only API and belongs in the test, or nowhere.
``ALLOWED`` lists the exceptions, each with its reason."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "uc_historic_data_importer_spark")

JOB_MODULES = [
    *(
        os.path.join("sources", f)
        for f in sorted(os.listdir(os.path.join(PKG, "sources")))
        if f.endswith(".py") and f != "__init__.py"
    ),
    "sinks.py",
    "plans/pipeline.py",
    "run.py",
    "operators/transforms.py",
    "operators/envelope.py",
    "operators/filters.py",
    "operators/keying.py",
    "operators/naming.py",
    "functions/dates.py",
    "functions/keys.py",
    "functions/json_canonical.py",
]

# (module, name) -> why it stays although no non-test code references it
ALLOWED = {
    ("sinks.py", "kv_put_sink"): "the reference's W1/W2 batched put path "
    "against a live KV store",
    ("sinks.py", "RetryingPutter"): "W2 put retry policy (HbaseClient.kt) "
    "for kv_put_sink",
    ("sinks.py", "InMemoryKVStore"): "the KV store kv_put_sink and "
    "RetryingPutter run against without HBase",
    ("sources/listing.py", "Boto3Lister"): "S3 listing backend for "
    "deployments; boto3 is not a dependency",
    ("sources/key_service.py", "mtls_context"): "the DKS mutual-TLS client "
    "context (SecureHttpClientProvider.kt) a deployment hands to "
    "HttpKeyService",
}


def _non_test_files():
    roots = [PKG, os.path.join(REPO, "tools"), os.path.join(REPO, "perfbench")]
    for root in roots:
        for d, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".py") and not f.startswith("test_"):
                    yield os.path.join(d, f)
    yield os.path.join(REPO, "bench.py")
    yield os.path.join(REPO, "__spark_entry__.py")


def _identifiers(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [t.id for t in targets if isinstance(t, ast.Name)]
    return []


def unreferenced_public_names() -> set[tuple[str, str]]:
    """(module, name) for every public job-module name no other
    top-level statement of the non-test code references."""
    # identifier -> the (file, statement index) pairs that reference it
    refs: dict[str, set[tuple[str, int]]] = {}
    for path in _non_test_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        for i, stmt in enumerate(tree.body):
            for ident in _identifiers(stmt):
                refs.setdefault(ident, set()).add((path, i))
    missing = set()
    for mod in JOB_MODULES:
        path = os.path.join(PKG, mod)
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        for i, stmt in enumerate(tree.body):
            for name in _defined(stmt):
                if name.startswith("_"):
                    continue
                if not refs.get(name, set()) - {(path, i)}:
                    missing.add((mod, name))
    return missing


def test_job_modules_export_only_reached_names():
    missing = unreferenced_public_names() - set(ALLOWED)
    assert not missing, (
        "public names no job mode, query, tool or benchmark references "
        f"(delete them, or add them to ALLOWED with a reason): {sorted(missing)}"
    )


def test_allowlist_names_still_exist_and_stay_unreferenced():
    """An ALLOWED entry whose name was deleted, or which non-test code
    now references, is stale."""
    assert set(ALLOWED) <= unreferenced_public_names()
