"""Derive the re-record set: which catalog queries reach changed functions.

The "Re-record doctrine" (README): a catalog query must re-record in the
driver window iff its CALL PATH enters a function whose semantics/plan/
code changed this round — function level, not module level (the r12
text.py precedent), over ALL catalog modules (the r13 sessions.py
precedent: event_sessionization reaches sessionize through
session_stats, which a narrower scan missed).

This tool makes the scan reusable instead of ad-hoc per round; its
output is `__spark_entry__._MODIFIED_SINCE_RECORD`:

    python3 tools/modified_queries.py sketches.hist_counts skew.salted_agg ...

Arguments are `module.function` (module = basename without .py anywhere
under the package) or bare function names. Output: every registered
catalog query whose static call graph transitively reaches any changed
function, plus the reaching path.

Resolution is by SIMPLE NAME (an over-approximation: two functions
sharing a name both count as reached) — safe for this purpose, since
over-approximating only re-records a query early. A call through an
import alias (`from m import f as _g`; `_g(...)`) counts as a call of
`f`, wherever it sits in the function, its decorators included (an
oracle SQL f-string in `@register(...)`). A top-level package function
referenced as a value (`applyInPandasWithState(_latest_state_fn, ...)`,
`parse_float=_float_orjson_semantics`) counts as called by the function
that references it, unless that function binds the name locally (a
local `run` counter is not `pipeline.run`). Names are collected
from every FunctionDef in the package, so locally-defined closures
shadowing a public name are indistinguishable from it; review the
printed paths before committing the block.
"""

from __future__ import annotations

import ast
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "uc_historic_data_importer_spark")


def _py_files():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _local_names(fn_node: ast.AST) -> set[str]:
    a = fn_node.args
    out = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
    out |= {x.arg for x in (a.vararg, a.kwarg) if x}
    for node in ast.walk(fn_node):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            out.add(node.id)
        elif node is not fn_node and isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            out.add(node.name)
    return out


def _called_names(
    fn_node: ast.AST, aliases: dict[str, str], top_level: set[str]
) -> set[str]:
    """Names fn_node calls, plus the top-level package functions it
    passes around as values."""
    out = set()
    local = _local_names(fn_node)
    for node in ast.walk(fn_node):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name):
                out.add(aliases.get(f.id, f.id))
            elif isinstance(f, ast.Attribute):
                out.add(f.attr)
        elif (
            isinstance(node, ast.Name)
            and isinstance(node.ctx, ast.Load)
            and node.id not in local
            and aliases.get(node.id, node.id) in top_level
        ):
            out.add(aliases.get(node.id, node.id))
    return out


def build_graph():
    """fn simple name -> set of called simple names; also
    (module, fn) -> fn for qualification checks, and query name -> fn."""
    calls: dict[str, set[str]] = {}
    qualified: dict[str, set[str]] = {}  # simple name -> {modules defining it}
    queries: dict[str, str] = {}  # query name -> decorated function simple name
    trees = {}
    for path in _py_files():
        with open(path) as fh:
            trees[path] = ast.parse(fh.read(), path)
    top_level = {
        node.name
        for tree in trees.values()
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    for path, tree in trees.items():
        mod = os.path.splitext(os.path.basename(path))[0]
        # `from m import f as _g` -> calls of _g in this module call f
        aliases = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                calls.setdefault(node.name, set()).update(
                    _called_names(node, aliases, top_level)
                )
                qualified.setdefault(node.name, set()).add(mod)
                for dec in node.decorator_list:
                    if (
                        isinstance(dec, ast.Call)
                        and isinstance(dec.func, ast.Name)
                        and dec.func.id == "register"
                        and dec.args
                        and isinstance(dec.args[0], ast.Constant)
                    ):
                        queries[dec.args[0].value] = node.name
    return calls, qualified, queries


def reach(calls: dict[str, set[str]], roots: set[str]) -> dict[str, list[str]]:
    """fn -> path (list of fn names from fn to a changed root) for every
    fn that transitively calls a root."""
    hit: dict[str, list[str]] = {r: [r] for r in roots}
    changed = True
    while changed:
        changed = False
        for fn, callees in calls.items():
            if fn in hit:
                continue
            for c in callees:
                if c in hit:
                    hit[fn] = [fn] + hit[c]
                    changed = True
                    break
    return hit


def main():
    if not sys.argv[1:]:
        sys.exit(__doc__)
    calls, qualified, queries = build_graph()
    roots = set()
    for arg in sys.argv[1:]:
        name = arg.rsplit(".", 1)[-1]
        if name not in calls and name not in {
            n for ns in (qualified,) for n in ns
        }:
            print(f"WARNING: {arg}: no function named {name!r} found",
                  file=sys.stderr)
        if "." in arg:
            mod = arg.rsplit(".", 1)[0]
            mods = qualified.get(name, set())
            if mods and mod not in mods:
                print(f"WARNING: {name!r} is defined in {sorted(mods)}, "
                      f"not {mod!r}", file=sys.stderr)
        roots.add(name)
    hit = reach(calls, roots)
    out = []
    for qname, fn in sorted(queries.items()):
        if fn in hit:
            out.append((qname, " -> ".join(hit[fn])))
    for qname, path in out:
        print(f"{qname:32s} via {path}")
    print(f"\n{len(out)} queries reach the changed set", file=sys.stderr)


if __name__ == "__main__":
    main()
