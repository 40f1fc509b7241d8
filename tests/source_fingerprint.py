"""Source fingerprints of registered queries and the parity ledger.

A query's fingerprint hashes what decides its result: the query
function's docstring-stripped AST (decorator included), its oracle
string, and the docstring-stripped AST of every file in its transitive
``magi_etl_spark`` dependency set.  ``tools/parity_sweep.py`` records,
per query and scale-factor directory, the fingerprint it checked and
the DuckDB verdict in ``PARITY_LEDGER.json``;
``tests/test_gate_window.py`` reads the same ledger and computes the
same dependency sets for its re-entry rule.
"""

from __future__ import annotations

import ast
import hashlib
import importlib.util
import inspect
import json
import os
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "PARITY_LEDGER.json")
# a tail query's re-entry is discharged by green rows at both scales
LEDGER_SCALES = ("sf0.01", "sf0.1")

# Universal core files are EXEMPT from the re-entry rule: their
# dependent-query count exceeds the window's re-entry capacity
# (GATE_WINDOW minus the ≤6 never-verified wave slots rule 1 must
# front-load), so "everything re-enters" cannot fit a 50-slot window —
# an edit to such a file could otherwise never be landed at all.  Their
# gate is the all-query local DuckDB-oracle sweep
# (tests/test_queries_oracle.py, every round, at HEAD) plus the
# engine-surface slots the window re-verifies every round.  The
# exemption is NOT free-form: test_exempt_files_genuinely_exceed_window
# recomputes each import-reachable exempt file's dependent count
# with the exemption disabled and fails if it fits the window — a small
# file can never hide here.  Measured at r12: tables.py 238,
# queries/__init__.py 92, functions/__init__.py 63 dependents (the
# shared scalar-function/fan_out layer; the r12 window still drove 26
# of its dependents through the gate after its conf-parse hardening);
# next-largest non-exempt file 37 (functions/text.py) — inside
# capacity, so the rule still bites everywhere else.  chkpt.py joined at
# 46 dependents once the operator barriers were routed through
# ``chkpt.materialize``; its extra gate is tests/test_chkpt_single_path.py
# (every routed operator family against its oracle under the
# ``reliable`` mode) and tests/test_r15_fixes.py.
EXEMPT = frozenset({
    "magi_etl_spark/chkpt.py",
    "magi_etl_spark/tables.py",
    "magi_etl_spark/session.py",
    "magi_etl_spark/queries/__init__.py",
    "magi_etl_spark/functions/__init__.py",
    "__spark_entry__.py",
})


def module_file(modname: str) -> str | None:
    try:
        spec = importlib.util.find_spec(modname)
    except (ImportError, ValueError):
        return None
    if spec is None or not spec.origin or not spec.origin.endswith(".py"):
        return None
    return os.path.relpath(spec.origin, REPO)


def _imported_modules(tree: ast.AST) -> set[str]:
    """magi_etl_spark module names imported anywhere in ``tree``."""
    mods: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("magi_etl_spark"):
                    mods.add(a.name)
        elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(
            "magi_etl_spark"
        ):
            mods.add(node.module)
            for a in node.names:
                sub = f"{node.module}.{a.name}"
                if module_file(sub):
                    mods.add(sub)
    return mods


def first_hop_deps(fn) -> set[str]:
    """Files the query FUNCTION depends on: imports written inside the
    function body, plus module-level imports of the defining module whose
    bound name the function body actually uses.  Function-level (not
    module-level) so that editing one operator does not drag every query
    of a large query module back into the window.  Module-local helper
    functions are not traced — a helper edit shows up as a change to the
    query function's own module file only if the function source changed,
    which the plan/oracle drift rule covers for the common case."""
    ftree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    used = {n.id for n in ast.walk(ftree) if isinstance(n, ast.Name)}
    mods = _imported_modules(ftree)
    mtree = ast.parse(open(sys.modules[fn.__module__].__file__).read())
    for node in mtree.body:
        if isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(
            "magi_etl_spark"
        ):
            for a in node.names:
                if (a.asname or a.name) in used:
                    sub = f"{node.module}.{a.name}"
                    mods.add(sub if module_file(sub) else node.module)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("magi_etl_spark") and (
                    (a.asname or a.name.split(".")[0]) in used
                ):
                    mods.add(a.name)
    return {f for f in (module_file(m) for m in mods) if f}


def transitive_files(first_hop: set[str], exempt: frozenset[str] = EXEMPT) -> set[str]:
    """File-level closure over the magi_etl_spark import graph, stopping
    at queries/* modules (their per-query granularity is handled by the
    first hop) and exempt core files."""
    seen: set[str] = set()
    frontier = list(first_hop)
    while frontier:
        f = frontier.pop()
        if f in seen or f in exempt:
            continue
        seen.add(f)
        if "/queries/" in f:
            continue
        tree = ast.parse(open(os.path.join(REPO, f)).read())
        for m in _imported_modules(tree):
            sub = module_file(m)
            if sub and sub not in seen:
                frontier.append(sub)
    return seen - exempt


def _strip_docstring(node: ast.AST) -> None:
    body = getattr(node, "body", None)
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        node.body = body[1:] if len(body) > 1 else [ast.Pass()]


def semantic_fingerprint(src: str) -> str:
    """ast.dump of the module with every docstring removed — the
    comment/docstring-insensitive identity of a Python file.  Sound for
    the re-entry rule because comments never execute and no operator
    serves ``__doc__`` into query results; a docstring-only edit cannot
    change what the driver hashes."""
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
        ):
            _strip_docstring(node)
    return ast.dump(tree)


def function_dumps(src: str) -> dict[str, str]:
    """Top-level function name -> its docstring-stripped AST dump,
    decorators included (so an oracle written in the decorator too)."""
    out = {}
    for n in ast.parse(src).body:
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            _strip_docstring(n)
            out[n.name] = ast.dump(n)
    return out


def query_fingerprint(fn, oracle: str | None) -> str:
    """Hash of the query function, its oracle string and the semantic
    fingerprint of every file in its dependency set."""
    h = hashlib.sha256()
    src = open(inspect.getsourcefile(fn)).read()
    h.update(function_dumps(src)[fn.__name__].encode())
    h.update(b"\0" + (b"-" if oracle is None else b"+" + oracle.encode()))
    for rel in sorted(transitive_files(first_hop_deps(fn))):
        h.update(f"\0{rel}\0".encode())
        h.update(semantic_fingerprint(open(os.path.join(REPO, rel)).read()).encode())
    return h.hexdigest()[:16]


def load_ledger(path: str = LEDGER) -> dict[str, dict[str, dict]]:
    """query -> scale-factor directory name -> ``{"fp", "ok"}``."""
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def save_ledger(ledger: dict[str, dict[str, dict]], path: str = LEDGER) -> None:
    """One line per query, so a sweep's diff shows the rows it rewrote."""
    rows = (
        f" {json.dumps(n)}: {json.dumps(ledger[n], sort_keys=True)}"
        for n in sorted(ledger)
    )
    with open(path, "w") as fh:
        fh.write("{\n" + ",\n".join(rows) + "\n}\n")


def ledger_discharged(rows: dict[str, dict], fp: str) -> bool:
    """True when ``rows`` (one query's ledger entry) holds a green row
    at every scale in LEDGER_SCALES, each taken at fingerprint ``fp``."""
    return all(
        rows.get(sf, {}).get("ok") is True and rows[sf].get("fp") == fp
        for sf in LEDGER_SCALES
    )
