"""Registry-order invariants for the external correctness gate.

The driver oracle-checks only the FIRST ``GATE_WINDOW`` registered
queries, so ordering mistakes silently un-verify operators (round 2
shipped 26 queries the gate never saw).  This encodes the rotation rule
from COVERAGE.md as a test: any query with no green driver row in ANY
recorded round must sit inside the window."""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_verified() -> set[str]:
    seen: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rows = json.load(open(path))
        for name, row in rows.items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False  # rows-only checks
                and not row.get("err")
            ):
                seen.add(name)
    return seen


def test_never_verified_queries_are_inside_the_gate_window():
    from magi_etl_spark.queries import GATE_WINDOW, QUERIES

    names = list(QUERIES)
    window = set(names[:GATE_WINDOW])
    verified = _driver_verified()
    never = [n for n in names if n not in verified]
    outside = [n for n in never if n not in window]
    assert not outside, (
        f"queries with no driver row in any recorded round are outside "
        f"the first-{GATE_WINDOW} gate window: {outside}"
    )


def test_every_query_has_an_oracle_or_is_documented_rows_only():
    from magi_etl_spark.queries import ORACLE, QUERIES

    missing = [n for n in QUERIES if n not in ORACLE]
    # rows-only checks are allowed but must stay a deliberate, short list
    assert len(missing) <= 3, f"queries without a DuckDB oracle: {missing}"


# --- dependency-aware re-entry rule ---------------------------------------
#
# Rule 2 of the COVERAGE.md rotation ("plan or oracle changed since the
# last driver row → back into the window") was blind to OPERATOR edits: a
# tail query justified as "green in round N, unchanged since" stayed out
# even when the operator module backing it changed after round N's gate.
# These tests close that hole: each query's transitive source set is
# derived from its imports, and a tail query whose sources changed since
# the commit its last green gate row was produced at must re-enter the
# window.
#
# Universal core files are EXEMPT from the re-entry rule: their
# dependent-query count exceeds the window's re-entry capacity
# (GATE_WINDOW minus the ≤6 never-verified wave slots rule 1 must
# front-load), so "everything re-enters" cannot fit a 50-slot window —
# an edit to such a file could otherwise never be landed at all.  Their
# gate is the all-query local DuckDB-oracle sweep
# (tests/test_queries_oracle.py, every round, at HEAD) plus the
# engine-surface slots the window re-verifies every round.  The
# exemption is NOT free-form: test_exempt_files_genuinely_exceed_window
# below recomputes each import-reachable exempt file's dependent count
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
# ``persist`` and ``reliable`` modes) and tests/test_r15_fixes.py.
_EXEMPT = {
    "magi_etl_spark/chkpt.py",
    "magi_etl_spark/tables.py",
    "magi_etl_spark/session.py",
    "magi_etl_spark/queries/__init__.py",
    "magi_etl_spark/functions/__init__.py",
    "__spark_entry__.py",
}


def _git(*args: str) -> str:
    import subprocess

    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout


def _gate_commits() -> dict[int, str]:
    """round number -> commit whose tree the driver ran that round's gate
    against (the parent of the commit that ADDED the artifact — the
    driver commits CORRECTNESS_r0N.json on top of the round's final
    HEAD)."""
    out: dict[int, str] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rel = os.path.basename(path)
        n = int(rel.split("_r")[1].split(".")[0])
        added = _git("log", "--diff-filter=A", "--format=%H", "--", rel).split()
        if added:
            out[n] = added[-1] + "^"
    return out


def _last_green_round() -> dict[str, int]:
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        n = int(os.path.basename(path).split("_r")[1].split(".")[0])
        for name, row in json.load(open(path)).items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False
                and not row.get("err")
            ):
                last[name] = max(last.get(name, 0), n)
    return last


def _module_file(modname: str) -> str | None:
    import importlib.util

    try:
        spec = importlib.util.find_spec(modname)
    except (ImportError, ValueError):
        return None
    if spec is None or not spec.origin or not spec.origin.endswith(".py"):
        return None
    return os.path.relpath(spec.origin, REPO)


def _imports_of(path: str) -> set[str]:
    """magi_etl_spark module names imported anywhere in the file
    (module-level and inside functions)."""
    import ast

    tree = ast.parse(open(os.path.join(REPO, path)).read())
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
                if _module_file(sub):
                    mods.add(sub)
    return mods


def _first_hop_deps(fn) -> set[str]:
    """Files the query FUNCTION depends on: imports written inside the
    function body, plus module-level imports of the defining module whose
    bound name the function body actually uses.  Function-level (not
    module-level) so that editing one operator does not drag every query
    of a large query module back into the window.  Module-local helper
    functions are not traced — a helper edit shows up as a change to the
    query function's own module file only if the function source changed,
    which the plan/oracle drift test below covers for the common case."""
    import ast
    import inspect
    import sys
    import textwrap

    src = textwrap.dedent(inspect.getsource(fn))
    ftree = ast.parse(src)
    used = {n.id for n in ast.walk(ftree) if isinstance(n, ast.Name)}
    mods: set[str] = set()
    for node in ast.walk(ftree):
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
                if _module_file(sub):
                    mods.add(sub)
    mod = sys.modules[fn.__module__]
    mtree = ast.parse(open(mod.__file__).read())
    for node in mtree.body:
        if isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(
            "magi_etl_spark"
        ):
            for a in node.names:
                if (a.asname or a.name) in used:
                    sub = f"{node.module}.{a.name}"
                    mods.add(sub if _module_file(sub) else node.module)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("magi_etl_spark") and (
                    (a.asname or a.name.split(".")[0]) in used
                ):
                    mods.add(a.name)
    return {f for f in (_module_file(m) for m in mods) if f}


def _transitive_files(
    first_hop: set[str], exempt: frozenset[str] | set[str] | None = None
) -> set[str]:
    """File-level closure over the magi_etl_spark import graph, stopping
    at queries/* modules (their per-query granularity is handled by the
    first hop) and exempt core files."""
    exempt = _EXEMPT if exempt is None else exempt
    seen: set[str] = set()
    frontier = list(first_hop)
    while frontier:
        f = frontier.pop()
        if f in seen or f in exempt:
            continue
        seen.add(f)
        if "/queries/" in f:
            continue
        for m in _imports_of(f):
            sub = _module_file(m)
            if sub and sub not in seen:
                frontier.append(sub)
    return seen - exempt


def test_exempt_files_genuinely_exceed_window():
    """The _EXEMPT list is valid only while each import-reachable entry
    really is too depended-upon to rotate through the window: its
    dependent-query count must exceed GATE_WINDOW minus the ≤6 wave
    slots rule 1 reserves.  Files the import graph never reaches
    (driver shims like __spark_entry__.py, session factories queries
    never import) are vacuously exempt — there is nothing to re-flag."""
    from magi_etl_spark.queries import GATE_WINDOW, QUERIES

    capacity = GATE_WINDOW - 6
    counts: dict[str, int] = {}
    for fn in QUERIES.values():
        for f in _transitive_files(_first_hop_deps(fn), exempt=frozenset()):
            counts[f] = counts.get(f, 0) + 1
    undersized = {
        f: counts[f] for f in _EXEMPT if f in counts and counts[f] <= capacity
    }
    assert not undersized, (
        f"_EXEMPT entries whose dependent count fits the {capacity}-slot "
        f"re-entry capacity must not be exempt: {undersized}"
    )
    oversized_nonexempt = {
        f: c for f, c in counts.items() if c > capacity and f not in _EXEMPT
    }
    assert not oversized_nonexempt, (
        "files whose dependent count exceeds the re-entry capacity can "
        "never rotate through the window and must be added to _EXEMPT "
        f"(with their gate documented): {oversized_nonexempt}"
    )


def _semantic_fingerprint(src: str) -> str:
    """ast.dump of the module with every docstring removed — the
    comment/docstring-insensitive identity of a Python file.  Sound for
    the re-entry rule because comments never execute and no operator
    serves ``__doc__`` into query results; a docstring-only edit cannot
    change what the driver hashes.  (The r9 rotation paid six window
    slots for a one-line docstring correction — the r9 VERDICT asked
    for exactly this exemption if it could be done soundly.)"""
    import ast

    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
        ):
            body = getattr(node, "body", None)
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:] if len(body) > 1 else [ast.Pass()]
    return ast.dump(tree)


def test_tail_queries_with_changed_sources_reenter_the_window():
    from magi_etl_spark.queries import GATE_WINDOW, QUERIES

    names = list(QUERIES)
    window = set(names[:GATE_WINDOW])
    gates = _gate_commits()
    last = _last_green_round()
    fp_cache: dict[tuple[str, str], str | None] = {}

    def _really_changed(commit: str, rel: str) -> bool:
        """True unless the file's docstring-stripped AST is identical
        between the gate commit and the CURRENT working tree (the tree
        the driver will actually run)."""
        key = (commit, rel)
        if key not in fp_cache:
            try:
                old = _semantic_fingerprint(_git("show", f"{commit}:{rel}"))
                new = _semantic_fingerprint(
                    open(os.path.join(REPO, rel)).read()
                )
                fp_cache[key] = "same" if old == new else None
            except (Exception,):  # new/deleted file, syntax drift: changed
                fp_cache[key] = None
        return fp_cache[key] != "same"

    stale: dict[str, list[str]] = {}
    for name in names:
        if name in window or name not in last or last[name] not in gates:
            continue
        deps = _transitive_files(_first_hop_deps(QUERIES[name]))
        if not deps:
            # only exempt/core deps — an empty pathspec would diff the
            # whole tree
            continue
        changed = _git(
            "diff", "--name-only", gates[last[name]], "HEAD", "--", *sorted(deps)
        ).split()
        # uncommitted edits count too, staged or not — the window must be
        # correct at the tree the external gate will actually run
        changed += _git(
            "diff", "HEAD", "--name-only", "--", *sorted(deps)
        ).split()
        real = sorted(
            {f for f in changed if _really_changed(gates[last[name]], f)}
        )
        if real:
            stale[name] = real
    assert not stale, (
        "tail queries whose transitive sources changed since their last "
        f"green driver row must re-enter the first-{GATE_WINDOW} window: {stale}"
    )


def test_tail_queries_with_changed_plan_or_oracle_reenter_the_window():
    """The query function's own source (decorator included, so the
    DuckDB oracle string too) must be unchanged since its last green
    driver row — otherwise rule 2 of the rotation applies and the query
    re-enters the window."""
    import ast
    import inspect

    from magi_etl_spark.queries import GATE_WINDOW, QUERIES

    names = list(QUERIES)
    window = set(names[:GATE_WINDOW])
    gates = _gate_commits()
    last = _last_green_round()
    old_trees: dict[tuple[str, str], dict[str, str]] = {}
    stale: list[str] = []
    for name in names:
        if name in window or name not in last or last[name] not in gates:
            continue
        fn = QUERIES[name]
        rel = os.path.relpath(inspect.getsourcefile(fn), REPO)
        def _fn_dumps(src: str) -> dict[str, str]:
            # docstring-stripped, same exemption (and rationale) as
            # _semantic_fingerprint: a docstring edit cannot change what
            # the driver hashes, so it must not burn a window slot
            out = {}
            for n in ast.parse(src).body:
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    body = n.body
                    if (
                        body
                        and isinstance(body[0], ast.Expr)
                        and isinstance(body[0].value, ast.Constant)
                        and isinstance(body[0].value.value, str)
                    ):
                        n.body = body[1:] if len(body) > 1 else [ast.Pass()]
                    out[n.name] = ast.dump(n)
            return out

        key = (gates[last[name]], rel)
        if key not in old_trees:
            try:
                old_src = _git("show", f"{key[0]}:{rel}")
            except Exception:
                old_trees[key] = {}
            else:
                old_trees[key] = _fn_dumps(old_src)
        cur = _fn_dumps(open(os.path.join(REPO, rel)).read())
        fname = fn.__name__
        if old_trees[key].get(fname) != cur.get(fname):
            stale.append(name)
    assert not stale, (
        "tail queries whose function/oracle source changed since their "
        f"last green driver row must re-enter the window: {stale}"
    )
