"""Registry-order invariants for the external correctness gate.

The driver oracle-checks only the FIRST ``GATE_WINDOW`` queries of
``__spark_entry__.queries()``, whose order ``window_order`` computes from
the recorded ``CORRECTNESS_r*.json`` rows.  Rule 1: any query with no
green driver row in ANY recorded round must sit inside the window.
Rule 2: a tail query whose sources changed since its last green driver
row must sit inside the window, unless the parity ledger holds green
rows at sf0.01 and sf0.1 taken at its current source fingerprint."""

from __future__ import annotations

import os
import subprocess

from tests.source_fingerprint import (
    EXEMPT,
    LEDGER_SCALES,
    REPO,
    first_hop_deps,
    function_dumps,
    ledger_discharged,
    load_ledger,
    query_fingerprint,
    semantic_fingerprint,
    transitive_files,
)


def _window() -> tuple[list[str], set[str]]:
    import __spark_entry__ as E

    names = list(E.queries())
    return names, set(names[: E.GATE_WINDOW])


def test_never_verified_queries_are_inside_the_gate_window():
    import __spark_entry__ as E

    names, window = _window()
    verified = E.last_green_round(E.correctness_rows())
    never = [n for n in names if n not in verified]
    outside = [n for n in never if n not in window]
    assert not outside, (
        f"queries with no driver row in any recorded round are outside "
        f"the first-{E.GATE_WINDOW} gate window: {outside}"
    )


def test_every_query_has_an_oracle_or_is_documented_rows_only():
    from magi_etl_spark.queries import ORACLE, QUERIES

    missing = [n for n in QUERIES if n not in ORACLE]
    # rows-only checks are allowed but must stay a deliberate, short list
    assert len(missing) <= 3, f"queries without a DuckDB oracle: {missing}"


# --- dependency-aware re-entry rule ---------------------------------------
#
# Rule 2 ("plan or oracle changed since the last driver row → back into
# the window") sees OPERATOR edits: each query's transitive source set is
# derived from its imports (tests/source_fingerprint.py), and a tail
# query whose sources changed since the commit its last green gate row
# was produced at must re-enter the window — or be discharged by the
# parity ledger at its current fingerprint.


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout


def _gate_commits() -> dict[int, str]:
    """round number -> commit whose tree the driver ran that round's gate
    against (the parent of the commit that ADDED the artifact — the
    driver commits CORRECTNESS_r0N.json on top of the round's final
    HEAD)."""
    import __spark_entry__ as E

    out: dict[int, str] = {}
    for n in E.correctness_rows():
        rel = f"CORRECTNESS_r{n:02d}.json"
        added = _git("log", "--diff-filter=A", "--format=%H", "--", rel).split()
        if added:
            out[n] = added[-1] + "^"
    return out


def _tail_since_gate():
    """(name, fn, gate commit of its last green row) for every query
    outside the window that has a green driver row."""
    import __spark_entry__ as E
    from magi_etl_spark.queries import QUERIES

    names, window = _window()
    gates = _gate_commits()
    last = E.last_green_round(E.correctness_rows())
    for name in names:
        if name in window or name not in last or last[name] not in gates:
            continue
        yield name, QUERIES[name], gates[last[name]]


def _discharged(name: str, fn, ledger) -> bool:
    from magi_etl_spark.queries import ORACLE

    return ledger_discharged(
        ledger.get(name, {}), query_fingerprint(fn, ORACLE.get(name))
    )


def test_exempt_files_genuinely_exceed_window():
    """The EXEMPT list is valid only while each import-reachable entry
    really is too depended-upon to rotate through the window: its
    dependent-query count must exceed GATE_WINDOW minus the ≤6 wave
    slots rule 1 reserves.  Files the import graph never reaches
    (driver shims like __spark_entry__.py, session factories queries
    never import) are vacuously exempt — there is nothing to re-flag."""
    from __spark_entry__ import GATE_WINDOW
    from magi_etl_spark.queries import QUERIES

    capacity = GATE_WINDOW - 6
    counts: dict[str, int] = {}
    for fn in QUERIES.values():
        for f in transitive_files(first_hop_deps(fn), exempt=frozenset()):
            counts[f] = counts.get(f, 0) + 1
    undersized = {
        f: counts[f] for f in EXEMPT if f in counts and counts[f] <= capacity
    }
    assert not undersized, (
        f"EXEMPT entries whose dependent count fits the {capacity}-slot "
        f"re-entry capacity must not be exempt: {undersized}"
    )
    oversized_nonexempt = {
        f: c for f, c in counts.items() if c > capacity and f not in EXEMPT
    }
    assert not oversized_nonexempt, (
        "files whose dependent count exceeds the re-entry capacity can "
        "never rotate through the window and must be added to EXEMPT "
        f"(with their gate documented): {oversized_nonexempt}"
    )


def test_tail_queries_with_changed_sources_reenter_the_window():
    ledger = load_ledger()
    fp_cache: dict[tuple[str, str], bool] = {}

    def _really_changed(commit: str, rel: str) -> bool:
        """True unless the file's docstring-stripped AST is identical
        between the gate commit and the CURRENT working tree (the tree
        the driver will actually run)."""
        key = (commit, rel)
        if key not in fp_cache:
            try:
                old = semantic_fingerprint(_git("show", f"{commit}:{rel}"))
                new = semantic_fingerprint(open(os.path.join(REPO, rel)).read())
                fp_cache[key] = old != new
            except (Exception,):  # new/deleted file, syntax drift: changed
                fp_cache[key] = True
        return fp_cache[key]

    stale: dict[str, list[str]] = {}
    for name, fn, gate in _tail_since_gate():
        deps = transitive_files(first_hop_deps(fn))
        if not deps:
            # only exempt/core deps — an empty pathspec would diff the
            # whole tree
            continue
        changed = _git("diff", "--name-only", gate, "HEAD", "--", *sorted(deps)).split()
        # uncommitted edits count too, staged or not — the window must be
        # correct at the tree the external gate will actually run
        changed += _git("diff", "HEAD", "--name-only", "--", *sorted(deps)).split()
        real = sorted({f for f in changed if _really_changed(gate, f)})
        if real and not _discharged(name, fn, ledger):
            stale[name] = real
    assert not stale, (
        "tail queries whose transitive sources changed since their last "
        "green driver row must re-enter the gate window or have green "
        f"parity-ledger rows at {LEDGER_SCALES} at their current "
        f"fingerprint (tools/parity_sweep.py): {stale}"
    )


def test_tail_queries_with_changed_plan_or_oracle_reenter_the_window():
    """The query function's own source (decorator included, so the
    DuckDB oracle string too) must be unchanged since its last green
    driver row — otherwise the query re-enters the window, or is
    discharged by the parity ledger at its current fingerprint."""
    import inspect

    ledger = load_ledger()
    old_trees: dict[tuple[str, str], dict[str, str]] = {}
    stale: list[str] = []
    for name, fn, gate in _tail_since_gate():
        rel = os.path.relpath(inspect.getsourcefile(fn), REPO)
        key = (gate, rel)
        if key not in old_trees:
            try:
                old_trees[key] = function_dumps(_git("show", f"{gate}:{rel}"))
            except Exception:
                old_trees[key] = {}
        cur = function_dumps(open(os.path.join(REPO, rel)).read())
        fname = fn.__name__
        if old_trees[key].get(fname) != cur.get(fname) and not _discharged(
            name, fn, ledger
        ):
            stale.append(name)
    assert not stale, (
        "tail queries whose function/oracle source changed since their "
        "last green driver row must re-enter the gate window or have green "
        f"parity-ledger rows at their current fingerprint: {stale}"
    )
