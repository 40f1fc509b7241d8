"""Plan linting: machine-checkable scale hygiene for DataFrame plans.

The repo's plan tests assert scan pushdown, broadcast joins, and
shuffle counts query by query; this module packages the recurring
checks as a library so pipelines can gate THEMSELVES before a 100 TB
run — ``assert_scalable(df)`` at build time costs one plan compile and
catches the classic cluster-killers:

- ``CartesianProduct`` — an unconstrained pair blow-up (a broadcast
  nested-loop join is only a warning: correct when one side is tiny,
  e.g. a scalar config frame or centroid table).
- ``Exchange SinglePartition`` — the whole frame funneled through one
  task: the signature of an unpartitioned window, a global sort-less
  limit, or a careless ``coalesce(1)``.  One shape is exempted
  automatically: a single-partition exchange whose CHILD is a
  partial/merge aggregate is the standard global-scalar-aggregate
  merge — map-side combine reduces the stream to one row per upstream
  partition before the funnel, so nothing meaningful serializes.
  (Other bounded frames — post-limit top-k, per-partition offset
  tables — go through ``allow_single_partition`` or the repo's
  ``pinned_partition`` idiom, which avoids the shape entirely.)
- shuffle budget — every ``Exchange`` is a full materialization;
  exceeding the caller's budget usually means a missed broadcast or a
  lost co-partitioning.

Findings are data (``PlanFinding`` rows), not prints, so tests and
pipelines can assert on them; ``lint`` never executes the job — it
inspects the compiled physical plan only.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

_ERROR = "error"
_WARN = "warn"
_INFO = "info"


@dataclass(frozen=True)
class PlanFinding:
    severity: str  # error | warn | info
    rule: str
    detail: str


def _physical(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- plan fingerprints ------------------------------------------------------
#
# Cross-round plan-identity evidence (bench.py writes them into
# BENCH_PLANS.json): a stable hash of the canonicalized physical plan,
# so host-level timing noise can never masquerade as a plan regression.


def _canon_v1(plan: str) -> str:
    """The original canonicalization: strips expression/plan ids,
    scratch paths, size/statistics annotations."""
    s = plan
    s = re.sub(r"#\d+[L]?", "#", s)  # expression ids
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"\[id=#\]", "", s)
    s = re.sub(r"(file:)?/[\w./\-]+", "<path>", s)  # scratch + data dirs
    s = re.sub(r"Statistics\([^)]*\)", "Statistics()", s)
    s = re.sub(r"\d+\.\d+ [KMGT]?i?B", "<size>", s)
    s = re.sub(r"\s+", " ", s).strip()
    return s


def _split_top_level(body: str) -> list[str]:
    """Split on commas at bracket depth 0 (list entries contain nested
    parens/brackets of their own)."""
    parts, depth, cur = [], 0, []
    for ch in body:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def _sort_unordered_lists(s: str) -> str:
    """Sort the top-level entries of every ``keys=[...]``, ``key=[...]``,
    ``functions=[...]``, ``output=[...]``, ``hashpartitioning(...)``
    and ``Expand [...]`` list.  Catalyst's distinct-aggregate rewrite
    (RewriteDistinctAggregates) assigns Expand projections,
    grouping-key order and gid labels from hash iteration order, so
    two compiles of the IDENTICAL query can render these lists
    permuted (the r10 q184 finding: gid 1 vs 3, DAU/MAU key swap
    across keys, outputs, partitioning args and Expand projections
    alike).  Entry order in these constructs carries no plan
    semantics — unlike e.g. Sort orderings or window frames, which are
    left untouched."""
    def _sort_entry(e: str, in_group: bool = False) -> str:
        # a bracketed group entry (an Expand projection) sorts its own
        # members first, so [day, exit_k, null] and [day, null, exit_k]
        # collapse to one canonical rendering before the group sort
        if e.startswith("[") and e.endswith("]"):
            return "[" + ", ".join(sorted(
                _sort_entry(x, True) for x in _split_top_level(e[1:-1])
            )) + "]"
        # a bare-integer member of a projection GROUP is the gid label —
        # Catalyst assigns it from hash iteration order, so its VALUE
        # flakes between compiles (the r10 q184 finding); normalize it.
        # Top-level bare integers (hashpartitioning's numPartitions) are
        # real plan parameters and stay.
        if in_group and re.fullmatch(r"\d+L?", e):
            return "<g>"
        return e

    def _close(text: str, start: int) -> int:
        depth = 1
        j = start
        while j < len(text) and depth:
            if text[j] in "([":
                depth += 1
            elif text[j] in ")]":
                depth -= 1
            j += 1
        return j

    out = []
    i = 0
    markers = ("keys=[", "key=[", "functions=[", "output=[", "Expand [",
               "hashpartitioning(")
    while i < len(s):
        for m in markers:
            if s.startswith(m, i):
                start = i + len(m)
                j = _close(s, start)
                body = s[start : j - 1]
                inner = ", ".join(sorted(
                    _sort_entry(e) for e in _split_top_level(body)
                ))
                out.append(m + inner + s[j - 1])
                i = j
                # Expand carries a SECOND positional list (its output
                # attributes) right after the projections — same
                # permutation source, same treatment
                while m == "Expand [" and s.startswith(", [", i):
                    k = _close(s, i + 3)
                    body2 = s[i + 3 : k - 1]
                    out.append(", [" + ", ".join(sorted(
                        _sort_entry(e) for e in _split_top_level(body2)
                    )) + "]")
                    i = k
                break
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def canonical_plan(plan: str) -> str:
    """The canonical string :func:`plan_fingerprint` hashes: ``plan`` (a
    physical plan's ``toString()``) with run-specific details stripped,
    the synthetic ``gid`` values masked and unordered lists sorted.

    Two renderings depend on the session's history, not on the plan:
    PySpark names lambda variables ``x_<n>`` from a JVM-wide counter, so
    the suffix is dropped; and Spark cuts a long ``DataFilters`` list at
    a fixed length before the ``#id`` digits are stripped, so where it is
    cut moves with the id width.  A cut list becomes one token (the
    ``Filter`` above the scan keeps the full condition; ``PushedFilters``
    carries no ids)."""
    s = _canon_v1(plan)
    s = re.sub(r"\(gid# = \d+L?\)", "(gid# = <g>)", s)
    s = re.sub(r"\blambda (\w+)_\d+\b", r"lambda \1_", s)
    s = re.sub(
        r"DataFilters: \[(?:(?!\], [A-Z]\w*: ).)*?\.\.\.(?=, [A-Z]\w*: )",
        "DataFilters: <cut>", s,
    )
    return _sort_unordered_lists(s)


def plan_fingerprint(df: DataFrame | None, plan: str | None = None) -> str:
    """Stable hash of the canonicalized initial physical plan (v3).
    Canonicalization strips everything run-specific: expression/plan
    ids, scratch paths, size/statistics annotations — and neutralizes
    exactly the compile-order-flaky constructs the r10 q184/q208
    investigation identified (Catalyst's RewriteDistinctAggregates
    assigns them from hash iteration order): the order of
    keys/functions/output/hashpartitioning/Expand list entries, and the
    VALUE of the synthetic ``gid`` label (in Expand projection groups
    and in ``FILTER (WHERE (gid# = N))`` predicates).  Every OTHER
    numeric literal is kept: v2 stripped all digits, so plans differing
    only in a plan-level numeric parameter — a GlobalLimit value, a
    derived bucket/list count, a partition number — collided, making
    such regressions invisible to the cross-round gate (the r10
    ADVICE)."""
    import hashlib

    s = canonical_plan(plan if plan is not None else _physical(df))
    return hashlib.md5(s.encode()).hexdigest()[:12]


# plan_fingerprint_v2 (the r10 digit-stripping algorithm) was removed
# after its single transition round (r11): v3 above is the only
# fingerprint channel, and v2's digit blindness — it collapsed plans
# differing only in a numeric plan parameter — is the documented r10
# ADVICE defect.  BENCH_r10 remains the last artifact carrying v2
# hashes; diff across that boundary via walls + v3 only.


def _unsafe_single_partition_exchanges(p: str) -> int:
    """Count ``Exchange SinglePartition`` nodes whose child is NOT a
    partial/merge aggregate.  In the tree rendering the child is the
    next line; a partial- or merge-mode HashAggregate/SortAggregate
    there means the exchange only carries one combined row per upstream
    partition (the scalar-aggregate merge), which scales fine."""
    lines = p.splitlines()
    unsafe = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        is_agg = "HashAggregate" in child or "SortAggregate" in child
        is_agg_merge = is_agg and (
            "partial_" in child
            or "merge_" in child
            # a column-pruned scalar aggregate renders with an EMPTY
            # function list ("functions=[]") and no partial_ marker, but
            # is the same safe shape: keys=[] emits at most one row per
            # upstream partition before the funnel (seen when Catalyst
            # prunes every column off a broadcast 1-row aggregate)
            or ("keys=[]" in child and "functions=[]" in child)
        )
        if not is_agg_merge:
            unsafe += 1
    return unsafe


def lint(
    df: DataFrame,
    max_shuffles: int | None = None,
    allow_single_partition: bool = False,
) -> list[PlanFinding]:
    """Inspect ``df``'s compiled physical plan (no execution) and return
    findings ordered errors-first."""
    p = _physical(df)
    out: list[PlanFinding] = []
    n_cart = p.count("CartesianProduct")
    if n_cart:
        out.append(
            PlanFinding(
                _ERROR,
                "cartesian-product",
                f"{n_cart} CartesianProduct node(s): unconstrained pair "
                "blow-up — add a join key, a block key, or broadcast a "
                "provably-small side",
            )
        )
    n_single = _unsafe_single_partition_exchanges(p)
    if n_single and not allow_single_partition:
        out.append(
            PlanFinding(
                _ERROR,
                "single-partition-exchange",
                f"{n_single} Exchange SinglePartition node(s): the frame "
                "funnels through ONE task — usually an unpartitioned "
                "window or global sort; use the range-partitioned rank "
                "(operators/prefix.py) or pinned_partition on a bounded "
                "frame",
            )
        )
    n_bnl = p.count("BroadcastNestedLoopJoin")
    if n_bnl:
        out.append(
            PlanFinding(
                _WARN,
                "broadcast-nested-loop",
                f"{n_bnl} BroadcastNestedLoopJoin node(s): per-row scan of "
                "the broadcast side — fine for scalar/centroid frames, a "
                "hazard if the build side can grow",
            )
        )
    # Count every Exchange node regardless of tree position: the last
    # child renders as "+- Exchange", a non-last child (shuffled-hash
    # build side, union branch) as ":- Exchange", and the root bare.
    # Counting only "+- " silently under-reported (r4 ADVICE, confirmed
    # on a Spark 4.1 shuffled-hash join showing 1 of 2 exchanges).
    n_shuffle = len(re.findall(r"(?:^|[+:]-\s)Exchange ", p, flags=re.M))
    if max_shuffles is not None and n_shuffle > max_shuffles:
        out.append(
            PlanFinding(
                _WARN,
                "shuffle-budget",
                f"{n_shuffle} shuffle Exchange node(s) > budget "
                f"{max_shuffles}: look for a missed broadcast or a lost "
                "co-partitioning",
            )
        )
    else:
        out.append(
            PlanFinding(_INFO, "shuffle-count", f"{n_shuffle} shuffle Exchange node(s)")
        )
    order = {_ERROR: 0, _WARN: 1, _INFO: 2}
    out.sort(key=lambda f: order[f.severity])
    return out


def assert_scalable(
    df: DataFrame,
    max_shuffles: int | None = None,
    allow_single_partition: bool = False,
) -> list[PlanFinding]:
    """Raise ``ValueError`` listing every error-severity finding; return
    the full finding list (warnings included) when the plan is clean
    enough to ship."""
    findings = lint(df, max_shuffles, allow_single_partition)
    errors = [f for f in findings if f.severity == _ERROR]
    if errors:
        msg = "; ".join(f"[{f.rule}] {f.detail}" for f in errors)
        raise ValueError(f"plan fails scale lint: {msg}")
    return findings
