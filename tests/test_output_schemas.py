"""No registered or staged query may emit a complex-typed output column.

The r7 driver row for q122 proved the failure channel: the external
harness canonicalizes results through pandas ``sort_values`` before
hashing, and an ``array``/``map``/``struct`` cell is unhashable there
(``TypeError: unhashable type: 'list'``) — so a complex-typed output
column is a guaranteed driver ``err`` even when every value is correct.
The local harness compared such cells fine, which is exactly the
driver/local divergence class the q89 HUGEINT saga taught; like the
no-HUGEINT oracle lint (tests/test_oracle_types.py), this closes the
class structurally instead of per-instance.

Schema-only: ``.schema`` never executes the plan.  Building a query
still runs its eager barriers, so the frames come from the session's
``built_query`` fixture, shared with the plan-lint sweep.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType


def _all_query_registries() -> dict[str, object]:
    from magi_etl_spark.queries import QUERIES

    out: dict[str, object] = dict(QUERIES)
    for mod, reg in [
        ("magi_etl_spark.queries.extensions_r6", "EXT3_QUERIES"),
        ("magi_etl_spark.queries.extensions_r7", "EXT4_QUERIES"),
        ("magi_etl_spark.queries.extensions_r8", "EXT5_QUERIES"),
        ("magi_etl_spark.queries.extensions_r9", "EXT6_QUERIES"),
        ("magi_etl_spark.queries.extensions_r10", "EXT7_QUERIES"),
        ("magi_etl_spark.queries.extensions_r11", "EXT8_QUERIES"),
        ("magi_etl_spark.queries.extensions_r12", "EXT9_QUERIES"),
        ("magi_etl_spark.queries.extensions_r13", "EXT10_QUERIES"),
        ("magi_etl_spark.queries.extensions_r14", "EXT11_QUERIES"),
        ("magi_etl_spark.queries.extensions_r15", "EXT12_QUERIES"),
    ]:
        try:
            m = __import__(mod, fromlist=[reg])
        except ImportError:
            continue
        for name, fn in getattr(m, reg).items():
            out.setdefault(name, fn)
    return out


def test_no_query_emits_a_complex_typed_output_column(built_query):
    offenders: dict[str, list[str]] = {}
    for name, fn in sorted(_all_query_registries().items()):
        schema = built_query(name, fn).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "complex-typed output columns crash the driver's pandas "
        f"canonicalization (the q122 r7 failure): {offenders}"
    )


def test_lint_covers_every_authored_query():
    # guard the sweep itself: if a future staged registry is added under a
    # new module name, it must be wired into _all_query_registries above.
    import glob
    import os

    qdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "magi_etl_spark",
        "queries",
    )
    ext_mods = {
        os.path.basename(p)[: -len(".py")]
        for p in glob.glob(os.path.join(qdir, "extensions*.py"))
    }
    known = {"extensions", "extensions_r5", "extensions_r6", "extensions_r7",
             "extensions_r8", "extensions_r9", "extensions_r10",
             "extensions_r11", "extensions_r12", "extensions_r13",
             "extensions_r14", "extensions_r15"}
    unknown = ext_mods - known
    if unknown:
        pytest.fail(
            f"new staged registry modules not wired into the output-schema "
            f"lint: {sorted(unknown)}"
        )
