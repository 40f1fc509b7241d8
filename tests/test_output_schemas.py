"""No registered query may emit a complex-typed output column.

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

from magi_etl_spark.queries import QUERIES


def test_no_query_emits_a_complex_typed_output_column(built_query):
    offenders: dict[str, list[str]] = {}
    for name, fn in sorted(QUERIES.items()):
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
    # guard the sweep itself: a query module under queries/ that
    # _load_all does not import would register nothing, and no
    # registry-wide sweep would see its queries
    import pkgutil

    import magi_etl_spark.queries as Q

    authored = {m.name for m in pkgutil.iter_modules(Q.__path__)}
    unloaded = authored - set(Q._MODULES)
    if unloaded:
        pytest.fail(f"query modules _load_all does not import: {sorted(unloaded)}")
