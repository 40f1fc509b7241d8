"""The scale report's replicated catalog (``tools/scale_probe.replicate``):
id-shifted copies that keep every key-domain join inside its own copy,
written with the source's parquet schema.  No Spark."""

from __future__ import annotations

import os
from itertools import combinations

import duckdb
import pyarrow.parquet as pq
import pytest

from tools.scale_probe import KEY_DOMAINS, replicate

N = 2


@pytest.fixture(scope="module")
def copy_dir(sf_dir, tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("scale_x2"))
    replicate(sf_dir, out, N)
    return out


def _tables(d: str) -> list[str]:
    return sorted(f[: -len(".parquet")] for f in os.listdir(d) if f.endswith(".parquet"))


def _path(d: str, table: str) -> str:
    return os.path.join(d, f"{table}.parquet")


def test_keyed_tables_are_copied_n_times_and_the_rest_once(sf_dir, copy_dir):
    keyed = {t for pairs in KEY_DOMAINS.values() for t, _ in pairs}
    assert {"region", "nation"}.isdisjoint(keyed)
    assert _tables(copy_dir) == _tables(sf_dir)
    for t in _tables(sf_dir):
        want = pq.ParquetFile(_path(sf_dir, t)).metadata.num_rows * (N if t in keyed else 1)
        assert pq.ParquetFile(_path(copy_dir, t)).metadata.num_rows == want, t


def test_each_key_domain_join_matches_within_its_copy(sf_dir, copy_dir):
    con = duckdb.connect()

    def matches(d: str, a: tuple[str, str], b: tuple[str, str]) -> int:
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{_path(d, a[0])}') x "
            f"JOIN read_parquet('{_path(d, b[0])}') y ON x.{a[1]} = y.{b[1]}"
        ).fetchone()[0]

    for domain, pairs in KEY_DOMAINS.items():
        # a one-column domain joins itself: copies must not collide
        joins = list(combinations(pairs, 2)) or [(pairs[0], pairs[0])]
        for a, b in joins:
            one = matches(sf_dir, a, b)
            assert one > 0, (domain, a, b)
            assert matches(copy_dir, a, b) == N * one, (domain, a, b)


def test_parquet_schemas_match_the_source(sf_dir, copy_dir):
    for t in _tables(sf_dir):
        src, rep = pq.ParquetFile(_path(sf_dir, t)), pq.ParquetFile(_path(copy_dir, t))
        assert rep.schema.equals(src.schema), t
        assert rep.schema_arrow.equals(src.schema_arrow, check_metadata=True), t
