"""The query registry, the driver's window order and the parity-ledger
discharge, checked without a Spark session or git."""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from magi_etl_spark.queries import ORACLE, QUERIES, query
from tests.source_fingerprint import ledger_discharged, query_fingerprint

_GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
_RED = {**_GREEN, "hash_match": False}


def test_query_rejects_a_duplicate_name():
    before = QUERIES["q01_pricing_summary"]
    with pytest.raises(RuntimeError, match="already registered"):
        query("q01_pricing_summary", "SELECT 1")(lambda spark, sf_dir: None)
    assert QUERIES["q01_pricing_summary"] is before
    assert ORACLE["q01_pricing_summary"] != "SELECT 1"


def test_window_order_on_synthetic_rows():
    names = ["a_old", "b_new", "c_failed", "d_recent", "e_old", "f_never"]
    rounds = {
        3: {"a_old": _GREEN, "c_failed": _GREEN, "e_old": _GREEN},
        5: {"c_failed": _RED, "d_recent": _GREEN, "b_new": _GREEN},
        4: {"b_new": {**_GREEN, "hash_match": None}},  # rows-only is green
    }
    # never verified and latest-failed first (registration order), then
    # by ascending last green round, ties in registration order
    assert E.window_order(names, rounds) == [
        "c_failed", "f_never", "a_old", "e_old", "b_new", "d_recent",
    ]
    assert E.window_order(names, {}) == names


def test_unverified_wave_leads_the_real_window():
    first = list(E.queries())[: E.GATE_WINDOW]
    wave = [f"q{n}" for n in range(262, 268)]
    assert all(any(q.startswith(w + "_") for q in first) for w in wave)


def test_ledger_discharge_needs_the_current_fingerprint_at_both_scales():
    fn = QUERIES["q01_pricing_summary"]
    fp = query_fingerprint(fn, ORACLE["q01_pricing_summary"])
    assert fp != query_fingerprint(fn, ORACLE["q01_pricing_summary"] + " ")
    ok = {"fp": fp, "ok": True}
    assert ledger_discharged({"sf0.01": ok, "sf0.1": ok}, fp)
    assert not ledger_discharged({"sf0.01": ok, "sf0.1": {**ok, "fp": "0" * 16}}, fp)
    assert not ledger_discharged({"sf0.01": ok}, fp)
    assert not ledger_discharged({"sf0.01": ok, "sf0.1": {**ok, "ok": False}}, fp)
