"""scripts/parity.py reports every query: one that raises, on either the
Spark or the DuckDB side, prints ERROR and the run goes on to the rest."""

from __future__ import annotations

import duckdb

from scripts.parity import run


def _raises(spark, sf_dir):
    raise RuntimeError("fixture missing")


def _range3(spark, sf_dir):
    return spark.range(3)


def test_parity_reports_error_and_continues(spark, capsys):
    qs = {"broken": _raises, "ids": _range3, "bad_twin": _range3}
    oracles = {
        "broken": "SELECT 1 AS id",
        "ids": "SELECT range AS id FROM range(3)",
        "bad_twin": "SELECT * FROM no_such_table",
    }
    status = run(spark, "", duckdb.connect(), qs, oracles)
    lines = capsys.readouterr().out.splitlines()
    assert status == 1
    assert "broken ERROR RuntimeError: fixture missing" in lines
    assert any(
        ln.startswith("ids ") and ln.rstrip().endswith("OK") for ln in lines
    ), lines
    assert any(ln.startswith("bad_twin ERROR CatalogException") for ln in lines)
    assert lines[-1] == "FAILURES: ['broken', 'bad_twin']"


def test_parity_unknown_name_is_a_failure(spark, capsys):
    qs = {"ids": _range3}
    oracles = {"ids": "SELECT range AS id FROM range(3)"}
    status = run(spark, "", duckdb.connect(), qs, oracles, only=["ids", "nope"])
    lines = capsys.readouterr().out.splitlines()
    assert status == 1
    assert "nope ERROR KeyError: not in queries()" in lines
    assert lines[-1] == "FAILURES: ['nope']"
