"""Local replica of the driver's t2 gate: every registered query with an
oracle must hash-match DuckDB on the fixture tables (sf0.001 here for
speed; the driver uses sf0.01).

TIERED (VERDICT r11 item 2 — the ~440-case full sweep alone costs
~8 min and pushed the default suite past the driver's verify budget, so
the driver-visible run truncated mid-suite and reported nothing):
the DEFAULT run checks the 50-gate driver window (``registry._PRIORITY``
— the highest-risk set by construction: newly promoted devices + the
stalest gates) plus every rows-only gate; the remaining out-of-window
oracle gates carry the ``deep`` marker and are deselected by pytest.ini.
Full-registry coverage is NOT lost: every round runs the complete
contract drive (all registered gates vs DuckDB at sf0.01 — see
.claude/skills/verify) and the dtype-strict emulator; run the full
pytest tier locally with  ``pytest tests/ -m 'deep or not deep'``."""

from __future__ import annotations

import pytest

from incubator_beam_spark import registry

from .conftest import SF_DIR, assert_matches_oracle

ALL = registry.load_all()
WITH_ORACLE = sorted(n for n, q in ALL.items() if q.oracle)
ROWS_ONLY = sorted(n for n, q in ALL.items() if not q.oracle)
_WINDOW = set(registry._PRIORITY)


@pytest.mark.parametrize(
    "name",
    [
        n if n in _WINDOW else pytest.param(n, marks=pytest.mark.deep)
        for n in WITH_ORACLE
    ],
)
def test_oracle_match(spark, duck, name):
    q = ALL[name]
    df = q.fn(spark, SF_DIR)
    assert_matches_oracle(df, duck, q.oracle, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    q = ALL[name]
    df = q.fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_q3_revenue_exact_at_half_cent_tie(spark, tmp_path):
    """Generated sf0.01 tables at seed 202 hold an order whose exact
    revenue, 412075.8350, ties at half a cent. Rounded to cents, Spark and
    DuckDB rounded it apart; in integer 1e-4 units both sides agree."""
    import duckdb

    from incubator_beam_spark.catalog import TABLES
    from perfbench import datagen

    datagen.write_tables(str(tmp_path), seed=202, sf=0.01)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')")
    q = ALL["q3_shipping_priority"]
    assert_matches_oracle(q.fn(spark, str(tmp_path)), con, q.oracle, q.name)
    con.close()
