"""Driver-contract parity: every ``queries()`` entry with an ``oracle_sql()``
entry must match DuckDB on row count, column names, and order-insensitive
values — the same gate the driver's CORRECTNESS run applies at sf0.01.

Run the full sweep (slow, ~minutes):  pytest -m slow tests/test_oracle_parity.py
"""

import math
import os

import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("KLEPTO_ORACLE_SF_DIR", "/root/testdata/sf0.01")

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="session")
def duck_sf():
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    return v


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_rows_only_class_stays_empty():
    """Every contract query has a DuckDB oracle — the rows-only class
    emptied in round 12 (s12/t06/a16 closures) and three rounds of
    COVERAGE drift taught that prose claiming otherwise outlives the
    code (VERDICT r12 #3). Equality here is the pre-commit ritual: a
    new queries() entry without an oracle_sql() twin fails THIS test,
    and the stale phrase can never describe the surface again."""
    assert set(ORACLES) == set(QUERIES), (
        "rows-only queries reappeared: %s" % sorted(
            set(QUERIES) - set(ORACLES)))
    import pathlib
    root = pathlib.Path(__file__).resolve().parent.parent
    offenders = []
    for p in [root / "__spark_entry__.py",
              *sorted((root / "klepto_spark").rglob("*.py"))]:
        if "Rows-only contract" in p.read_text():
            offenders.append(str(p))
    assert not offenders, f"stale 'Rows-only contract' prose: {offenders}"


def test_queries_builds_no_oracle_text(monkeypatch):
    """bench, the perfbench worker and the plan audit call queries() only,
    so it must not build any oracle text; oracle_sql() builds it all."""
    def boom(*args, **kwargs):
        raise RuntimeError("oracle text built")

    monkeypatch.setattr(entry_mod, "_lsh_oracle", boom)
    assert len(entry_mod.queries()) == 131
    with pytest.raises(RuntimeError, match="oracle text built"):
        entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.schema) > 0


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_parity(spark, duck_sf, name):
    sdf = QUERIES[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    if name not in ORACLES:
        # rows-only check (driver's weaker gate): must run and be stable
        assert isinstance(srows, list)
        return
    res = duck_sf.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(sdf.columns) == sorted(dcols), \
        f"{name} columns: {sdf.columns} vs {dcols}"
    assert len(srows) == len(drows), \
        f"{name} rows: {len(srows)} vs {len(drows)}"
    sidx = [sdf.columns.index(c) for c in sorted(sdf.columns)]
    didx = [dcols.index(c) for c in sorted(dcols)]
    s_norm = sorted((tuple(_norm(r[i]) for i in sidx) for r in srows), key=repr)
    d_norm = sorted((tuple(_norm(r[i]) for i in didx) for r in drows), key=repr)
    mismatches = [(a, b) for a, b in zip(s_norm, d_norm) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"
