"""Correctness of the benchmark's outputs, checked in DuckDB (untimed).

The oracle for a table is ``build_table_sql`` (the engine's own ANSI SQL
twin of its pipeline) run by DuckDB over the same input files; the
oracle for a contract query is its ``oracle_sql()`` entry in
``__spark_entry__``. Outputs and oracle are compared by column names,
row count and an order-insensitive hash: the sum of per-row hashes over
every column, cast to text (timestamps as epoch microseconds, so a
time-zone-aware round trip compares equal). The SQL-text dump is first
replayed in SQLite (see ``load_sql_dump``).
"""

from __future__ import annotations

import glob
import os
from pathlib import Path


def _fingerprint(con, relation: str) -> tuple[int, int]:
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    exprs = []
    for name, kind, *_ in sorted(cols):
        q = '"' + name.replace('"', '""') + '"'
        exprs.append(f"epoch_us({q})" if kind.startswith("TIMESTAMP")
                     else f"CAST({q} AS VARCHAR)")
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(exprs)})), 0) "
        f"FROM {relation}").fetchone()
    return n, int(h)


def _connect(inputs: str):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for p in sorted(Path(inputs).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM "
                    f"read_parquet('{p}')")
    return con


def _oracle(con, spec, table: str, seed: str) -> str:
    from klepto_spark.config import TableSpec
    from klepto_spark.operators.pipeline import build_table_sql
    cols = [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]
    tspec = spec.find_table(table) or TableSpec(name=table)
    return f"({build_table_sql(tspec, spec=spec, columns=cols, seed=seed)})"


def _same(con, out: str, oracle: str) -> bool:
    cols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM {out}").fetchall()]
    ocols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM {oracle}").fetchall()]
    return (sorted(cols) == sorted(ocols)
            and _fingerprint(con, out) == _fingerprint(con, oracle))


def check_parquet(inputs: str, catalog_out: str, spec, seed: str
                  ) -> dict[str, bool]:
    """Table -> whether the parquet copy matches the oracle."""
    con = _connect(inputs)
    try:
        ok = {}
        for p in sorted(Path(inputs).glob("*.parquet")):
            files = os.path.join(catalog_out, f"{p.stem}.parquet", "*.parquet")
            ok[p.stem] = _same(con, f"read_parquet('{files}')",
                               _oracle(con, spec, p.stem, seed))
        return ok
    finally:
        con.close()


def load_sql_dump(path: str):
    """Execute a DDL + INSERT dump in SQLite; return its one table as text.

    SQLite runs the statements as a database would and parses INSERTs
    about a hundred times faster than DuckDB's VALUES binder, so the
    replay costs seconds instead of minutes; every value comes back as
    text, to be cast to the oracle's column types in DuckDB.
    """
    import sqlite3

    import pyarrow as pa

    lite = sqlite3.connect(":memory:")
    try:
        lite.executescript("BEGIN;\n" + Path(path).read_text() + "\nCOMMIT;")
        (table,), = lite.execute(
            "SELECT name FROM sqlite_master WHERE type = 'table'").fetchall()
        cols = [r[1] for r in lite.execute(f'PRAGMA table_info("{table}")')]
        rows = lite.execute("SELECT " + ", ".join(
            f'CAST("{c}" AS TEXT)' for c in cols) + f' FROM "{table}"')
        data = list(zip(*rows.fetchall())) or [()] * len(cols)
    finally:
        lite.close()
    return pa.table({c: pa.array(v, pa.string()) for c, v in zip(cols, data)})


def check_sql_dump(inputs: str, dump: str, table: str, spec, seed: str
                   ) -> dict[str, bool]:
    """{table: whether the replayed SQL-text dump matches the oracle}."""
    con = _connect(inputs)
    try:
        con.register("dump_text", load_sql_dump(dump))
        oracle = _oracle(con, spec, table, seed)
        types = con.execute(f"DESCRIBE SELECT * FROM {oracle}").fetchall()
        typed = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t, *_ in types)
        return {table: _same(con, f"(SELECT {typed} FROM dump_text)", oracle)}
    finally:
        con.close()


def check_queries(inputs: str, out_dir: str, names) -> dict[str, bool]:
    """{query: whether ``<out_dir>/<query>/`` (parquet) matches its oracle}."""
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = _connect(inputs)
    try:
        ok = {}
        for n in names:
            files = f"{out_dir}/{n}/*.parquet"
            ok[n] = bool(glob.glob(files)) and _same(
                con, f"read_parquet('{files}')", f"({oracles[n]})")
        return ok
    finally:
        con.close()
