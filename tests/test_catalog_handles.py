"""FileCatalog's resolved-handle memo: one resolution per table per file
set, and a fresh one whenever the files change.

Inputs are written with pyarrow (uncompressed, plain-encoded, so a
rewrite with other fixed-width values keeps the file size) and, unless
a case is about the racy window, backdated with ``os.utime`` so the
memo is allowed to hold them. Every copy is checked against DuckDB
running ``build_table_sql`` over the table contents the run should see.
"""

import os
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from klepto_spark.config import FilterSpec, Relationship, Spec, TableSpec
from klepto_spark.engine import steal
from klepto_spark.operators.pipeline import (
    build_table_df, build_table_sql, parquet_loader)
from klepto_spark.sinks import deletion_vectors as dv
from klepto_spark.sources import catalog as catalog_mod
from klepto_spark.sources.catalog import FileCatalog

ACCT = pa.schema([("id", pa.int64()), ("name", pa.string()),
                  ("tier", pa.string())])
XFER = pa.schema([("k", pa.int64()), ("src", pa.int64()),
                  ("amt", pa.float64())])
ACCT_ROWS = [(1, "Ann", "gold"), (2, "Bo", "tin"), (3, "Cy", "gold"),
             (4, "Di", "tin")]
XFER_PARTS = [[(1, 1, 10.0), (2, 2, 20.0), (3, 3, 30.0)],
              [(4, 4, 40.0), (5, 1, 50.0), (6, 3, 60.0)]]

SPEC = Spec(tables=[
    TableSpec(name="acct", anonymise={"name": "FullName"}),
    TableSpec(name="xfer",
              filter=FilterSpec(match="acct.tier = 'gold'"),
              relationships=[Relationship(foreign_key="src",
                                          referenced_table="acct",
                                          referenced_key="id")]),
])

#: an mtime far older than any racy window
OLD_NS = time.time_ns() - 2 * 3600 * 10**9


def _write(path, rows, schema):
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema)
    pq.write_table(table, str(path), compression="NONE",
                   use_dictionary=False)


def _backdate(root, ns=OLD_NS):
    for dirpath, _, names in os.walk(root):
        for name in names:
            os.utime(os.path.join(dirpath, name), ns=(ns, ns))


def _oracle(tables: dict[str, tuple[list, pa.Schema]], tspec):
    con = duckdb.connect()
    try:
        for name, (rows, schema) in tables.items():
            con.register(f"{name}_rows", pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in rows], schema=schema))
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_rows")
        cols = tables[tspec.name][1].names
        return sorted(con.execute(
            build_table_sql(tspec, spec=SPEC, columns=cols)).fetchall())
    finally:
        con.close()


def _copied(spark, out, table):
    return sorted(tuple(r) for r in
                  spark.read.parquet(f"{out}/{table}.parquet").collect())


def _tables(acct_rows, xfer_rows, xfer_schema=XFER):
    return {"acct": (acct_rows, ACCT), "xfer": (xfer_rows, xfer_schema)}


def _assert_copies(spark, out, tables):
    for t in ("acct", "xfer"):
        assert _copied(spark, out, t) == _oracle(tables, SPEC.find_table(t))


@pytest.fixture
def source(spark, tmp_path):
    """acct is a deletion-vector table (so a ``_dvlog`` epoch can be
    committed to it); xfer is a directory table of two part files."""
    src = tmp_path / "src"
    src.mkdir()
    acct = spark.createDataFrame(ACCT_ROWS, "id long, name string, "
                                            "tier string")
    dv.merge_files_dv(acct, str(src), "acct", "parquet", ["id"])
    (src / "xfer.parquet").mkdir()
    for i, rows in enumerate(XFER_PARTS):
        _write(src / "xfer.parquet" / f"part-{i}.parquet", rows, XFER)
    return src


def _replace_part(spark, src):
    """A part file replaced by one with other rows (a new inode)."""
    part = src / "xfer.parquet" / "part-0.parquet"
    rows = [(1, 2, 10.0), (2, 3, 20.0), (3, 1, 30.0)]
    _write(str(part) + ".tmp", rows, XFER)
    os.replace(str(part) + ".tmp", part)
    return _tables(ACCT_ROWS, rows + XFER_PARTS[1])


def _add_part(spark, src):
    rows = [(7, 1, 70.0), (8, 4, 80.0)]
    _write(src / "xfer.parquet" / "part-2.parquet", rows, XFER)
    return _tables(ACCT_ROWS, XFER_PARTS[0] + XFER_PARTS[1] + rows)


def _remove_part(spark, src):
    os.remove(src / "xfer.parquet" / "part-1.parquet")
    return _tables(ACCT_ROWS, XFER_PARTS[0])


def _commit_dv_epoch(spark, src):
    """A merge-on-read epoch: Bo turns gold, Cy is deleted."""
    dv.merge_files_dv(
        spark.createDataFrame([(2, "Bo", "gold")], "id long, name string, "
                                                   "tier string"),
        str(src), "acct", "parquet", ["id"],
        deletes=spark.createDataFrame([(3,)], "id long"), auto_compact=None)
    assert (src / "acct.parquet" / "_dvlog").is_dir()
    acct = [(1, "Ann", "gold"), (2, "Bo", "gold"), (4, "Di", "tin")]
    return _tables(acct, XFER_PARTS[0] + XFER_PARTS[1])


def _same_size_rewrite(spark, src):
    """Every part rewritten over the same bytes of the same inode, with
    the mtime put back: ``amt`` becomes ``fee`` (a same-length name, so
    the size holds) and the sources change. Only the racy window tells
    the two states apart; a handle kept from the first run would still
    carry the old schema."""
    fee = pa.schema([("k", pa.int64()), ("src", pa.int64()),
                     ("fee", pa.float64())])
    parts = [[(k, 5 - s, a) for k, s, a in rows] for rows in XFER_PARTS]
    for i, rows in enumerate(parts):
        part = src / "xfer.parquet" / f"part-{i}.parquet"
        before = os.stat(part)
        _write(str(part) + ".tmp", rows, fee)
        data = open(str(part) + ".tmp", "rb").read()
        os.remove(str(part) + ".tmp")
        assert len(data) == before.st_size
        with open(part, "r+b") as fh:
            fh.write(data)
        os.utime(part, ns=(before.st_atime_ns, before.st_mtime_ns))
        after = os.stat(part)
        assert (after.st_size, after.st_mtime_ns, after.st_ino) == (
            before.st_size, before.st_mtime_ns, before.st_ino)
    return _tables(ACCT_ROWS, parts[0] + parts[1], fee)


@pytest.mark.parametrize("mutate", [
    _replace_part, _add_part, _remove_part, _commit_dv_epoch,
    _same_size_rewrite], ids=lambda f: f.__name__.lstrip("_"))
def test_second_steal_sees_mutated_inputs(spark, source, tmp_path,
                                          monkeypatch, mutate):
    racy = mutate is _same_size_rewrite
    if racy:
        # every input is younger than the window, so nothing may be held
        monkeypatch.setattr(catalog_mod, "_RACY_WINDOW_S", 3600.0,
                            raising=False)
    else:
        _backdate(source)
    cat = FileCatalog(spark, str(source))
    out = tmp_path / "out"
    steal(SPEC, cat, f"parquet://{out}", concurrency=2)
    _assert_copies(spark, out,
                   _tables(ACCT_ROWS, XFER_PARTS[0] + XFER_PARTS[1]))

    tables = mutate(spark, source)
    if not racy:
        # same mtimes as the first run: the fingerprint must still differ
        _backdate(source)
    steal(SPEC, cat, f"parquet://{out}", concurrency=2)
    _assert_copies(spark, out, tables)


def _chain(tmp_path):
    """cust <- ord <- item: item restricts through a two-hop FK chain."""
    src = tmp_path / "chain"
    src.mkdir()
    _write(src / "cust.parquet", [(1, "gold"), (2, "tin")],
           pa.schema([("c_id", pa.int64()), ("c_tier", pa.string())]))
    _write(src / "ord.parquet", [(10, 1), (20, 2), (30, 1)],
           pa.schema([("o_id", pa.int64()), ("o_cust", pa.int64())]))
    (src / "item.parquet").mkdir()
    _write(src / "item.parquet" / "part-0.parquet",
           [(100, 10), (200, 20), (300, 30)],
           pa.schema([("i_id", pa.int64()), ("i_ord", pa.int64())]))
    _backdate(src)
    spec = Spec(tables=[TableSpec(
        name="item", filter=FilterSpec(match="cust.c_tier = 'gold'"),
        relationships=[
            Relationship(foreign_key="i_ord", referenced_table="ord",
                         referenced_key="o_id"),
            Relationship(table="ord", foreign_key="o_cust",
                         referenced_table="cust", referenced_key="c_id")])])
    return src, spec


def test_steal_resolves_each_table_once(spark, tmp_path, monkeypatch):
    src, spec = _chain(tmp_path)
    resolved: list[str] = []
    real = FileCatalog._resolve

    def spy(self, table):
        resolved.append(table)
        return real(self, table)

    monkeypatch.setattr(FileCatalog, "_resolve", spy)
    cat = FileCatalog(spark, str(src))
    out = tmp_path / "out"
    report = steal(spec, cat, f"parquet://{out}", concurrency=2)
    assert sorted(resolved) == ["cust", "item", "ord"]
    assert {t.table: t.rows for t in report.tables} == {
        "cust": 2, "ord": 3, "item": 2}
    assert sorted(r.i_id for r in
                  spark.read.parquet(f"{out}/item.parquet").collect()) == [
        100, 300]

    resolved.clear()
    steal(spec, cat, f"parquet://{out}", concurrency=2)
    assert resolved == []


def test_columns_sees_a_rewritten_table(spark, tmp_path):
    _write(tmp_path / "t.parquet", [(1, "a")],
           pa.schema([("id", pa.int64()), ("v", pa.string())]))
    _backdate(tmp_path)
    cat = FileCatalog(spark, str(tmp_path))
    assert cat.columns("t") == ["id", "v"]
    _write(tmp_path / "t.parquet", [(1, "a", 2.0)],
           pa.schema([("id", pa.int64()), ("v", pa.string()),
                      ("w", pa.float64())]))
    _backdate(tmp_path)
    assert cat.columns("t") == ["id", "v", "w"]


def test_parquet_loader_sees_a_rewritten_file(spark, tmp_path):
    """t.parquet rewritten the way Spark overwrites a table: the old part
    files go, new ones with other names and rows come."""
    import shutil
    schema = pa.schema([("id", pa.int64())])
    table = tmp_path / "t.parquet"
    table.mkdir()
    _write(table / "part-0.parquet", [(1,), (2,)], schema)
    _backdate(tmp_path)
    load = parquet_loader(spark, str(tmp_path))
    assert sorted(r.id for r in load("t").collect()) == [1, 2]
    assert parquet_loader(spark, str(tmp_path))("t") is load("t")
    shutil.rmtree(table)
    table.mkdir()
    _write(table / "part-1.parquet", [(7,), (8,), (9,)], schema)
    _backdate(tmp_path)
    assert sorted(r.id for r in
                  parquet_loader(spark, str(tmp_path))("t").collect()) == [
        7, 8, 9]


def test_two_fks_to_one_parent_share_its_handle(spark, tmp_path):
    """Both restrictions of xfer go through the one memoised acct handle,
    and both join strategies copy the rows of build_table_sql — which
    aliases the second join of acct apart (acct_2) — run in DuckDB."""
    _write(tmp_path / "acct.parquet", ACCT_ROWS, ACCT)
    rows = [(1, 1, 3), (2, 2, 9), (3, 9, 4), (4, 3, 1)]
    _write(tmp_path / "xfer.parquet", rows,
           pa.schema([("k", pa.int64()), ("src", pa.int64()),
                      ("dst", pa.int64())]))
    _backdate(tmp_path)
    cat = FileCatalog(spark, str(tmp_path))
    assert cat.load("acct") is cat.load("acct")
    t = TableSpec(name="xfer", relationships=[
        Relationship(foreign_key="src", referenced_table="acct",
                     referenced_key="id"),
        Relationship(foreign_key="dst", referenced_table="acct",
                     referenced_key="id")])
    sql = build_table_sql(t, columns=["k", "src", "dst"])
    assert "JOIN acct ON acct.id = xfer.src" in sql
    assert "JOIN acct AS acct_2 ON acct_2.id = xfer.dst" in sql
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW acct AS SELECT * FROM "
                    f"read_parquet('{tmp_path}/acct.parquet')")
        con.execute(f"CREATE VIEW xfer AS SELECT * FROM "
                    f"read_parquet('{tmp_path}/xfer.parquet')")
        want = sorted(con.execute(sql).fetchall())
    finally:
        con.close()
    assert want == [(1, 1, 3), (4, 3, 1)]
    for strategy in ("inner", "semi"):
        got = build_table_df(t, cat.load, join_strategy=strategy)
        assert got.columns == ["k", "src", "dst"], strategy
        assert sorted(tuple(r) for r in got.collect()) == want, strategy


def test_self_fk_copies_like_build_table_sql(spark, tmp_path):
    """A self-FK (emp.mgr -> emp.id): the semi shape joins the self-parent
    once under its own alias (emp_2) instead of re-entering emp without
    end, and both strategies copy the rows of build_table_sql run in
    DuckDB."""
    rows = [(1, None), (2, 1), (3, 2), (4, 9), (5, 5)]
    _write(tmp_path / "emp.parquet", rows,
           pa.schema([("id", pa.int64()), ("mgr", pa.int64())]))
    _backdate(tmp_path)
    cat = FileCatalog(spark, str(tmp_path))
    t = TableSpec(name="emp", relationships=[
        Relationship(foreign_key="mgr", referenced_table="emp",
                     referenced_key="id")])
    sql = build_table_sql(t, columns=["id", "mgr"])
    assert "JOIN emp AS emp_2 ON emp_2.id = emp.mgr" in sql
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW emp AS SELECT * FROM "
                    f"read_parquet('{tmp_path}/emp.parquet')")
        want = sorted(con.execute(sql).fetchall())
    finally:
        con.close()
    assert want == [(2, 1), (3, 2), (5, 5)]
    for strategy in ("inner", "semi"):
        got = build_table_df(t, cat.load, join_strategy=strategy)
        assert got.columns == ["id", "mgr"], strategy
        assert sorted(tuple(r) for r in got.collect()) == want, strategy


def test_concurrent_loads_share_one_settled_handle(spark, tmp_path):
    """Engine threads load the same tables at once: racing misses may each
    resolve, but every caller gets the table's rows, and once the threads
    are done the memo serves one handle per table."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    schema = pa.schema([("id", pa.int64())])
    for name in ("a", "b", "c"):
        _write(tmp_path / f"{name}.parquet", [(1,), (2,)], schema)
    _backdate(tmp_path)
    cat = FileCatalog(spark, str(tmp_path))
    names = ["a", "b", "c"] * 8
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=12) as pool:
            got = list(pool.map(lambda n: cat.load(n).columns, names,
                                timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert got == [["id"]] * len(names)
    for name in ("a", "b", "c"):
        assert cat.load(name) is cat.load(name)
        assert sorted(r.id for r in cat.load(name).collect()) == [1, 2]
