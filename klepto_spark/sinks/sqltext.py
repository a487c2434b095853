"""SQL-text sink: emit DDL + one INSERT statement per row.

Mirrors the reference's "query" dumper (reference:
pkg/dumper/query/dumper.go:36-107 flow, :122-163 value formatting;
output routing pkg/dumper/query/writer.go:11-33 for os://stdout|stderr,
extended here with file:// which the reference left as a TODO).

Scale note: statement TEXT GENERATION is distributed — each partition
formats its rows into statement strings JVM-side via a single
``concat`` projection; only the final text stream is pulled to the
writer with ``toLocalIterator`` (one partition in memory at a time), since
a text file on a single target is inherently a sequential sink.
"""

from __future__ import annotations

import contextlib
import sys
import threading
from collections.abc import Iterator
from typing import IO

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DateType, MapType, NumericType,
    StringType, StructType, TimestampType,
)

from klepto_spark.sinks.ddl import create_table_sql, quote_ident
from klepto_spark.sources.dsn import DSNError, parse


def _value_sql(field, dialect: str = "ansi") -> F.Column:
    """Render one column as a SQL literal, mirroring the reference's type
    switch (dumper.go:138-163): numbers/bools plain, NULL for nulls,
    strings quoted (escape doubling), timestamps quoted."""
    c = F.col(field.name)
    dt = field.dataType
    if isinstance(dt, NumericType):
        rendered = c.cast("string")
    elif isinstance(dt, BooleanType):
        # null must stay null here so the coalesce below renders NULL
        rendered = F.when(c, "true").when(~c, "false")
    elif isinstance(dt, (TimestampType, DateType)):
        rendered = F.concat(F.lit("'"), c.cast("string"), F.lit("'"))
    elif isinstance(dt, BinaryType):
        # X'..' is a BIT-string literal to Postgres (rejected for bytea,
        # caught by the real-server suite); bytea needs the \x hex form
        if dialect == "postgres":
            rendered = F.concat(F.lit("'\\x"), F.lower(F.hex(c)),
                                F.lit("'::bytea"))
        else:
            rendered = F.concat(F.lit("X'"), F.hex(c), F.lit("'"))
    elif isinstance(dt, (ArrayType, MapType, StructType)):
        # nested pass-through (types the reference cannot handle,
        # SURVEY §1.3): the sink DDL maps these to JSON (ddl.sql_type),
        # so the literal policy is JSON text — except postgres arrays of
        # primitive elements, whose DDL is a NATIVE elem[] column and
        # whose literal is the exact ARRAY[..] constructor
        if (dialect == "postgres" and isinstance(dt, ArrayType)
                and isinstance(dt.elementType,
                               (NumericType, BooleanType, StringType))):
            el = dt.elementType
            if isinstance(el, StringType):
                items = F.transform(
                    c, lambda x: F.concat(
                        F.lit("'"),
                        F.replace(x, F.lit("'"), F.lit("''")),
                        F.lit("'")))
            elif isinstance(el, BooleanType):
                items = F.transform(
                    c, lambda x: F.when(x, "true").when(~x, "false"))
            else:
                items = F.transform(c, lambda x: x.cast("string"))
            from klepto_spark.sinks.ddl import sql_type
            rendered = F.concat(
                F.lit("ARRAY["),
                # NULL elements must render as literal NULLs, not vanish
                F.array_join(items, ",", "NULL"),
                # the cast keeps empty arrays typed (pg rejects bare
                # ARRAY[] without one)
                F.lit("]::" + sql_type(dt, "postgres")))
        else:
            js = F.to_json(c)
            rendered = F.concat(
                F.lit("'"),
                F.replace(js, F.lit("'"), F.lit("''")),
                F.lit("'"))
    else:
        escaped = F.replace(c.cast("string"), F.lit("'"), F.lit("''"))
        rendered = F.concat(F.lit("'"), escaped, F.lit("'"))
    return F.coalesce(rendered, F.lit("NULL"))


def insert_statements(df: DataFrame, table: str,
                      dialect: str = "ansi") -> DataFrame:
    """One-column DataFrame of INSERT statement strings (distributed)."""
    cols = ", ".join(quote_ident(f.name, dialect) for f in df.schema.fields)
    head = f"INSERT INTO {quote_ident(table, dialect)} ({cols}) VALUES ("
    parts: list = [F.lit(head)]
    for i, fld in enumerate(df.schema.fields):
        if i:
            parts.append(F.lit(", "))
        parts.append(_value_sql(fld, dialect))
    parts.append(F.lit(");"))
    return df.select(F.concat(*parts).alias("stmt"))


def open_output(dsn_str: str) -> IO[str]:
    """os://stdout, os://stderr, file:///path
    (reference: pkg/dumper/query/writer.go:11-33)."""
    dsn = parse(dsn_str)
    if dsn.type == "os":
        if dsn.address == "stdout":
            return sys.stdout
        if dsn.address == "stderr":
            return sys.stderr
        raise DSNError(f"unknown os:// target {dsn.address!r}")
    if dsn.type == "file":
        return open("/" + dsn.data_source if dsn.data_source else dsn.address,
                    "w")
    raise DSNError(f"scheme {dsn.type!r} is not a text output")


#: per DSN, a running steal's (lock, [its shared handle, once opened])
_SHARED: dict[str, tuple[threading.Lock, list[IO[str]]]] = {}


@contextlib.contextmanager
def shared_output(dsn_str: str):
    """Inside the block (one ``steal`` run), the tables written to
    ``dsn_str`` share one handle, opened on first use, and take turns
    under a lock, so they neither truncate nor interleave."""
    _SHARED[dsn_str] = (threading.Lock(), opened := [])
    try:
        yield
    finally:
        del _SHARED[dsn_str]
        for out in opened:
            if out.name not in ("<stdout>", "<stderr>"):
                out.close()


@contextlib.contextmanager
def table_output(dsn_str: str):
    """The handle one table's whole DDL + INSERT block is written to."""
    if dsn_str not in _SHARED:
        with shared_output(dsn_str), table_output(dsn_str) as out:
            yield out
        return
    lock, opened = _SHARED[dsn_str]
    with lock:
        opened[:] = opened or [open_output(dsn_str)]
        yield opened[0]


def dump_table_sql(df: DataFrame, table: str, out: IO[str],
                   dialect: str = "ansi", include_ddl: bool = True) -> int:
    """Write DDL (unless data-only) then INSERTs; returns row count."""
    if include_ddl:
        out.write(create_table_sql(table, df.schema, dialect) + "\n")
    n = 0
    stmts = insert_statements(df, table, dialect)
    for row in stmts.toLocalIterator():
        out.write(row[0] + "\n")
        n += 1
    return n


def iter_statements(df: DataFrame, table: str,
                    dialect: str = "ansi") -> Iterator[str]:
    yield create_table_sql(table, df.schema, dialect)
    for row in insert_statements(df, table, dialect).toLocalIterator():
        yield row[0]
