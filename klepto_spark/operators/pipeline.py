"""Per-table pipeline compiler: spec -> DataFrame plan (and -> ANSI SQL).

Reproduces the reference's complete query grammar — its only query IR —
``SELECT t.cols FROM t [JOIN ...] [WHERE ...] [ORDER BY ...] [LIMIT n]``
followed by the anonymise projection
(reference: pkg/reader/engine/engine.go:136-167 query build,
pkg/anonymiser/anonymiser.go:51-120 transform stage), as a Catalyst logical
plan built with the DataFrame API. Catalyst then supplies everything the
reference delegated to the source database: predicate pushdown, column
pruning, join strategy selection (SURVEY §4.1).

Scale notes (100 TB posture):
- Only the target table's columns are projected (reference engine.go:88-94),
  declared *before* the join so Catalyst prunes parent columns out of the
  scan (ReadSchema shows only join keys + predicate columns for parents).
- ``join_strategy='semi'`` compiles FK-restriction joins to LEFT SEMI —
  the reference's *intent* (SURVEY §2.3 J1): no parent row materialisation,
  no duplicate child rows when the referenced key is non-unique, and the
  parent side collapses to a broadcast when small. ``'inner'`` is
  bug-compatible with the reference's generated SQL.
- Filters referencing parent tables are applied on the parent *before* the
  semi join, so the restriction is key-only and AQE can pick
  broadcast/shuffled-hash per actual size.
- Sort+limit compiles to TakeOrderedAndProject (top-k), never a global sort.

The SQL generator emits the equivalent ANSI SQL (DuckDB-compatible) for the
correctness oracle and for the SQL-text sink.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from klepto_spark.config import Spec, TableSpec
from klepto_spark.functions.anonymise import (
    DEFAULT_SEED, anonymise_spark_factored, anonymise_sql, keep_type_sql)
from klepto_spark.sinks.ddl import quote_ident
from klepto_spark.sources.catalog import FileCatalog

LoadFn = Callable[[str], DataFrame]


#: (applicationId, dir) -> the FileCatalog whose load() serves that
#: directory; its fingerprint-validated handle memo is the only one.
#: Keyed on applicationId, not id(spark), so a dead session's plans are
#: never served to a new one (the s11 rule); entries of other
#: applications are dropped when a new one first asks.
_CATALOGS: dict[tuple[str, str], FileCatalog] = {}


def parquet_loader(spark: SparkSession, sf_dir: str) -> LoadFn:
    """Loader over the driver's testdata layout: <dir>/<table>.parquet.

    events.ts is stored as TIMESTAMP(NANOS), which Spark reads as a long
    (nanosAsLong, set at runtime so sessions we did not build — the
    driver's — also read it); normalise it back to a microsecond
    TimestampType so downstream operators see a proper timestamp.

    Returns ``FileCatalog.load`` of one catalog per (session, dir), so a
    table's handle (file listing, footer schema read, py4j round-trips)
    is resolved once and reused for as long as its files are unchanged:
    the same validity rule as the catalog — a fingerprint of every file's
    (relative path, size, mtime_ns, inode), never stored within
    ``_RACY_WINDOW_S`` of the newest mtime — and the same cost of one
    ``stat`` per file under the table root on every call."""
    app = spark.sparkContext.applicationId
    catalog = _CATALOGS.get((app, sf_dir))
    if catalog is None:
        for key in list(_CATALOGS):
            if key[0] != app:
                _CATALOGS.pop(key, None)
        catalog = _CATALOGS[(app, sf_dir)] = FileCatalog(spark, sf_dir)
    return catalog.load


def _tables_in_expr(expr: str, known: list[str]) -> set[str]:
    """Which table names a predicate references as qualifiers (t.col)."""
    found = set()
    for t in known:
        if re.search(rf"\b{re.escape(t)}\s*\.", expr):
            found.add(t)
    return found


def build_table_df(table: TableSpec, load: LoadFn, *, spec: Spec | None = None,
                   join_strategy: str = "semi", seed: str = DEFAULT_SEED,
                   anonymise: bool = True) -> DataFrame:
    """Compile one table pipeline to a DataFrame.

    join_strategy:
      'inner' — bug-compatible with the reference's generated JOIN
                (engine.go:140-152): child rows duplicate if the referenced
                key is non-unique.
      'semi'  — the restriction the reference *means*: LEFT SEMI chain,
                parent predicates pre-applied, no duplication, prunable.
    """
    base = load(table.name).alias(table.name)
    target_cols = base.columns
    match = spec.resolve_matcher(table.filter.match) if spec else table.filter.match

    # Semi strategy handles predicates over the target OR exactly one parent;
    # anything mixing tables falls back to the reference-shaped inner join.
    parent_refs = _parent_tables(table, match) if match else set()
    target_ref = bool(match) and bool(_tables_in_expr(match, [table.name]))
    semi_ok = (join_strategy == "semi"
               and not (parent_refs and target_ref)
               and len(parent_refs) <= 1)

    if table.relationships and semi_ok:
        df = _build_semi(table, base, load, match)
        if match and not parent_refs:
            df = df.filter(match)
    else:
        df = base
        for rel, alias in zip(table.relationships, _join_aliases(table)):
            parent = load(rel.referenced_table).alias(alias)
            join_tbl = rel.table or table.name
            cond = F.col(f"{alias}.{rel.referenced_key}") == \
                F.col(f"{join_tbl}.{rel.foreign_key}")
            df = df.join(parent, cond, "inner")
        if match:
            df = df.filter(match)
        # Project the target table's own columns only (engine.go:88-94).
        # selectExpr: one py4j call instead of one F.col round-trip per
        # column (the k-family construction-chatter fix, VERDICT r14 #6)
        df = df.selectExpr(*[f"{quote_ident(table.name, 'mysql')}."
                             f"{quote_ident(c, 'mysql')}" for c in target_cols])

    if table.filter.sorts:
        # one multi-key sort in declaration order (fixes the reference's
        # map-iteration nondeterminism, SURVEY §4.3.1); sorts may be
        # qualified ("users.created_at") — strip, we already projected.
        keys = [F.col(c.split(".")[-1]).desc() if d.lower() == "desc"
                else F.col(c.split(".")[-1]).asc()
                for c, d in table.filter.sorts]
        df = df.orderBy(*keys)
    if table.filter.limit > 0:
        df = df.limit(table.filter.limit)

    if anonymise:
        df = anonymise_projection(
            df, table.anonymise, table=table.name, seed=seed,
            locale=spec.locale if spec else "en",
            cast_policy=table.cast_policy, pii_redact=table.pii_redact)
    return df


def anonymise_projection(df: DataFrame, anonymise: dict[str, str], *,
                         table: str = "", seed: str = DEFAULT_SEED,
                         locale: str = "en", cast_policy: str = "string",
                         pii_redact: list[str] | tuple = ()) -> DataFrame:
    """The anonymise stage of a table pipeline, batch or streaming: the
    column fakers (``anonymise``: column -> faker spec), then the
    ``pii_redact`` free-text masking. Stateless, so the same projection
    serves a bounded and an unbounded frame.

    The fakers compile to the Spark execution twin of the portable inline
    text (:func:`anonymise_spark_factored`): reused md5 streams and the
    per-row keyed strings become a helper pre-projection (codegen stays
    inside janino's method limit, each stream computed once per row, only
    when read), and the final projection replaces each column. The oracle
    replays the INLINE text — values, types and nullability are identical
    (pytest-pinned).

    All fakers compile in ONE pass of two selectExpr calls (helper
    pre-projection, then the replacing projection) instead of a
    select/withColumn/drop triple per column: each faker's SQL reads only
    ITS OWN source column plus its helpers, so the one-shot projection is
    value-identical to a sequential loop (k05–k15 oracle parity pins it),
    and construction costs two py4j calls instead of ~3+|helpers| per
    column."""
    if anonymise:
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        cols = list(df.columns)
        taken = set(cols)
        all_helpers: dict[str, str] = {}
        final_sql: dict[str, str] = {}
        for col, faker_spec in anonymise.items():
            sql, helpers = anonymise_spark_factored(
                faker_spec, col, table=table, seed=seed, locale=locale,
                avoid=taken)
            if cast_policy == "keep" and col in types:
                sql = keep_type_sql(faker_spec, sql, types[col],
                                    context=f"{table}.{col}")
            all_helpers.update(helpers)
            taken.update(helpers)
            final_sql[col] = sql
        if all_helpers:
            df = df.selectExpr("*", *[f"{h} AS {quote_ident(n, 'mysql')}"
                                      for n, h in all_helpers.items()])
        out = [f"{final_sql[c]} AS {quote_ident(c, 'mysql')}"
               if c in final_sql else quote_ident(c, "mysql") for c in cols]
        # a faked column absent from the frame appends at the end — the
        # withColumn behaviour the sequential loop had
        out += [f"{final_sql[c]} AS {quote_ident(c, 'mysql')}"
                for c in final_sql if c not in cols]
        df = df.selectExpr(*out)

    if pii_redact:
        # free-text masking stage (engine extension): declarative regex
        # rules (operators/pii.py), applied after the column fakers so a
        # faked value that still carries PII shapes gets masked too —
        # one projection for all rules (same py4j-chatter rationale)
        from klepto_spark.operators.pii import redact
        masked = set(pii_redact)
        df = df.select(*[redact(c).alias(c) if c in masked
                         else F.col(quote_ident(c, "mysql")) for c in df.columns])
    return df


def _join_aliases(table: TableSpec) -> list[str]:
    """The alias of each relationship's parent join in the inner-join
    shape: the parent's own name the first time it is joined, then
    ``<parent>_2``, ``<parent>_3``, ... (the target counts as joined), so
    two FKs to one parent — or an FK to the table itself — join apart
    instead of under one ambiguous name. Predicates and chained
    relationships that name the parent bind to its first join."""
    names = {table.name, *(r.referenced_table for r in table.relationships)}
    seen = {table.name}
    aliases = []
    for rel in table.relationships:
        alias, k = rel.referenced_table, 1
        while alias in seen or (k > 1 and alias in names):
            k += 1
            alias = f"{rel.referenced_table}_{k}"
        seen.add(alias)
        aliases.append(alias)
    return aliases


def _parent_tables(table: TableSpec, match: str) -> set[str]:
    parents = [r.referenced_table for r in table.relationships]
    return _tables_in_expr(match, parents)


def _build_semi(table: TableSpec, base: DataFrame, load: LoadFn,
                match: str) -> DataFrame:
    """Compile the FK chain to LEFT SEMI joins, innermost-parent first.

    The reference chains JOINs child->parent->grandparent
    (engine.go:140-152, examples/user-orders.toml:33-56). We rebuild that
    chain from the leaf: filter the ultimate parent with any parent-side
    predicate, semi-join downward so each hop only carries keys.

    A parent already on the restrict path (a self-FK ``t.fk -> t.id``, or
    a longer cycle) is joined once under its own alias
    (:func:`_join_aliases`) and not re-entered — the single join the
    inner shape makes — instead of recursing without end.
    """
    parent_preds = _parent_tables(table, match) if match else set()

    # Group relationship edges, with their inner-shape alias, by the table
    # they hang off ("" = target).
    by_src: dict[str, list] = {}
    for rel, alias in zip(table.relationships, _join_aliases(table)):
        by_src.setdefault(rel.table or table.name, []).append((rel, alias))

    def restrict(name: str, df: DataFrame, path: frozenset) -> DataFrame:
        for rel, alias in by_src.get(name, []):
            ref = rel.referenced_table
            if ref in path:
                # predicates bind to the first join, as in the inner shape
                parent = load(ref).alias(alias)
            else:
                alias = ref
                parent = restrict(ref, load(ref).alias(ref), path | {ref})
                if ref in parent_preds:
                    parent = parent.filter(F.expr(match))
            cond = F.col(f"{alias}.{rel.referenced_key}") == \
                F.col(f"{name}.{rel.foreign_key}")
            df = df.join(parent, cond, "left_semi")
        return df

    return restrict(table.name, base, frozenset([table.name]))


# ---------------------------------------------------------------------------
# ANSI SQL generation (oracle + SQL-text sink)
# ---------------------------------------------------------------------------

def build_table_sql(table: TableSpec, *, spec: Spec | None = None,
                    columns: list[str], seed: str = DEFAULT_SEED,
                    anonymise: bool = True,
                    column_types: dict[str, str] | None = None) -> str:
    """The equivalent ANSI SQL (DuckDB-runnable) of :func:`build_table_df`
    with join_strategy='inner' — mirrors the reference's generated SQL
    (engine.go:136-167) with the anonymise projection layered on top."""
    t = table.name
    sel = ", ".join(f"{t}.{c}" for c in columns)
    sql = f"SELECT {sel} FROM {t}"
    for rel, alias in zip(table.relationships, _join_aliases(table)):
        join_tbl = rel.table or t
        parent = (rel.referenced_table if alias == rel.referenced_table
                  else f"{rel.referenced_table} AS {alias}")
        sql += (f" JOIN {parent} ON {alias}.{rel.referenced_key} = "
                f"{join_tbl}.{rel.foreign_key}")
    match = spec.resolve_matcher(table.filter.match) if spec else table.filter.match
    if match:
        sql += f" WHERE {match}"
    if table.filter.sorts:
        keys = ", ".join(f"{c.split('.')[-1]} {d}" for c, d in table.filter.sorts)
        sql += f" ORDER BY {keys}"
    if table.filter.limit > 0:
        sql += f" LIMIT {table.filter.limit}"
    if not (anonymise and table.anonymise):
        if anonymise and table.pii_redact:
            from klepto_spark.operators.pii import redact_sql
            outer0 = ", ".join(
                f"{redact_sql(c)} AS {c}" if c in table.pii_redact else c
                for c in columns)
            return f"SELECT {outer0} FROM ({sql}) AS {t}"
        return sql
    locale = spec.locale if spec else "en"

    def _anon(c: str) -> str:
        e = anonymise_sql(table.anonymise[c], c, table=t, seed=seed,
                          locale=locale)
        if table.cast_policy == "keep" and column_types and c in column_types:
            e = keep_type_sql(table.anonymise[c], e, column_types[c],
                              context=f"{t}.{c}")
        return f"{e} AS {c}"

    outer = ", ".join(
        _anon(c) if c in table.anonymise else c for c in columns)
    sql = f"SELECT {outer} FROM ({sql}) AS {t}"
    if table.pii_redact:
        from klepto_spark.operators.pii import redact_sql
        outer2 = ", ".join(
            f"{redact_sql(c)} AS {c}" if c in table.pii_redact else c
            for c in columns)
        sql = f"SELECT {outer2} FROM ({sql}) AS {t}"
    return sql
