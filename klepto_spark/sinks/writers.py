"""Data sinks routed by DSN.

Mirrors the reference's dumper drivers (SURVEY §2.1 S7-S12): file sinks
(parquet/csv/json — the engine's native fast path), JDBC bulk-load sinks
with pre/post hooks, and the SQL-text sink (sqltext.py).

Bulk-load parity: the reference's LOAD DATA INFILE / COPY IN fast paths
(pkg/dumper/mysql/dumper.go:136-199, pkg/dumper/postgres/dumper.go:168-212)
map to JDBC writer batching (``batchsize``, ``rewriteBatchedInserts``);
per-table transactional atomicity (one txn per table, dumper.go:74-99) is
the STAGING-SWAP: all partitions load a staging table in parallel, then a
single transaction publishes it (rename for overwrite, INSERT..SELECT for
append) — readers never observe a half-loaded table and the bulk write
stays parallel (SURVEY §7 hard-part 3). ``write_jdbc(atomic=False)``
writes directly (partition-level commits become visible as they land).
File sinks always publish through :mod:`klepto_spark.sinks.tablefs`: a
staged directory swap, or, for an append, a move of the staged files.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from klepto_spark.sinks.tablefs import (
    BUCKET_COL, LAYOUT_FILE, PDV_LOG, drop, is_bucket_layout, open_table,
    pending, read_contract, read_layout, sub, swap_dir, swap_stage,
    table_path, write_contract, write_layout)
from klepto_spark.sources.dsn import DSN, DSNError, file_path, jdbc_url, route


@dataclass
class JdbcHooks:
    """Statements around a table load — FK/trigger suspension
    (reference: pkg/dumper/postgres/dumper.go:81-145 DISABLE TRIGGER ALL,
    mysql FOREIGN_KEY_CHECKS toggling dumper.go:192-194).

    - ``pre``: per-connection session init (must be idempotent — every
      executor connection replays them) and prepended to the publish txn.
    - ``pre_once``: executed ONCE on a direct connection before the bulk
      load — for non-idempotent setup like DROP CONSTRAINT.
    - ``post``: executed once after the load, ALWAYS (also on failure) —
      restoration must not be skipped because the load died."""
    pre: list[str] = field(default_factory=list)
    post: list[str] = field(default_factory=list)
    pre_once: list[str] = field(default_factory=list)

    @classmethod
    def suspend_constraints(cls, dialect: str, table: str) -> "JdbcHooks":
        if dialect == "mysql":
            return cls(pre=["SET FOREIGN_KEY_CHECKS = 0"],
                       post=["SET FOREIGN_KEY_CHECKS = 1"])
        return cls(pre=[f'ALTER TABLE "{table}" DISABLE TRIGGER ALL'],
                   post=[f'ALTER TABLE "{table}" ENABLE TRIGGER ALL'])

    @classmethod
    def rds_fk_cycle(cls, spark, dsn: DSN, table: str) -> "JdbcHooks":
        """Managed-database fallback: DISABLE TRIGGER ALL needs superuser
        or table-owner rights that RDS-style services don't grant, so
        instead DROP the table's FK constraints before the load and
        re-ADD them from their saved definitions afterwards (reference:
        pkg/dumper/postgres/dumper.go:95-120 collects them from
        pg_catalog.pg_constraint, 133-142 restores them post-load).

        On postgres the saved definition is ``pg_get_constraintdef``
        verbatim (keeps ON DELETE/MATCH/DEFERRABLE fidelity); elsewhere
        the definition is assembled from DatabaseMetaData.getImportedKeys
        — same cycle, portable enough to exercise on embedded Derby."""
        from klepto_spark import jdbc as J
        if dsn.type == "postgres":
            rows = J.query_rows(spark, dsn, pg_fk_defs_sql(table))
            defs = [(name, defn) for name, defn in rows]
        else:
            defs = [
                (name,
                 f"FOREIGN KEY ({', '.join(local)}) "
                 f"REFERENCES {ref_table} ({', '.join(remote)})")
                for name, local, ref_table, remote
                in J.foreign_keys(spark, dsn, table)]
        return cls.from_fk_defs(table, defs)

    @classmethod
    def from_fk_defs(cls, table: str,
                     defs: list[tuple[str, str]]) -> "JdbcHooks":
        """The drop/re-add statement pair for saved FK definitions —
        split out so the real-database suite can execute the exact text
        :meth:`rds_fk_cycle` sends."""
        return cls(
            pre_once=[f"ALTER TABLE {table} DROP CONSTRAINT {name}"
                      for name, _ in defs],
            post=[f"ALTER TABLE {table} ADD CONSTRAINT {name} {defn}"
                  for name, defn in defs])


def pg_fk_defs_sql(table: str) -> str:
    """The pg_catalog query :meth:`JdbcHooks.rds_fk_cycle` collects FK
    definitions with (reference: pkg/dumper/postgres/dumper.go:95-120)."""
    return ("SELECT conname, pg_get_constraintdef(oid)\n"
            "FROM pg_catalog.pg_constraint\n"
            f"WHERE contype = 'f' AND conrelid = '{table}'::regclass")


STAGING_SUFFIX = "_klepto_staging"


def write_files(df: DataFrame, directory: str, table: str, fmt: str,
                mode: str = "overwrite") -> None:
    """File sink with the same publish discipline as the JDBC sink: the
    job writes the table's stage in full parallel, and only a successful
    job publishes it through :func:`~klepto_spark.sinks.tablefs.swap_dir`
    — a failed or killed write never leaves the target half-replaced (the
    JDBC staging-table swap, applied to directories). Directory rename is
    atomic on HDFS and posix filesystems; on object stores without atomic
    rename, pair this with a rename-committing layer.

    ``mode='append'`` stages the new files the same way, then moves the
    staged data files into the live directory under collision-free names:
    readers never observe a partially-written FILE, and nothing moves
    unless the whole job succeeded."""
    target = table_path(directory, table, fmt)
    jvm, fs, tgt = open_table(df.sparkSession, directory, table, fmt)
    staging = swap_stage(jvm, tgt)
    drop(fs, staging)
    try:
        writer = df.write.format(fmt).mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true")
        writer.save(str(staging))
        if mode == "overwrite" or not fs.exists(tgt):
            swap_dir(jvm, fs, tgt, staging, target)
        else:  # append into a live directory, file-at-a-time
            import uuid
            run_id = uuid.uuid4().hex[:12]
            for status in fs.listStatus(staging):
                name = status.getPath().getName()
                if name.startswith(("_", ".")):
                    continue  # _SUCCESS / hidden commit metadata
                dest = sub(jvm, tgt,
                           f"part-{run_id}-{name.removeprefix('part-')}")
                if not fs.rename(status.getPath(), dest):
                    raise IOError(f"cannot append {name} into {target}")
    finally:
        drop(fs, staging)


def _jdbc_writer(df: DataFrame, dsn: DSN, table: str, mode: str,
                 batchsize: int, pre: list[str]):
    # nested pass-through at the JDBC boundary (SURVEY §1.3): maps and
    # structs serialise as JSON text (no JDBC type exists for them —
    # same policy as the sqltext sink and the JSON DDL fallback); arrays
    # too, EXCEPT on postgres where Spark's dialect writes native arrays
    # into the elem[] columns the DDL sink declares
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, MapType, StructType
    for f in df.schema.fields:
        if isinstance(f.dataType, (MapType, StructType)) or (
                isinstance(f.dataType, ArrayType)
                and dsn.type != "postgres"):
            df = df.withColumn(f.name, F.to_json(F.col(f.name)))
    writer = (df.write.format("jdbc")
              .option("url", jdbc_url(dsn))
              .option("dbtable", table)
              .option("batchsize", str(batchsize))
              .option("isolationLevel", "READ_COMMITTED")
              .mode(mode))
    if dsn.username:
        writer = (writer.option("user", dsn.username)
                  .option("password", dsn.password))
    if dsn.type == "mysql":
        writer = writer.option("rewriteBatchedInserts", "true")
    if pre:
        writer = writer.option("sessionInitStatement", "; ".join(pre))
    return writer


def _rename_sql(dialect: str, src: str, dst: str) -> str:
    if dialect == "postgres":
        return f"ALTER TABLE {src} RENAME TO {dst}"
    return f"RENAME TABLE {src} TO {dst}"  # mysql, derby


def write_jdbc(df: DataFrame, dsn: DSN, table: str, mode: str = "append",
               atomic: bool = True, batchsize: int = 10_000,
               hooks: JdbcHooks | None = None,
               txn_statements: list[str] | None = None) -> None:
    """JDBC sink. ``atomic`` publishes via staging-table swap: the bulk
    load runs fully parallel into ``<table>_klepto_staging``, then one
    transaction renames it into place (overwrite) or INSERT..SELECTs it
    (append) — atomicity without serialising the write. Post-hooks (FK /
    trigger re-enable — reference pkg/dumper/postgres/dumper.go:81-145)
    execute over a direct connection after the load.

    ``txn_statements`` join the publish transaction (atomic mode only) —
    the hook exactly-once streaming needs: commit a watermark/epoch
    marker atomically WITH the data."""
    from klepto_spark import jdbc as J
    spark = df.sparkSession
    hooks = hooks or JdbcHooks()
    try:
        # inside the try: if pre_once PARTIALLY applies (DDL auto-commits
        # on most engines, so the transaction cannot undo it), the
        # finally-block post hooks still run and restore what was dropped
        if hooks.pre_once:
            J.execute(spark, dsn, hooks.pre_once, transactional=True)
        if not atomic:
            if txn_statements:
                raise ValueError("txn_statements require atomic=True "
                                 "(they join the publish transaction)")
            _jdbc_writer(df, dsn, table, mode, batchsize, hooks.pre).save()
            return
        staging = f"{table}{STAGING_SUFFIX}"
        _jdbc_writer(df, dsn, staging, "overwrite", batchsize,
                     hooks.pre).save()
        swap = list(hooks.pre)
        exists = J.table_exists(spark, dsn, table)
        if mode == "overwrite":
            if exists:
                swap.append(f"DROP TABLE {table}")
            swap.append(_rename_sql(dsn.type, staging, table))
        elif exists:
            swap.append(f"INSERT INTO {table} SELECT * FROM {staging}")
            swap.append(f"DROP TABLE {staging}")
        else:
            swap.append(_rename_sql(dsn.type, staging, table))
        swap.extend(txn_statements or [])
        J.execute(spark, dsn, swap, transactional=True)
    finally:
        # post-hooks run even on failure — a target must not be left with
        # triggers/constraints disabled; a post-hook failure is logged, not
        # raised, so it cannot mask the original error
        if hooks.post:
            try:
                J.execute(spark, dsn, hooks.post, transactional=False)
            except Exception as exc:  # noqa: BLE001
                import logging
                logging.getLogger(__name__).error(
                    "post-hooks failed for %s: %s", table, exc)


def merge_files(df: DataFrame, directory: str, table: str, fmt: str,
                keys: list[str], deletes: DataFrame | None = None) -> None:
    """Keyed merge into a file-sink table: current rows whose key appears
    in ``df`` are replaced, everything else is kept, new keys append — in
    ONE atomic publish (the staging-dir swap), so readers see either the
    old table or the fully-merged one. ``deletes`` (a keys-only frame)
    removes those keys in the SAME publish — upserts and deletes land
    together or not at all.

    The rewrite cost is the table, not the delta — the honest baseline
    for keyed merge on immutable files. When the target is already a
    bucket-partitioned layout (written by :func:`merge_files_partitioned`),
    this DELEGATES to the partitioned merge with the layout's recorded
    routing parameters, so the default path inherits touched-buckets-only
    cost — and never flattens an existing layout into a whole-table dir."""
    target = table_path(directory, table, fmt)
    spark = df.sparkSession
    jvm, fs, tgt = open_table(spark, directory, table, fmt)
    merged = df
    if fs.exists(tgt):
        _fold_pending_positional(spark, directory, table, fmt, jvm, fs, tgt)
        if is_bucket_layout(fs, tgt):
            layout = read_layout(jvm, fs, tgt)
            if layout is None:
                raise ValueError(
                    f"{target} is bucket-partitioned but has no "
                    f"{LAYOUT_FILE} sidecar (pre-sidecar layout): run "
                    "merge_files_partitioned once with the ORIGINAL "
                    "n_buckets to heal it — guessing the modulus here "
                    "would misroute keys")
            return merge_files_partitioned(
                df, directory, table, fmt, keys,
                n_buckets=layout["n_buckets"], deletes=deletes)
        current = table_reader(spark, fmt).load(target)
        gone = df.select(*keys)
        if deletes is not None:
            gone = gone.unionByName(deletes.select(*keys))
        kept = current.join(gone.distinct(), on=keys, how="left_anti")
        merged = kept.unionByName(df)
    # the staged write reads the live directory lazily BEFORE the rename
    # publishes, so read-rewrite-swap is safe in one pass
    write_files(merged, directory, table, fmt, mode="overwrite")


def table_reader(spark, fmt: str, contract=None):
    """A reader of the table's data files: typed by ``contract`` when
    there is one, else as stored (csv infers, with a header)."""
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true")
        reader = (reader.schema(contract) if contract is not None
                  else reader.option("inferSchema", "true"))
    elif contract is not None:
        reader = reader.schema(contract)
    return reader


def _fold_pending_positional(spark, directory, table, fmt, jvm, fs, tgt
                             ) -> None:
    """Keyed merges rewrite base files, which would invalidate pending
    positional deletion vectors' (file, row) addresses — so any pending
    positional epochs are folded into the base FIRST. Cheap no-op check
    when the table has no committed positional epoch."""
    if pending(jvm, fs, tgt, PDV_LOG):
        from klepto_spark.sinks.positional_dv import compact_files_pdv
        compact_files_pdv(spark, directory, table, fmt)


_INTEGRAL_RANK = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}


def lossless_widening(src: str, dst: str) -> bool:
    """True when every ``src`` value is exactly representable as ``dst``:
    integral -> wider integral, float -> double, and integral up to int32
    -> double (the 53-bit mantissa holds it). bigint -> double and
    int -> float LOSE precision and are refused."""
    rs, rd = _INTEGRAL_RANK.get(src), _INTEGRAL_RANK.get(dst)
    if rs is not None and rd is not None:
        return rs <= rd
    if src == "float" and dst == "double":
        return True
    if rs is not None and rs <= 3 and dst == "double":
        return True
    return False


def align_to_contract(df: DataFrame, table_types: dict, table: str) -> DataFrame:
    """Cast a delta frame to the table's recorded column types, refusing
    anything but lossless numeric widening. A narrowing cast (delta long
    -> table int) would turn unrepresentable values into NULLs under
    non-ANSI eval — silently corrupting keys — and precision-losing
    widenings (bigint -> double rounds above 2^53, int -> float above
    2^24) corrupt just as silently, so both refuse. New columns are
    refused too: keyed merges cannot evolve the schema in place."""
    from pyspark.sql import functions as F
    drifted = set(df.columns) - set(table_types)
    if drifted:
        raise ValueError(
            f"delta columns {sorted(drifted)} not in table {table!r}; "
            "keyed merge cannot add columns (rewrite with "
            "merge_files to evolve the schema)")
    for f in df.schema.fields:
        want = table_types[f.name]
        if f.dataType != want and not lossless_widening(
                f.dataType.simpleString(), want.simpleString()):
            raise ValueError(
                f"delta column {f.name!r} is {f.dataType.simpleString()} "
                f"but table {table!r} stores {want.simpleString()}: only "
                "lossless numeric widening can be aligned safely")
    return df.select(*[F.col(c).cast(table_types[c]) for c in df.columns])


def bucket_expr(keys: list[str], n_buckets: int):
    """Deterministic key-derived partition id: stable across runs and
    engines' partitionings, so a key always lands in the same bucket."""
    from pyspark.sql import functions as F
    return F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")


def merge_files_partitioned(df: DataFrame, directory: str, table: str,
                            fmt: str, keys: list[str], n_buckets: int = 64,
                            deletes: DataFrame | None = None) -> None:
    """Keyed merge whose cost follows the TOUCHED PARTITIONS, not the
    table: the layout hive-partitions on a key-derived bucket column, so
    a merge (1) collects the delta's bucket ids (a tiny distinct), (2)
    reads ONLY those buckets of the current table — partition pruning at
    the scan, (3) rewrites just them, and (4) publishes each rewritten
    bucket by directory swap. Untouched buckets' files are never read,
    rewritten, or moved — at 100 TB a point-merge costs a few buckets'
    IO instead of a full-table rewrite (the upgrade path
    :func:`merge_files` documents).

    Atomicity is PER BUCKET (each bucket directory is either fully old
    or fully new; :func:`~klepto_spark.sinks.tablefs.swap_dir`), and the
    next mutation's ``open_table`` settles a bucket a crash left retired,
    so re-running converges. For all-or-nothing semantics over every
    bucket, fall back to :func:`merge_files`."""
    from pyspark.sql import functions as F
    spark = df.sparkSession
    target = table_path(directory, table, fmt)
    jvm, fs, tgt = open_table(spark, directory, table, fmt)
    if fs.exists(tgt):
        _fold_pending_positional(spark, directory, table, fmt, jvm, fs, tgt)

    staging = swap_stage(jvm, tgt)

    def _stage(out: DataFrame) -> None:
        drop(fs, staging)
        writer = out.write.format(fmt).mode("overwrite").partitionBy(BUCKET_COL)
        if fmt == "csv":
            writer = writer.option("header", "true")
        writer.save(str(staging))

    if not fs.exists(tgt):
        delta = df.withColumn(BUCKET_COL, bucket_expr(keys, n_buckets))
        if deletes is not None:
            delta = delta.join(deletes.select(*keys).distinct(), on=keys,
                               how="left_anti")
        try:
            _stage(delta)
            swap_dir(jvm, fs, tgt, staging, target)
        finally:
            drop(fs, staging)
        write_contract(jvm, fs, tgt, df.schema)
        write_layout(jvm, fs, tgt, n_buckets, keys)
        return

    # the at-rest routing parameters are the contract: a caller-supplied
    # n_buckets that disagrees with the layout's recorded one would route
    # existing keys to different buckets (stale versions left alive), so
    # the sidecar wins; mismatched keys change routing identity outright
    # and are refused
    layout = read_layout(jvm, fs, tgt)
    if layout is not None:
        if list(layout["keys"]) != list(keys):
            raise ValueError(
                f"table {table!r} was bucketed by keys {layout['keys']}, "
                f"merge requested keys {list(keys)}: bucket routing is "
                "key-derived, rewrite the layout to change keys")
        n_buckets = layout["n_buckets"]

    # Align the delta to the TABLE's column types before anything else:
    # xxhash64 is type-sensitive (int 3 and bigint 3 hash differently),
    # so a drifted delta key type would route the same key to a DIFFERENT
    # bucket, and mixed int/long partition files fail the later read
    # outright. The contract is the _schema.json sidecar (stable even for
    # csv, where inference could flip int->bigint as values grow); layouts
    # predating the sidecar fall back to the at-rest schema once and are
    # healed below.
    contract = read_contract(jvm, fs, tgt)
    reader = table_reader(spark, fmt, contract)
    if contract is not None:
        table_types = {f.name: f.dataType for f in contract.fields}
    else:
        table_types = {f.name: f.dataType
                       for f in reader.load(target).schema.fields
                       if f.name != BUCKET_COL}
    delta = align_to_contract(df, table_types, table)
    delta = delta.withColumn(BUCKET_COL, bucket_expr(keys, n_buckets))
    if deletes is not None:
        deletes = deletes.select(
            *[F.col(c).cast(table_types[c]) for c in deletes.columns])
        deletes = deletes.withColumn(BUCKET_COL, bucket_expr(keys, n_buckets))

    touched = {r[0] for r in delta.select(BUCKET_COL).distinct().collect()}
    if deletes is not None:
        touched |= {r[0] for r in
                    deletes.select(BUCKET_COL).distinct().collect()}
    # the bucket filter is a partition predicate: the scan prunes every
    # untouched bucket's files before any IO
    current = reader.load(target).filter(
        F.col(BUCKET_COL).isin(list(touched)))
    gone = delta.select(*keys)
    if deletes is not None:
        gone = gone.unionByName(deletes.select(*keys))
    kept = current.join(gone.distinct(), on=keys, how="left_anti")
    merged = kept.unionByName(delta.select(*kept.columns))

    try:
        _stage(merged)
        for b in sorted(touched):
            bucket = f"{BUCKET_COL}={b}"
            staged = sub(jvm, staging, bucket)
            # a delete-only bucket has no staged directory
            swap_dir(jvm, fs, sub(jvm, tgt, bucket),
                     staged if fs.exists(staged) else None,
                     f"bucket {b} of {target}")
    finally:
        drop(fs, staging)
    if contract is None:  # heal a pre-sidecar layout after a clean merge
        write_contract(jvm, fs, tgt, delta.schema)
    if layout is None:  # record routing params for the default-path delegate
        write_layout(jvm, fs, tgt, n_buckets, keys)


def merge_jdbc(df: DataFrame, dsn: DSN, table: str, keys: list[str],
               batchsize: int = 10_000,
               deletes: DataFrame | None = None) -> None:
    """Keyed merge into a JDBC table: the delta bulk-loads a staging table
    in parallel, then ONE transaction deletes the overlapped keys and
    inserts the staged rows (delete+insert = engine-portable upsert; no
    reliance on dialect MERGE). ``deletes`` (a keys-only frame) stages a
    second table whose keys are DELETEd inside that same transaction.
    Readers never observe a half-merged state, and the transactional cost
    follows the DELTA, not the table."""
    from klepto_spark import jdbc as J
    spark = df.sparkSession
    staging = f"{table}{STAGING_SUFFIX}"
    _jdbc_writer(df, dsn, staging, "overwrite", batchsize, []).save()
    exists = J.table_exists(spark, dsn, table)
    dstaging = None
    if deletes is not None and exists:
        dstaging = f"{table}{STAGING_SUFFIX}_d"
        _jdbc_writer(deletes.select(*keys), dsn, dstaging, "overwrite",
                     batchsize, []).save()
    if exists:
        # outer rows referenced by table name, not a correlation alias
        # (Derby rejects aliased DELETE targets), and key columns quoted
        # in the sink dialect — Spark's JDBC writer creates them as
        # quoted case-sensitive identifiers, so unquoted refs misfold
        from klepto_spark.sinks.ddl import quote_ident
        dialect = dsn.type if dsn.type in ("mysql", "postgres") else "ansi"

        cond = " AND ".join(
            f"{table}.{quote_ident(k, dialect)} = s.{quote_ident(k, dialect)}"
            for k in keys)
        stmts = [
            f"DELETE FROM {table} WHERE EXISTS "
            f"(SELECT 1 FROM {staging} s WHERE {cond})",
        ]
        if dstaging is not None:
            stmts.append(
                f"DELETE FROM {table} WHERE EXISTS "
                f"(SELECT 1 FROM {dstaging} s WHERE {cond})")
        stmts.append(f"INSERT INTO {table} SELECT * FROM {staging}")
        stmts.append(f"DROP TABLE {staging}")
        if dstaging is not None:
            stmts.append(f"DROP TABLE {dstaging}")
    else:
        stmts = [_rename_sql(dsn.type, staging, table)]
    J.execute(spark, dsn, stmts, transactional=True)


def merge_table(df: DataFrame, dsn_str: str, table: str,
                keys: list[str], deletes: DataFrame | None = None,
                partition_buckets: int | None = None,
                merge_on_read: bool = False) -> None:
    """Keyed-merge sink routed by DSN (the CDC counterpart of
    :func:`write_table`). ``deletes`` is an optional keys-only frame whose
    keys are removed in the same atomic publish/transaction.
    ``partition_buckets`` opts file sinks into the bucket-partitioned
    layout whose merge cost follows touched partitions
    (:func:`merge_files_partitioned`) — the 100 TB default.
    ``merge_on_read`` makes file-sink merges O(delta) appends (deletion
    vectors + delta epochs, folded by compaction —
    :mod:`klepto_spark.sinks.deletion_vectors`); with both set, the base
    is created bucket-partitioned so compaction rewrites only touched
    buckets."""
    kind, fmt, dsn = route(dsn_str)
    if kind == "files":
        if merge_on_read:
            from klepto_spark.sinks.deletion_vectors import merge_files_dv
            merge_files_dv(df, file_path(dsn), table, fmt, keys,
                           deletes=deletes, n_buckets=partition_buckets)
            return
        if partition_buckets:
            merge_files_partitioned(df, file_path(dsn), table, fmt, keys,
                                    n_buckets=partition_buckets,
                                    deletes=deletes)
        else:
            merge_files(df, file_path(dsn), table, fmt, keys,
                        deletes=deletes)
        return
    if kind == "jdbc":
        merge_jdbc(df, dsn, table, keys, deletes=deletes)
        return
    raise DSNError(f"sink dsn {dsn_str!r} cannot merge by key "
                   "(sql-text sinks have no keyed state)")


def write_table(df: DataFrame, dsn_str: str, table: str,
                mode: str = "overwrite", dialect: str = "ansi") -> int | None:
    """Sink factory routed by DSN scheme
    (reference: pkg/dumper/dumper.go:48-69)."""
    kind, fmt, dsn = route(dsn_str)
    if kind == "files":
        write_files(df, file_path(dsn), table, fmt, mode)
        return None
    if kind == "jdbc":
        write_jdbc(df, dsn, table, mode="append" if mode == "append" else "overwrite")
        return None
    if kind == "text":
        from klepto_spark.sinks.sqltext import dump_table_sql, table_output
        with table_output(dsn_str) as out:
            return dump_table_sql(df, table, out, dialect)
    raise DSNError(f"unroutable sink dsn {dsn_str!r}")
