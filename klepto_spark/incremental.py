"""Watermark-based incremental copy — delta-shaped ``steal``.

The reference always copies whole tables (pkg/dumper/engine/engine.go has
no notion of a previous run). For DB→lake pipelines that re-run on a
schedule, re-reading 100 TB to pick up yesterday's rows is the dominant
cost, so this module adds the standard high-water-mark pattern on top of
the existing engine:

- per table, a monotonically-increasing *watermark column* (id,
  created_at, …) and a persisted *mark* (the highest value already
  copied, stored as JSON next to the pipeline)
- each run snapshots the CURRENT max first, copies only
  ``mark < col <= new_max`` (append mode, through the full configured
  pipeline — filters, restriction joins, anonymisation all apply), and
  persists the new mark only after the copy succeeded — a crashed run
  re-copies its window instead of losing it
- the upper bound makes the window closed: rows arriving mid-copy land
  in the NEXT run instead of being half-copied
- the first run (no mark) is a plain full copy in overwrite mode

Scale: the `col > mark` predicate is pushed into the scan (parquet
row-group stats / JDBC WHERE), so an incremental run's cost follows the
delta, not the table. Limits, shared with every watermark design: rows
UPDATED in place behind the mark are not re-copied (this is insert-shaped
capture, not CDC), and ties at the old mark's exact value that commit
AFTER the snapshot are picked up next run only if the column keeps
increasing — use a strictly-monotonic column.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import tempfile
from dataclasses import dataclass, replace

from klepto_spark.config import Spec, TableSpec
from klepto_spark.engine import RunReport, TableResult, run_tables, steal
from klepto_spark.operators.pipeline import build_table_df


def load_marks(state_path: str) -> dict:
    if not os.path.exists(state_path):
        return {}
    with open(state_path, encoding="utf-8") as fh:
        return json.load(fh)


def save_marks(state_path: str, marks: dict) -> None:
    """Atomic replace: a crash mid-write leaves the previous state."""
    d = os.path.dirname(os.path.abspath(state_path)) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".marks-")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            json.dump(marks, fh, indent=1, default=str)
        os.replace(tmp, state_path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def _literal(value) -> str:
    """Render a watermark value as a Spark SQL literal."""
    if isinstance(value, bool):
        raise ValueError("boolean watermark columns are not monotonic")
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, _dt.datetime):
        return f"TIMESTAMP '{value.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(value, _dt.date):
        return f"DATE '{value.isoformat()}'"
    escaped = str(value).replace("'", "''")
    return f"'{escaped}'"


def _from_json(stored: dict):
    """Stored mark -> comparable literal SQL (types round-trip via tag)."""
    kind, raw = stored["kind"], stored["value"]
    if kind == "int":
        return _literal(int(raw))
    if kind == "float":
        return _literal(float(raw))
    if kind == "timestamp":
        return f"TIMESTAMP '{raw}'"
    if kind == "date":
        return f"DATE '{raw}'"
    return _literal(str(raw))


def _to_json(value) -> dict:
    if isinstance(value, _dt.datetime):
        return {"kind": "timestamp",
                "value": value.strftime("%Y-%m-%d %H:%M:%S.%f")}
    if isinstance(value, _dt.date):
        return {"kind": "date", "value": value.isoformat()}
    if isinstance(value, int):
        return {"kind": "int", "value": value}
    if isinstance(value, float):
        return {"kind": "float", "value": value}
    return {"kind": "string", "value": str(value)}


def _window(source, table: str, col: str, stored: dict | None):
    """Snapshot ``max(col)`` and return ``(new_max, pred)``: ``pred``
    bounds the closed window ``stored < col <= new_max`` (the upper bound
    alone on the first run), or is None when nothing lies past the mark.
    The snapshot comes BEFORE the copy: rows landing mid-copy belong to
    the next window."""
    from pyspark.sql import functions as F
    new_max = source.load(table).agg(F.max(col).alias("m")).first()["m"]
    if new_max is None or (stored is not None
                           and _to_json(new_max) == stored):
        return new_max, None
    upper = f"{table}.{col} <= {_literal(new_max)}"
    if stored is None:
        return new_max, upper
    return new_max, f"{table}.{col} > {_from_json(stored)} AND {upper}"


def _scoped(spec: Spec, table: str, pred: str | None = None) -> Spec:
    """``spec`` with ``table``'s entry first (a verbatim one when it has
    none), its filter ANDed with ``pred``."""
    tspec = spec.find_table(table) or TableSpec(name=table)
    if pred is not None:
        match = tspec.filter.match
        combined = f"({match}) AND {pred}" if match else pred
        tspec = replace(tspec, filter=replace(tspec.filter, match=combined))
    return replace(spec, tables=[tspec] + [t for t in spec.tables
                                           if t.name != table])


@dataclass
class CdcTable:
    """CDC capture config for one table.

    ``mark_col`` must bump on UPDATE as well as INSERT (updated_at, a
    version counter, an LSN...); ``keys`` identify the row for the merge.
    Both must survive the table's configured pipeline (not anonymised
    away) — validated before any data moves.

    Delete capture, two mechanisms (combinable):

    - ``tombstone``: a boolean SQL expression over the captured row (e.g.
      ``"deleted_at IS NOT NULL"``) marking soft-deleted rows. Sources
      that soft-delete bump ``mark_col`` on delete, so tombstones ride
      the normal capture window for free; matching keys are removed at
      the sink instead of merged. The expression's columns must survive
      the pipeline unmasked, like the keys.
    - ``sync_deletes``: per run, diff the source's CURRENT key set
      against the sink's (both scans column-pruned to the keys, so the
      shuffle carries keys only — O(|keys|), not O(table)) and remove
      keys that vanished. Catches HARD deletes, which leave no row to
      tombstone; runs even when the watermark is unchanged, because a
      hard delete never bumps ``max(mark_col)``.

    Both delete paths land in the SAME atomic publish / transaction as
    the upserts (:func:`klepto_spark.sinks.writers.merge_table`).

    ``partition_buckets`` opts file sinks into the bucket-partitioned
    layout (:func:`klepto_spark.sinks.writers.merge_files_partitioned`):
    merge cost then follows the delta's buckets instead of rewriting the
    whole table — the right default for large tables.

    ``merge_on_read`` makes file-sink merges O(delta) appends: each
    window publishes as a deletion-vector epoch, the base files are never
    rewritten, reads resolve latest-wins, and compaction folds epochs
    back in (:mod:`klepto_spark.sinks.deletion_vectors`) — the right
    shape when windows are frequent and small relative to the table.
    Combine with ``partition_buckets`` so compaction inherits
    touched-buckets-only cost."""
    mark_col: str
    keys: list[str]
    tombstone: str | None = None
    sync_deletes: bool = False
    partition_buckets: int | None = None
    merge_on_read: bool = False


def steal_cdc(spec: Spec, source, sink_dsn: str, *,
              state_path: str, tables: dict[str, "CdcTable"],
              strict: bool = True, join_strategy: str = "semi",
              seed: str = "klepto") -> RunReport:
    """CDC-shaped incremental ``steal``: unlike :func:`steal_incremental`
    (insert-only capture), rows UPDATED in place are re-captured — the
    watermark rides a column that bumps on update, and the sink applies
    the delta as a keyed latest-wins MERGE instead of an append.

    Per table and run: snapshot ``max(mark_col)``, read only
    ``mark < mark_col <= new_max`` through the full configured pipeline
    (predicate pushed to the scan), keep the newest version per key inside
    the window, then merge: files = anti-join + atomic staging-dir swap;
    JDBC = staged delete+insert in one transaction. The mark persists only
    after a successful merge, and because merging is idempotent, a crashed
    run's replay converges to the same target state (exactly-once effect
    from at-least-once capture).

    DELETE capture is opt-in per table (:class:`CdcTable`): ``tombstone``
    routes soft-deleted rows in the capture window to sink-side removal,
    ``sync_deletes`` diffs key sets to catch hard deletes. Remaining
    limit: ``mark_col`` ties across versions of one key merge arbitrarily
    — use a strictly-monotonic version column."""
    from pyspark.sql import Observation, Window, functions as F

    from klepto_spark.sinks.writers import merge_table

    marks = load_marks(state_path)

    def capture(table: str, res: TableResult) -> None:
        cdc = tables[table]
        stored = marks.get(table)
        new_max, pred = _window(source, table, cdc.mark_col, stored)
        if pred is None and not cdc.sync_deletes:
            res.rows, res.skipped = 0, stored is not None
            return
        # an unchanged watermark still needs a sync_deletes pass: hard
        # deletes never bump max(mark_col)
        run_spec = _scoped(spec, table, pred or "1=0")
        tspec = run_spec.tables[0]
        df = build_table_df(tspec, source.load, spec=run_spec,
                            join_strategy=join_strategy, seed=seed)
        masked = [c for c in [*cdc.keys, cdc.mark_col]
                  if c in tspec.anonymise]
        missing = [c for c in [*cdc.keys, cdc.mark_col]
                   if c not in df.columns]
        if masked or missing:
            raise ValueError(
                f"CDC columns masked={masked} missing={missing} for "
                f"table {table!r}: merge keys and the mark column "
                "must reach the sink unmasked — an anonymised mark "
                "breaks version ordering and an anonymised key breaks "
                "identity across seed changes")
        # one version per key per window: a key updated twice between
        # runs must merge once, with its newest state
        w = Window.partitionBy(*cdc.keys).orderBy(F.desc(cdc.mark_col))
        df = (df.withColumn("_cdc_rn", F.row_number().over(w))
              .filter(F.col("_cdc_rn") == 1).drop("_cdc_rn"))
        dels = None
        if cdc.tombstone:
            # soft-deleted rows ride the capture window (their
            # mark_col bumped); route their keys to removal instead
            # of merging the tombstoned row into the sink
            flag = F.coalesce(F.expr(cdc.tombstone), F.lit(False))
            dels = df.filter(flag).select(*cdc.keys)
            df = df.filter(~flag)
        if cdc.sync_deletes:
            sink_keys = _sink_keys(df.sparkSession, sink_dsn, table,
                                   cdc.keys)
            if sink_keys is not None:
                # live keys go through the SAME configured pipeline
                # (filters, restriction joins — not anonymisation,
                # keys are unmasked by contract), so a row leaving
                # the configured subset is removed too. Keys-only on
                # both sides: column-pruned scans, the shuffle
                # carries keys — O(|keys|), not O(table).
                base_run = _scoped(spec, table)
                live = build_table_df(
                    base_run.tables[0], source.load, spec=base_run,
                    join_strategy=join_strategy, seed=seed,
                    anonymise=False).select(*cdc.keys)
                vanished = sink_keys.join(live, on=cdc.keys,
                                          how="left_anti")
                dels = (vanished if dels is None
                        else dels.unionByName(vanished))
        if dels is not None:
            dels = dels.persist()
            res.deleted_rows = dels.count()
            if res.deleted_rows == 0:
                dels.unpersist()
                dels = None
        if pred is None and dels is None:
            res.rows, res.skipped = 0, True
            return
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        try:
            merge_table(df, sink_dsn, table, cdc.keys, deletes=dels,
                        partition_buckets=cdc.partition_buckets,
                        merge_on_read=cdc.merge_on_read)
        finally:
            if dels is not None:
                dels.unpersist()
        res.rows = obs.get["rows"]
        if pred is not None:
            marks[table] = _to_json(new_max)
            save_marks(state_path, marks)

    # serial: marks are saved after each table's merge
    return run_tables("cdc steal", spec, source, sink_dsn, sorted(tables),
                      capture, strict=strict)


def _sink_keys(spark, sink_dsn: str, table: str, keys: list[str]):
    """Current sink-side key set, or None before the first publish."""
    from klepto_spark.sources.catalog import connect
    try:
        cat = connect(spark, sink_dsn)
        if table not in cat.tables():
            return None
        return cat.load(table).select(*keys)
    except Exception:  # noqa: BLE001 — missing sink dir = first run
        return None


def steal_incremental(spec: Spec, source, sink_dsn: str, *,
                      state_path: str, watermarks: dict[str, str],
                      concurrency: int | None = None, strict: bool = True,
                      join_strategy: str = "semi", seed: str = "klepto",
                      copy_others: bool = True) -> RunReport:
    """Incremental ``steal``: watermarked tables copy only rows past their
    persisted mark (append); everything else full-copies (overwrite)
    unless ``copy_others=False``.

    ``watermarks`` maps table name -> monotonically-increasing column.
    State lives at ``state_path`` (JSON, atomically replaced)."""
    marks = load_marks(state_path)
    report = RunReport()

    if copy_others:
        others = [t for t in source.tables() if t not in watermarks]
        if others:
            full = steal(spec, source, sink_dsn, concurrency=concurrency,
                         strict=strict, join_strategy=join_strategy,
                         seed=seed, mode="overwrite", only_tables=others)
            report.tables.extend(full.tables)
            report.structure_sql = full.structure_sql
            report.seconds += full.seconds

    for table, col in sorted(watermarks.items()):
        stored = marks.get(table)
        new_max, pred = _window(source, table, col, stored)
        if pred is None:
            report.tables.append(TableResult(table=table, rows=0,
                                             skipped=stored is not None))
            continue
        part = steal(_scoped(spec, table, pred), source, sink_dsn,
                     concurrency=concurrency, strict=strict,
                     join_strategy=join_strategy, seed=seed,
                     mode="overwrite" if stored is None else "append",
                     only_tables=[table], data_only=True)
        report.tables.extend(part.tables)
        report.seconds += part.seconds
        if part.ok:
            # persist only after a successful copy: a crashed run replays
            # its window (at-least-once into an atomic sink)
            marks[table] = _to_json(new_max)
            save_marks(state_path, marks)

    # a failed table raised inside its strict steal call above
    report.tables.sort(key=lambda r: r.table)
    return report
