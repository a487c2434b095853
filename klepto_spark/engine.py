"""Run orchestrator: the ``steal`` engine.

Mirrors the reference's dump engine (reference:
pkg/dumper/engine/engine.go:50-144 and cmd/steal.go:86-135):

- structure pass first (unless data_only — cmd/steal.go:80)
- per-table pipelines dispatched concurrently under a bounded pool
  (X1: semaphore of --concurrency, default NumCPU — engine.go:88-126);
  Spark-side each submission is an independent job, so the FAIR scheduler
  interleaves them across executors
- IgnoreData tables: DDL only (X2 — engine.go:99-102)
- strict/permissive error modes (X5), at BOTH granularities: table-level
  (the reference logs table failures and continues — engine.go:116-118; we
  default strict with permissive opt-in, SURVEY §4.3.8) and row-level via
  the source's row_mode (the reference skips unscannable rows —
  engine.go:202-205; FileCatalog skips+counts them, TableResult.skipped_rows)
- run report with per-table rows + wall clock (cmd/steal.go:126-132)
"""

from __future__ import annotations

import logging
import os
import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field

from klepto_spark.config import Spec, TableSpec
from klepto_spark.operators.pipeline import build_table_df

log = logging.getLogger(__name__)


@dataclass
class TableResult:
    table: str
    rows: int | None = None
    seconds: float = 0.0
    skipped: bool = False
    error: str | None = None
    skipped_rows: int = 0  # rows dropped by a row-permissive source read
    deleted_rows: int = 0  # keys removed at the sink by CDC delete capture


@dataclass
class RunReport:
    tables: list[TableResult] = field(default_factory=list)
    structure_sql: str | None = None
    seconds: float = 0.0

    @property
    def ok(self) -> bool:
        return all(t.error is None for t in self.tables)


def run_tables(what: str, spec: Spec, source, sink_dsn: str,
               tables: list[str], body, *, concurrency: int = 1,
               structure: bool = False, strict: bool = True) -> RunReport:
    """The run loop every steal command shares: ``body(table, res)``
    copies one table and fills its ``TableResult``; the loop owns the
    bounded pool, per-table timing, error capture, the skipped-row
    metric and the run report, and raises on any failed table when
    ``strict`` (``"<what> failed for tables: [...]"``)."""
    from klepto_spark.sinks.sqltext import shared_output

    t0 = time.time()
    report = RunReport()
    # per-table read tuning from the spec (JDBC parallel scans): the
    # catalog owns the read path, the spec owns the user's intent
    apply_overrides = getattr(source, "apply_read_overrides", None)
    if apply_overrides is not None:
        apply_overrides(spec)
    if structure:
        report.structure_sql = source.structure()

    # Concurrent table jobs interleave under the FAIR scheduler, which is a
    # static conf — set in session.py defaults, not here (runtime set throws).

    def run_one(table_name: str) -> TableResult:
        res = TableResult(table=table_name)
        start = time.time()
        try:
            body(table_name, res)
            # row-level permissive metric (X5 row granularity — reference
            # skips unscannable rows and keeps going, engine.go:202-205)
            counter = getattr(source, "corrupt_count", None)
            if counter is not None and not res.skipped:
                res.skipped_rows = counter(table_name)
        except Exception as exc:  # noqa: BLE001 — X5 permissive mode
            res.error = str(exc)
            log.error("table %s failed: %s", table_name, exc)
        finally:
            res.seconds = round(time.time() - start, 3)
        return res

    with (shared_output(sink_dsn),
          ThreadPoolExecutor(max_workers=max(1, concurrency)) as pool):
        futures = {pool.submit(run_one, t): t for t in tables}
        for fut in as_completed(futures):
            report.tables.append(fut.result())

    report.tables.sort(key=lambda r: r.table)
    report.seconds = round(time.time() - t0, 3)
    if strict and not report.ok:
        failed = [t.table for t in report.tables if t.error]
        raise RuntimeError(f"{what} failed for tables: {failed}")
    return report


def steal(spec: Spec, source, sink_dsn: str, *, concurrency: int | None = None,
          data_only: bool = False, strict: bool = True,
          join_strategy: str = "semi", seed: str = "klepto",
          mode: str = "overwrite",
          only_tables: list[str] | None = None) -> RunReport:
    """Copy every source table through its configured pipeline to the sink.

    ``source`` is a catalog from klepto_spark.sources.catalog.connect;
    ``sink_dsn`` routes through klepto_spark.sinks.writers.write_table.
    Tables without a spec entry copy verbatim (the reference's default for
    unconfigured tables, engine.go:95-98).
    """
    from klepto_spark.sinks.writers import write_table

    if concurrency is None:
        concurrency = os.cpu_count() or 4

    def copy_one(table_name: str, res: TableResult) -> None:
        tspec = spec.find_table(table_name) or TableSpec(name=table_name)
        if tspec.ignore_data:
            res.skipped = True
            return
        df = build_table_df(tspec, source.load, spec=spec,
                            join_strategy=join_strategy, seed=seed)
        # row count via Observation: piggybacks on the write pass, no
        # second job (vs a separate df.count())
        from pyspark.sql import Observation, functions as F
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        written = write_table(df, sink_dsn, table_name, mode=mode)
        if written is not None:
            # sql-text sinks count rows themselves while streaming
            # statements out; their toLocalIterator never completes
            # the observed query execution, so obs.get would BLOCK
            # forever (found by the pass-through e2e test)
            res.rows = written
        else:
            res.rows = obs.get["rows"]

    tables = source.tables()
    if only_tables is not None:
        wanted = set(only_tables)
        tables = [t for t in tables if t in wanted]
    return run_tables("steal", spec, source, sink_dsn, tables, copy_one,
                      concurrency=concurrency, structure=not data_only,
                      strict=strict)
