"""Portable count-min sketch — identical counter arithmetic in Spark
AND DuckDB.

The frequency side of the sketch family, completing the trio: portable
HLL (t06/t21/t22) answers "how many DISTINCT values", the portable
Bloom filter (t23) answers "is this value possibly PRESENT", this
module answers "approximately how OFTEN does this value occur" at
fixed d×w space (Cormode & Muthukrishnan, J. Algorithms 2005) — the
streaming/at-rest twin of the exact heavy-hitters query (t10), for
when the token stream is too large to keep exact per-term counts.

Every step is portable SQL (functions/portable.py), so the DuckDB twin
computes the bit-identical counter matrix:

- d hashed columns per value: ``md5(concat('cm<i>|', cast(v as
  string)))`` for i in 0..d-1, first 8 hex chars as an integer,
  ``% w`` — pure integer ops, no engine-specific hash;
- the sketch is stored EXTENSIONALLY as (group..., cm_row, cm_col,
  cnt) rows — at most d·w rows per group regardless of stream size;
- merge is SUM on (row, col): commutative and associative, so at-rest
  appends are pure parquet appends folded by sum-on-read and a folded
  index probes EXACTLY like a full recompute (counter addition is
  exact integer math). Sum is NOT idempotent — the count-index-specific
  hazard the span family (t20) already carries — so the batch append
  refuses epoch layouts it could double-count and the streaming twin
  commits epoch-keyed overwrites (a replayed micro-batch replaces its
  own counters instead of re-adding them);
- a probe's estimate is ``min`` over the d counters it hashes to
  (absent cell = 0): NEVER an underestimate (every true occurrence
  incremented all d of its cells), overestimate bounded by eps·N with
  probability 1-delta at w = ceil(e/eps), d = ceil(ln(1/delta)).

Scale shape: building shuffles at most (group, row, col) triples — the
explode is d rows per value but the count's map-side partial
aggregation collapses them to <= d·w rows per group per map partition.
Probing broadcasts the BOUNDED folded sketch (<= d·w rows per group —
default geometry 4·1024 rows, a few KB) into the batch's d-row
expansion; cost follows the batch, never the counted stream.

Reference scope note: hellofresh/klepto has no sketch surface at all;
frequency sketches belong to the engine's training-data-pipeline
extension, alongside the HLL and Bloom families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import portable

#: counter columns per hash row. eps = e/w ~ 0.27% of the stream size.
W_COLS = 1024
#: hash rows. delta = e^-d ~ 1.8% failure probability on the eps bound.
D_ROWS = 4


#: both geometry params must be in the stored meta: a sketch stamped
#: without them cannot prove its counters are compatible, and summing
#: incompatible counters corrupts silently (ADVICE r13)
REQUIRED = ("w", "d")


def scheme(w: int = W_COLS, d: int = D_ROWS) -> dict:
    """The counter index's scheme: its (w, d) geometry."""
    return {"w": w, "d": d}


def col_sql(value_sql: str, i: int, w: int = W_COLS) -> str:
    """The i-th counter column for a value: md5 of the salted
    stringified value, first 8 hex chars as an integer, mod w. Pure
    integer ops — identical in both engines."""
    h = portable.md5_of(f"concat('cm{i}|', cast({value_sql} as string))")
    return f"({portable.hex_int(h, 1, 8)} % {w})"


def _pos_array(value_col: str, w: int, d: int):
    return F.array(*[
        F.struct(F.lit(i).alias("cm_row"),
                 F.expr(col_sql(value_col, i, w)).cast("int")
                 .alias("cm_col"))
        for i in range(d)])


def cms_counters(df: DataFrame, value_col: str,
                 group_cols: list[str] | None = None,
                 w: int = W_COLS, d: int = D_ROWS) -> DataFrame:
    """The sketch's stored form: (group..., cm_row, cm_col, cnt) rows —
    one scan, one count aggregate (map-side combined), <= d·w rows per
    group."""
    group_cols = group_cols or []
    return (df.filter(F.col(value_col).isNotNull())
            .select(*group_cols,
                    F.explode(_pos_array(value_col, w, d)).alias("p"))
            .select(*group_cols, "p.cm_row", "p.cm_col")
            .groupBy(*group_cols, "cm_row", "cm_col")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def fold_counters(counters: DataFrame,
                  group_cols: list[str] | None = None) -> DataFrame:
    """Sum-on-read fold: collapse appended counter rows to one row per
    (group, row, col). Exact — counter addition commutes."""
    group_cols = group_cols or []
    return (counters.groupBy(*group_cols, "cm_row", "cm_col")
            .agg(F.sum("cnt").cast("long").alias("cnt")))


def cms_write(df: DataFrame, value_col: str, group_cols: list[str],
              path: str, mode: str = "overwrite",
              w: int = W_COLS, d: int = D_ROWS) -> None:
    """Persist the counter rows as the EIGHTH at-rest probe family
    (exact/minhash/semantic/cdc/span/hll/bloom/cms). The (w, d, hash
    derivation) geometry is recorded in ``_dedupmeta.json``, so
    ``mode="append"`` and :func:`cms_append` refuse a different scheme
    instead of silently summing incompatible counters, and refuse a
    stamp that lacks a :data:`REQUIRED` param (the at-rest index
    protocol, ``operators.dedup.write_index``)."""
    from klepto_spark.operators.dedup import write_index
    write_index(cms_counters(df, value_col, group_cols, w, d), path, "cms",
                scheme(w, d), mode, REQUIRED)


def cms_append(spark, path: str, batch: DataFrame, value_col: str,
               group_cols: list[str], commit: bool = True,
               w: int = W_COLS, d: int = D_ROWS) -> DataFrame:
    """Fold a batch's counters into the at-rest sketch and return the
    combined folded counters. Counter addition is exact, so the
    returned sketch is row-identical to a full recompute over
    old ∪ new. Sum is NOT idempotent: a replayed commit would
    double-count, so a commit refuses epoch layouts (those belong to the
    streaming twin, whose epoch-keyed overwrite IS replay-safe) — the
    at-rest index protocol's ``operators.dedup.commit_index`` guard."""
    from klepto_spark.operators.dedup import commit_index, read_index
    batch_counters = cms_counters(batch, value_col, group_cols, w, d)
    idx = read_index(spark, path, (*group_cols, "cm_row", "cm_col", "cnt"),
                     "cms", scheme(w, d), REQUIRED)
    combined = fold_counters(idx.unionByName(batch_counters), group_cols)
    if commit:
        commit_index(spark, path, batch_counters, "cms_append")
    return combined


def cms_probe(counters: DataFrame, batch: DataFrame, value_col: str,
              group_cols: list[str] | None = None,
              id_cols: list[str] | None = None,
              w: int = W_COLS, d: int = D_ROWS) -> DataFrame:
    """Frequency estimate per batch row: ``est_count`` = min over the d
    counters the value hashes to (absent cell = 0 — never an
    underestimate, overestimate eps-bounded). The bounded folded sketch
    broadcasts; the probe costs d rows per batch value and one
    broadcast-join — never touches the counted stream. ``id_cols`` ride
    through to the output."""
    group_cols = group_cols or []
    id_cols = id_cols or []
    probe = (batch.filter(F.col(value_col).isNotNull())
             .select(*group_cols, *id_cols, value_col,
                     F.explode(_pos_array(value_col, w, d)).alias("p"))
             .select(*group_cols, *id_cols, value_col,
                     "p.cm_row", "p.cm_col"))
    folded = F.broadcast(fold_counters(counters, group_cols))
    joined = probe.join(folded, [*group_cols, "cm_row", "cm_col"], "left")
    return (joined.groupBy(*group_cols, *id_cols, value_col)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .cast("long").alias("est_count")))


def probe_oracle_sql(train_sql: str, probe_sql: str, value_col: str,
                     id_cols: list[str] | None = None,
                     w: int = W_COLS, d: int = D_ROWS) -> str:
    """DuckDB twin of build-then-probe (ungrouped): the same salted-md5
    counter columns, the same count matrix, the same min-over-rows."""
    id_cols = id_cols or []
    ids_pre = "".join(f"{c}, " for c in id_cols)
    p_ids_pre = "".join(f"p.{c}, " for c in id_cols)
    structs = ", ".join(
        f"{{'r': {i}, 'c': {col_sql(value_col, i, w)}}}" for i in range(d))
    return f"""
WITH train_pos AS (
  SELECT unnest([{structs}]) AS u
  FROM ({train_sql}) WHERE {value_col} IS NOT NULL),
counters AS (
  SELECT u.r AS cm_row, u.c AS cm_col, count(*) AS cnt
  FROM train_pos GROUP BY 1, 2),
probe_pos AS (
  SELECT {ids_pre}{value_col}, unnest([{structs}]) AS u
  FROM ({probe_sql}) WHERE {value_col} IS NOT NULL)
SELECT {p_ids_pre}p.{value_col},
       CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_count
FROM (SELECT {ids_pre}{value_col}, u.r AS cm_row, u.c AS cm_col
      FROM probe_pos) p
LEFT JOIN counters c USING (cm_row, cm_col)
GROUP BY {p_ids_pre}p.{value_col}"""
