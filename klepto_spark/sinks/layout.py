"""Sort- and Z-order-clustered file layouts with min/max file skipping.

Partition pruning only helps predicates on the partition columns. For the
other selective columns of a 100 TB table, the lever is LAYOUT: cluster
rows so each file covers a narrow value range, then skip whole files whose
[min, max] envelope can't match the predicate — the same footer-stats idea
parquet applies per row group, hoisted to file granularity where the
scheduler can prune BEFORE listing splits (row-group skipping still reads
every footer; file skipping doesn't even open the file).

Two clusterings:

- :func:`write_sorted` — global range-partition + sort on one column
  chain. Perfect envelopes for the leading column.
- :func:`write_zordered` — interleave the bit representations of 2+
  columns (Morton curve) and range-cluster on that. Each file then covers
  a small HYPER-RECTANGLE, so predicates on ANY of the z-columns prune
  (a single-column sort gives the non-leading columns full-range
  envelopes — no pruning).

The manifest (``_minmax.json``, one entry per data file) is written from
the parquet footers after commit — a bounded driver-side pass over file
metadata, the same at-rest-index pattern as the IVF index and the CDC
bucket layout. :func:`pruned_read` consults it and hands Spark only the
surviving files; the predicate is still applied in full afterwards, so
pruning is a pure optimisation, never a semantics change (asserted by
equivalence tests).

Z-value math uses unsigned bit-interleaving of the per-column RANK within
a fixed quantile grid (not raw values), so skewed distributions still
spread evenly across files.

The table's sidecar names, the pending-epoch test, the directory swap
:func:`optimize_table` publishes with, and the bin-pack journal's settle
all live in :mod:`klepto_spark.sinks.tablefs`; both mutations here open
the table through its ``open_table``.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from klepto_spark.sinks.tablefs import (
    BINPACK_STAGE, DV_LOG, MANIFEST, PDV_LOG, drop, is_bucket_layout,
    open_table, pending, publish_staged, sub, swap_dir, table_path)
from klepto_spark.sinks.tablefs import invalidate_manifest  # noqa: F401

_GRID_BITS = 16  # 65536 quantile cells per z-column


def _zvalue(cols: Sequence[str], bounds: dict[str, tuple[float, float]]
            ) -> Column:
    """Morton code: scale each column to a _GRID_BITS-bit cell index within
    its observed [min, max], then interleave bits. NULLs map to cell 0 so
    they cluster together at the curve's origin."""
    cells = []
    for c in cols:
        lo, hi = bounds[c]
        span = (hi - lo) or 1.0
        scaled = ((F.col(c).cast("double") - F.lit(lo)) / F.lit(span)
                  * F.lit(float((1 << _GRID_BITS) - 1)))
        cell = F.least(F.greatest(F.round(scaled).cast("long"), F.lit(0)),
                       F.lit((1 << _GRID_BITS) - 1))
        cells.append(F.coalesce(cell, F.lit(0)))
    z = F.lit(0).cast("long")
    for bit in range(_GRID_BITS - 1, -1, -1):
        for cell in cells:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(cell, bit).bitwiseAND(F.lit(1).cast("long")))
    return z


def _write_manifest(path: str, stat_cols: Sequence[str]) -> int:
    """Read back the committed files' parquet footers (driver-side, file
    COUNT-bounded metadata only) and persist one [min, max] envelope per
    file per stat column. Returns the number of files indexed."""
    import pyarrow.parquet as pq

    entries = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        env: dict[str, list] = {}
        for c in stat_cols:
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                # writers TRUNCATE long binary/string stats: the stored
                # max can be a strict prefix BELOW the true max, so an
                # envelope built from it would prune a file that holds
                # matches. Record an envelope only when it's exact:
                # pyarrow >= 17 reports exactness flags; under older
                # pyarrow trust fixed-width types always and strings only
                # when shorter than any real truncation threshold (the
                # smallest in the parquet ecosystem is 64 bytes).
                if st is not None and hasattr(st, "is_min_value_exact"):
                    exact = bool(st.is_min_value_exact
                                 and st.is_max_value_exact)
                elif st is not None and st.has_min_max and isinstance(
                        st.min, (str, bytes)):
                    # compare ENCODED byte length: the 64-byte writer
                    # truncation counts bytes, and a <48-char multibyte
                    # string can exceed it (ADVICE r05)
                    def _blen(v):
                        return len(v.encode("utf-8")
                                   if isinstance(v, str) else v)
                    exact = _blen(st.min) < 48 and _blen(st.max) < 48
                else:
                    exact = st is not None
                if st is None or not st.has_min_max or not exact:
                    mins, maxs = [], []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if mins:
                env[c] = [min(mins), max(maxs)]
        entries.append({"file": name, "stats": env})
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"files": entries, "columns": list(stat_cols)}, f,
                  default=str)
    os.replace(tmp, os.path.join(path, MANIFEST))
    return len(entries)


def write_sorted(df: DataFrame, path: str, sort_cols: Sequence[str],
                 n_files: int = 32,
                 stat_cols: Sequence[str] | None = None) -> int:
    """Range-partition + sort by ``sort_cols`` into ``n_files`` files and
    index their envelopes. Predicates on the LEADING sort column prune
    near-perfectly; use :func:`write_zordered` for multi-column pruning."""
    (df.repartitionByRange(n_files, *sort_cols)
       .sortWithinPartitions(*sort_cols)
       .write.mode("overwrite").parquet(path))
    return _write_manifest(path, stat_cols or sort_cols)


def write_zordered(df: DataFrame, path: str, z_cols: Sequence[str],
                   n_files: int = 32,
                   stat_cols: Sequence[str] | None = None) -> int:
    """Z-order-cluster by ``z_cols`` into ``n_files`` files and index the
    envelopes. The min/max bounds for the quantile grid come from one
    cheap agg pass (2 scalars per column, driver-side)."""
    agg = []
    for c in z_cols:
        agg += [F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_hi_{c}")]
    row = df.agg(*agg).first()
    bounds = {c: (float(row[f"_lo_{c}"]), float(row[f"_hi_{c}"]))
              for c in z_cols}
    (df.withColumn("_z", _zvalue(z_cols, bounds))
       .repartitionByRange(n_files, "_z")
       .sortWithinPartitions("_z")
       .drop("_z")
       .write.mode("overwrite").parquet(path))
    return _write_manifest(path, stat_cols or z_cols)


def _overlaps(env: list, lo, hi) -> bool:
    fmin, fmax = env
    type_ = type(fmin)
    try:
        lo_t = type_(lo) if lo is not None else None
        hi_t = type_(hi) if hi is not None else None
    except (TypeError, ValueError):
        return True  # incomparable -> keep the file (never prune unsafely)
    if hi_t is not None and fmin > hi_t:
        return False
    if lo_t is not None and fmax < lo_t:
        return False
    return True


def prune_files(path: str, col: str, lo=None, hi=None) -> list[str]:
    """Files whose [min, max] envelope intersects [lo, hi] (either bound
    may be open). Files with no recorded envelope for ``col`` are KEPT —
    pruning must never drop a potential match."""
    with open(os.path.join(path, MANIFEST)) as f:
        manifest = json.load(f)
    keep = []
    for e in manifest["files"]:
        env = e["stats"].get(col)
        if env is None or _overlaps(env, lo, hi):
            keep.append(os.path.join(path, e["file"]))
    return keep


def pruned_read(spark: SparkSession, path: str, col: str,
                lo=None, hi=None) -> DataFrame:
    """Read only the files that can contain ``col`` in [lo, hi], then apply
    the range predicate in full — identical results to a full scan + filter
    (equivalence-tested), touching a fraction of the files."""
    files = prune_files(path, col, lo, hi)
    if not files:
        df = spark.read.parquet(path).limit(0)
    else:
        df = spark.read.parquet(*files)
    c = F.col(col)
    if lo is not None:
        df = df.filter(c >= F.lit(lo))
    if hi is not None:
        df = df.filter(c <= F.lit(hi))
    return df


def optimize_table(spark: SparkSession, directory: str, table: str,
                   fmt: str = "parquet", *,
                   zorder_by: Sequence[str] | None = None,
                   sort_by: Sequence[str] | None = None,
                   n_files: int = 32) -> int:
    """OPTIMIZE for a catalog table: rewrite it clustered (z-order or
    sort) with the min/max manifest, published by atomic directory swap
    (the file-sink staging discipline — readers see old or new, never
    half). Parquet-only (the manifest reads parquet footers). Refuses
    tables with pending merge-on-read or positional epochs: compact
    first, clustering rewrites every file and would strand their state.
    Returns the number of files written."""
    if fmt != "parquet":
        raise ValueError("optimize_table requires parquet (footer manifest)")
    if (zorder_by is None) == (sort_by is None):
        raise ValueError("pass exactly one of zorder_by / sort_by")
    target = table_path(directory, table, fmt)
    jvm, fs, tgt = open_table(spark, directory, table, fmt)
    for log in (DV_LOG, PDV_LOG):
        if pending(jvm, fs, tgt, log):
            raise ValueError(
                f"table {table!r} has pending {log} epochs: run "
                "compaction before optimize (clustering rewrites every "
                "file and would strand merge-on-read state)")
    if is_bucket_layout(fs, tgt):
        raise ValueError(
            f"table {table!r} is bucket-partitioned (CDC merge layout): "
            "optimize would flatten the key-routed directories the merge "
            "depends on — the two layouts are alternatives, not "
            "composable")
    staging = jvm.org.apache.hadoop.fs.Path(target + "._optstage")
    old = jvm.org.apache.hadoop.fs.Path(target + "._optold")
    drop(fs, staging, old)
    df = spark.read.parquet(target)
    if zorder_by is not None:
        n = write_zordered(df, str(staging), list(zorder_by),
                           n_files=n_files)
    else:
        n = write_sorted(df, str(staging), list(sort_by), n_files=n_files)
    swap_dir(fs, tgt, staging, old, target)
    return n


def compact_small_files(spark: SparkSession, directory: str, table: str,
                        fmt: str = "parquet",
                        target_mb: int = 128) -> int:
    """Bin-pack compaction: merge the table's SMALL files (< target/2)
    into ~target_mb outputs; files already at a healthy size are never
    read, rewritten, or moved. At 100 TB the small-files tail is what
    murders scan scheduling (one task per tiny file) — this trims it for
    exactly the IO of the tail itself. Publish order makes crashes safe
    without renames of live files: stage merged outputs, journal the
    plan, move the news in, only then delete the olds (see
    :func:`klepto_spark.sinks.tablefs.publish_staged`). Returns the
    number of small files folded.

    Not for bucket-partitioned layouts (their files are key-routed) or
    tables with pending merge-on-read epochs — same guards as
    :func:`optimize_table`."""
    if fmt != "parquet":
        raise ValueError("compact_small_files requires parquet")
    target = table_path(directory, table, fmt)
    jvm, fs, tgt = open_table(spark, directory, table, fmt)
    for log in (DV_LOG, PDV_LOG):
        if pending(jvm, fs, tgt, log):
            raise ValueError(f"table {table!r} has pending {log} "
                             "epochs: compact those first")
    if is_bucket_layout(fs, tgt):
        raise ValueError(f"table {table!r} is bucket-partitioned: its "
                         "file routing is the layout; bin-packing would "
                         "break it")
    limit = target_mb * 1024 * 1024 // 2
    small = []
    for status in fs.listStatus(tgt):
        name = status.getPath().getName()
        if (name.endswith(".parquet") and not name.startswith("_")
                and status.getLen() < limit):
            small.append(str(status.getPath()))
    if len(small) < 2:
        return 0
    stage = sub(jvm, tgt, BINPACK_STAGE)
    drop(fs, stage)
    merged = spark.read.parquet(*small)
    total_bytes = sum(fs.getFileStatus(
        jvm.org.apache.hadoop.fs.Path(p)).getLen() for p in small)
    n_out = max(1, int(total_bytes // (target_mb * 1024 * 1024)) + 1)
    merged.repartition(n_out).write.mode("overwrite").parquet(str(stage))
    publish_staged(
        jvm, fs, tgt, target, "bp", small,
        f"compact_small_files: journal for {table!r} disappeared "
        "mid-publish (a concurrent recovery rolled the plan back); "
        "this pack's files were removed and the pre-pack layout "
        "stands — re-run compact_small_files")
    return len(small)
