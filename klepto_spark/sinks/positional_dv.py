"""Positional deletion vectors: file-granular deletes for parquet tables.

The key-tombstone merge-on-read layer (``deletion_vectors.py``) resolves
deletes with a keyed anti-join against every pending event key on every
read, and its compaction delegates to the keyed merge (whole table or
touched buckets). For DELETE-heavy workloads there is a cheaper shape,
the one Delta Lake/Iceberg positional DVs use: record the deleted rows'
physical addresses — ``(file, row_index)`` — once at delete time, then

- **read** drops them with a join on the (tiny, broadcastable) position
  set attached via the parquet reader's ``_metadata.file_path`` /
  ``_metadata.row_index`` columns — no key columns involved, so it works
  even when no key identity exists;
- **compact** rewrites ONLY the files that contain deleted positions —
  files without deletions are never read, rewritten, or moved (asserted
  byte-identical in tests), and no keyed anti-join happens at all.

The cost moves to delete time (one pruned base scan to resolve keys or a
predicate into positions) — the classic write-vs-read trade against the
key-tombstone layer, chosen per table. Positional deletes compose with
key epochs: they only ever address BASE rows, so they commute with
upsert resolution (an upsert of a positionally-deleted key simply
supersedes; the base row is gone either way).

Parquet-only by design: ``row_index`` is a physical address, and parquet
is the only format here whose reader exposes it stably.

Crash-safety follows the package's retirement idiom: replacements are
staged invisibly, a plan journal is written, then each file is published
by rename (retire old -> move new). Recovery at the start of the next
operation replays or rolls back half-applied plans; positional epochs are
retired only after every file published. Single-writer per table, like
every file-sink merge in this package. Positions for a file that no
longer exists are no-ops (they addressed a row that a later rewrite
already dropped), which is what makes replay idempotent. The ``_pdvlog``
commits, their listing and the JSON sidecars are the table layout of
:mod:`klepto_spark.sinks.tablefs`; each mutation here opens the table
through its ``open_table``, so a crashed bin-pack publish is settled
before positions are resolved against the base.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from klepto_spark.sinks.tablefs import (
    DV_LOG, DV_META, PDV_LOG, PDV_RETIRED, drop, epoch_log, epoch_name,
    hadoop_fs, invalidate_manifest, open_table, pending, read_json, sub,
    table_path, write_json)

_PDV_DIR = "_pdv"
_PDV_STAGE = "_pdvstage"
_PDV_PLAN = "_pdvplan.json"
_FILE_COL = "_pdv_file"
_POS_COL = "_pdv_pos"


def committed_pdv_epochs(jvm, fs, tgt) -> list[dict]:
    return epoch_log(jvm, fs, tgt, PDV_LOG)


def _epoch_paths(jvm, tgt, epochs) -> list[str]:
    return [str(sub(jvm, tgt, _PDV_DIR, epoch_name(e["id"])))
            for e in epochs if e["n_positions"]]


def _current_dv_epoch(jvm, fs, tgt) -> int:
    """The key-epoch (``_dvlog``) id that is current right now — the
    newest committed epoch, or the compaction floor when every epoch was
    folded. Recorded on each positional commit so time travel can place
    positional deletes in the SAME history as key epochs (a positional
    delete recorded while epoch D was current must not apply to a
    snapshot as-of an earlier epoch)."""
    epochs = epoch_log(jvm, fs, tgt, DV_LOG)
    floor = (read_json(jvm, fs, sub(jvm, tgt, DV_META))
             or {}).get("base_epoch", 0)
    return max(epochs[-1]["id"] if epochs else 0, floor)


def _base_with_address(spark: SparkSession, target: str) -> DataFrame:
    """The base files with each row's physical address attached.
    Bucket-partitioned layouts work NOT via recursive lookup (it is off)
    but because ``_kp=N`` bucket dirs contain ``=`` and are treated as
    partition directories by Spark's discovery, which bypasses the
    underscore path filter; nested non-partition layouts would need a
    different listing strategy."""
    return _addressed(spark.read.option("recursiveFileLookup", "false")
                      .parquet(target))


def _addressed(df: DataFrame) -> DataFrame:
    """``df`` (a parquet scan) with each row's (file, row_index)."""
    return df.select("*", F.col("_metadata.file_path").alias(_FILE_COL),
                     F.col("_metadata.row_index").alias(_POS_COL))


def _positions(spark, jvm, tgt, epochs) -> DataFrame:
    """The distinct (file, row_index) addresses ``epochs`` delete."""
    return (spark.read.parquet(*_epoch_paths(jvm, tgt, epochs))
            .select(_FILE_COL, _POS_COL).distinct())


def positional_delete(spark: SparkSession, directory: str, table: str,
                      fmt: str = "parquet", *,
                      predicate=None, keys_df: DataFrame | None = None,
                      keys: list[str] | None = None,
                      auto_compact: float | None = None) -> int:
    """Record the base rows matching ``predicate`` (a Column / SQL string)
    or the keys in ``keys_df`` (joined on ``keys``) as positionally
    deleted. One base scan resolves addresses (Catalyst prunes it to the
    key/predicate columns plus metadata); the positions land as one
    immutable epoch committed by a single log-file create. Returns the
    number of positions recorded.

    ``auto_compact``: fold when pending deleted positions exceed this
    fraction of the base's rows (None = caller's cadence via
    :func:`compact_files_pdv`) — the same read-amplification economics
    as the key-epoch layer's knob."""
    if fmt != "parquet":
        raise ValueError("positional deletion vectors require parquet "
                         "(row_index is a physical parquet address)")
    if (predicate is None) == (keys_df is None):
        raise ValueError("pass exactly one of predicate / keys_df")
    target = table_path(directory, table, fmt)
    jvm, fs, tgt = open_table(spark, directory, table, fmt)
    _recover_plan(spark, jvm, fs, tgt)

    base = _base_with_address(spark, target)
    if predicate is not None:
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = base.filter(cond)
    else:
        if not keys:
            raise ValueError("keys_df needs the join column names in keys=")
        hit = base.join(keys_df.select(*keys).distinct(), on=keys,
                        how="left_semi")
    epochs = committed_pdv_epochs(jvm, fs, tgt)
    # already-deleted positions must not be re-recorded (idempotent deletes)
    paths = _epoch_paths(jvm, tgt, epochs)
    if paths:
        seen = spark.read.parquet(*paths).select(_FILE_COL, _POS_COL)
        hit = hit.join(seen, on=[_FILE_COL, _POS_COL], how="left_anti")
    next_id = (epochs[-1]["id"] + 1) if epochs else 1
    name = epoch_name(next_id)
    out = str(sub(jvm, tgt, _PDV_DIR, name))
    hit.select(_FILE_COL, _POS_COL).write.mode("overwrite").parquet(out)
    n = spark.read.parquet(out).count()
    if n == 0:
        fs.delete(sub(jvm, tgt, _PDV_DIR, name), True)
        return 0
    log_dir = sub(jvm, tgt, PDV_LOG)
    if not fs.exists(log_dir):
        fs.mkdirs(log_dir)
    write_json(fs, sub(jvm, log_dir, f"{name}.json"),
               {"id": next_id, "n_positions": n,
                "dv_epoch": _current_dv_epoch(jvm, fs, tgt)})
    if auto_compact is not None:
        pending = sum(e["n_positions"] for e in epochs) + n
        base_rows = spark.read.parquet(target).count()
        if pending >= auto_compact * max(base_rows, 1):
            compact_files_pdv(spark, directory, table, fmt)
    return n


def apply_positional(spark: SparkSession, target: str,
                     base: DataFrame | None = None,
                     as_of_dv_epoch: int | None = None) -> DataFrame:
    """The base view with committed positional deletes applied. The
    position set is the pending delete volume — small by compaction
    contract — so AQE broadcasts the anti-join.

    ``as_of_dv_epoch=N`` restricts to positional deletes recorded while
    key epoch N or an earlier one was current (each positional commit
    stamps the then-current ``_dvlog`` id) — the time-travel view. A
    positional epoch from before that stamp existed cannot be placed in
    history, so a snapshot read REFUSES rather than guessing (the same
    refuse-don't-lie discipline as the compaction floor)."""
    jvm, fs, tgt = hadoop_fs(spark, target)
    _recover_plan(spark, jvm, fs, tgt)
    epochs = committed_pdv_epochs(jvm, fs, tgt)
    if as_of_dv_epoch is not None:
        unplaced = [e["id"] for e in epochs if "dv_epoch" not in e]
        if unplaced:
            raise ValueError(
                f"positional epochs {unplaced} predate dv-epoch stamping "
                "and cannot be placed in history: compact them "
                "(compact_files_pdv) before snapshot reads")
        epochs = [e for e in epochs if e["dv_epoch"] <= as_of_dv_epoch]
    if base is None:
        base = spark.read.parquet(target)
    if not epochs:
        return base
    pos = _positions(spark, jvm, tgt, epochs)
    return (_addressed(base).join(pos, on=[_FILE_COL, _POS_COL],
                                  how="left_anti")
            .drop(_FILE_COL, _POS_COL))


def has_pending_pdv(spark: SparkSession, directory: str, table: str,
                    fmt: str = "parquet") -> bool:
    return pending(*hadoop_fs(spark, table_path(directory, table, fmt)),
                   PDV_LOG)


# --------------------------------------------------------------------------
# Compaction: rewrite ONLY the files that carry deleted positions
# --------------------------------------------------------------------------

def _recover_plan(spark: SparkSession, jvm, fs, tgt) -> None:
    """Finish or roll back a half-applied publish plan. For each planned
    file: all replacements landed -> drop the retired original; otherwise
    restore the original and drop partial replacements. Then clear the
    staging dir and (only if every entry published) retire the epochs."""
    plan_path = sub(jvm, tgt, _PDV_PLAN)
    stage = sub(jvm, tgt, _PDV_STAGE)
    plan = read_json(jvm, fs, plan_path)
    if plan is None:
        drop(fs, stage)  # crash before the plan: nothing visible
        return
    all_ok = True
    for entry in plan["files"]:
        parent = jvm.org.apache.hadoop.fs.Path(entry["dir"])
        retired = sub(jvm, parent, entry["retired"])
        original = sub(jvm, parent, entry["name"])
        finals = [sub(jvm, parent, f) for f in entry["finals"]]
        staged = [jvm.org.apache.hadoop.fs.Path(p) for p in entry["staged"]]
        # published = every replacement landed AND the original is gone;
        # the original-gone clause matters for fully-deleted files (empty
        # finals): a crash BEFORE their retire rename must not read as
        # done, or the epochs would retire with the delete unapplied
        if (all(fs.exists(f) for f in finals)
                and not fs.exists(original)):
            if fs.exists(retired):
                fs.delete(retired, False)
            continue
        # replacements incomplete: move the ones that landed out of the
        # way, restore the original
        drop(fs, *finals, *staged)
        if fs.exists(retired):
            fs.rename(retired, original)
        all_ok = False
    drop(fs, stage)
    if all_ok:
        for eid in plan["epochs"]:
            fs.delete(sub(jvm, tgt, PDV_LOG, f"{epoch_name(eid)}.json"),
                      False)
            fs.delete(sub(jvm, tgt, _PDV_DIR, epoch_name(eid)), True)
    # files were replaced (or rolled back under a manifest that may
    # postdate them): the min/max index no longer describes the layout,
    # so it must not serve pruned reads. (An empty plan — all positions
    # addressed already-gone files — touched nothing and keeps it.)
    if plan["files"]:
        invalidate_manifest(jvm, fs, tgt)
    fs.delete(plan_path, False)


def _bump_dv_floor_for_fold(jvm, fs, tgt, epochs) -> None:
    """Folding positional epochs removes their rows from the base files
    themselves, so key-epoch snapshots from BEFORE those deletes can no
    longer be served truthfully. Raise the dv time-travel floor to the
    newest dv epoch any folded positional epoch was stamped under
    (legacy unstamped epochs force the current dv epoch — conservative:
    refuses more history, never serves a wrong snapshot). No-op for
    tables without key-epoch history."""
    meta = read_json(jvm, fs, sub(jvm, tgt, DV_META))
    if meta is None:
        return
    stamps = [e.get("dv_epoch") for e in epochs]
    new_floor = (max(stamps) if stamps and all(s is not None
                                               for s in stamps)
                 else _current_dv_epoch(jvm, fs, tgt))
    if new_floor > meta.get("base_epoch", 0):
        meta["base_epoch"] = new_floor
        write_json(fs, sub(jvm, tgt, DV_META), meta)


def compact_files_pdv(spark: SparkSession, directory: str, table: str,
                      fmt: str = "parquet") -> int:
    """Fold the positional epochs into the base by rewriting ONLY the
    affected files; untouched files are never read or moved. One Spark
    job filters all affected files at once (grouped back to their source
    file), then each file publishes by the retire->move rename pair under
    a journaled plan (see :func:`_recover_plan`). Returns the number of
    files rewritten."""
    jvm, fs, tgt = open_table(spark, directory, table, fmt)
    _recover_plan(spark, jvm, fs, tgt)
    epochs = committed_pdv_epochs(jvm, fs, tgt)
    if not epochs:
        return 0
    pos = _positions(spark, jvm, tgt, epochs)
    affected = [r[0] for r in pos.select(_FILE_COL).distinct().collect()]
    # existing files only: positions addressing already-rewritten (gone)
    # files are no-ops
    live = [p for p in affected
            if fs.exists(jvm.org.apache.hadoop.fs.Path(p))]
    if not live:
        _bump_dv_floor_for_fold(jvm, fs, tgt, epochs)
        write_json(fs, sub(jvm, tgt, _PDV_PLAN),
                   {"files": [], "epochs": [e["id"] for e in epochs]})
        _recover_plan(spark, jvm, fs, tgt)
        return 0

    stage_dir = sub(jvm, tgt, _PDV_STAGE)
    drop(fs, stage_dir)

    # one job: read affected files, drop deleted positions, write one
    # staged replacement per source file (file-id partitioning keeps the
    # 1:1 correspondence the per-file publish needs)
    file_id = {p: i for i, p in enumerate(sorted(live))}
    src = _addressed(spark.read.parquet(*sorted(live)))
    kept = src.join(pos, on=[_FILE_COL, _POS_COL], how="left_anti")
    mapping = F.create_map(*[x for p, i in file_id.items()
                             for x in (F.lit(p), F.lit(i))])
    (kept.withColumn("_pdv_fid", mapping[F.col(_FILE_COL)])
         .drop(_FILE_COL, _POS_COL)
         .repartition("_pdv_fid")
         .write.partitionBy("_pdv_fid").mode("overwrite")
         .parquet(str(stage_dir)))

    plan_files = []
    for path, fid in file_id.items():
        src_path = jvm.org.apache.hadoop.fs.Path(path)
        parent = src_path.getParent()
        name = src_path.getName()
        staged_dir = sub(jvm, stage_dir, f"_pdv_fid={fid}")
        staged, finals = [], []
        if fs.exists(staged_dir):
            k = 0
            for status in fs.listStatus(staged_dir):
                part = status.getPath().getName()
                if not part.endswith(".parquet"):
                    continue
                staged.append(str(status.getPath()))
                finals.append(f"pdvc-{fid}-{k}-{name}")
                k += 1
        plan_files.append({"dir": str(parent), "name": name,
                           "retired": f"{PDV_RETIRED}{name}",
                           "staged": staged, "finals": finals})
    # floor bump BEFORE the publish renames: a crash after the bump but
    # before publish only over-refuses history (safe); the reverse order
    # could retire epochs with the floor unraised and serve wrong
    # snapshots
    _bump_dv_floor_for_fold(jvm, fs, tgt, epochs)
    write_json(fs, sub(jvm, tgt, _PDV_PLAN),
               {"files": plan_files, "epochs": [e["id"] for e in epochs]})

    for entry in plan_files:
        parent = jvm.org.apache.hadoop.fs.Path(entry["dir"])
        original = sub(jvm, parent, entry["name"])
        retired = sub(jvm, parent, entry["retired"])
        fs.rename(original, retired)
        for s, f in zip(entry["staged"], entry["finals"]):
            fs.rename(jvm.org.apache.hadoop.fs.Path(s),
                      sub(jvm, parent, f))
        fs.delete(retired, False)
    # publish complete: recovery path retires the epochs + clears staging
    _recover_plan(spark, jvm, fs, tgt)
    return len(plan_files)
