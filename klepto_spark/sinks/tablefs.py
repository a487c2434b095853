"""The at-rest layout of a file-sink table, written once.

A file-sink table is the directory ``<directory>/<table>.<fmt>``. Beside
its data files the mutations of this package keep state under
underscore-prefixed names, which Spark's file listing skips:

- ``_schema.json``: the column-type contract of the keyed merges;
- ``_layout.json``: the bucket routing of the partitioned merge;
- ``_minmax.json``: the per-file envelopes of a clustered layout
  (``layout.py``);
- ``_dvmeta.json`` plus ``_dvlog/e<N>.json``: merge-on-read keys and
  epoch commits (``deletion_vectors.py``);
- ``_pdvlog/e<N>.json``: positional-delete epoch commits, and
  ``_retired.<file>`` for each file positional compaction rewrites
  (``positional_dv.py``, whose own plan recovery settles those);
- ``_binpack.json`` and its stage ``_bpstage``: the journaled publish of
  bin-pack compaction and vacuum (``journal.py``).

A rewrite of a whole directory (the table, or one bucket ``_kp=<b>`` of
it) is written to the stage ``.<table>.<fmt>.stage`` beside the table
(a bucket to ``_kp=<b>`` under it) and published by :func:`swap_dir`,
which retires the live directory ``<name>`` to ``.<name>.retired`` beside
it, renames the stage in and drops the retired copy. The leading dot
hides both names from Spark's listing, also for a bucket, whose name
holds ``=``.

This module owns those names and what every mutation shares: the Hadoop
handle, the JSON sidecar read and write, the epoch-log listing and its
"pending" test, the directory swap, the staged journaled publish and
:func:`settle`, which converges what a crash of either leaves:

- a swap killed between its two renames: a directory present only as
  its retired copy is renamed back and the stage dropped; a retired copy
  beside its live directory (the publish landed) is dropped; a bucket
  retired as ``_retired.<b>`` by earlier releases is settled the same
  way;
- a half-applied bin-pack/vacuum publish: rolled forward when every new
  file landed, else back.

Every mutation, :func:`~klepto_spark.sinks.writers.write_files` among
them, opens the table through :func:`open_table`, which settles first,
so no mutation reads the transient state such a crash leaves, and no
stale stage or retired copy it drops can be the only copy.
"""

from __future__ import annotations

import json
from pathlib import Path

DV_LOG = "_dvlog"
PDV_LOG = "_pdvlog"
DV_META = "_dvmeta.json"
BINPACK_JOURNAL = "_binpack.json"
BINPACK_STAGE = "_bpstage"
SCHEMA_FILE = "_schema.json"
LAYOUT_FILE = "_layout.json"
MANIFEST = "_minmax.json"
BUCKET_COL = "_kp"
SWAP_STAGE = ".stage"
SWAP_RETIRED = ".retired"
PDV_RETIRED = "_retired."


def table_path(directory: str, table: str, fmt: str) -> str:
    return f"{directory.rstrip('/')}/{table}.{fmt}"


def hadoop_fs(spark, path: str):
    """``(jvm, filesystem, hadoop Path)`` for ``path``."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, hpath


def sub(jvm, base, *parts: str):
    p = base
    for part in parts:
        p = jvm.org.apache.hadoop.fs.Path(p, part)
    return p


def drop(fs, *paths) -> None:
    """Delete each path that exists, recursively."""
    for p in paths:
        if fs.exists(p):
            fs.delete(p, True)


def read_json(jvm, fs, path):
    """The JSON document at ``path``, or None when there is no file."""
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def write_json(fs, path, payload) -> None:
    """Write ``payload`` as JSON at ``path`` (overwrites)."""
    out = fs.create(path, True)
    out.write(bytearray(json.dumps(payload).encode("utf-8")))
    out.close()


def epoch_name(n: int) -> str:
    return f"e{n:06d}"


def _is_commit(name: str) -> bool:
    return name.startswith("e") and name.endswith(".json")


def epoch_log(jvm, fs, root, log_dir: str) -> list[dict]:
    """The committed epochs under ``root/log_dir``, oldest first. The
    commit file IS the publish: epoch data without one is invisible."""
    d = sub(jvm, root, log_dir)
    if not fs.exists(d):
        return []
    return sorted((read_json(jvm, fs, st.getPath())
                   for st in fs.listStatus(d)
                   if _is_commit(st.getPath().getName())),
                  key=lambda e: e["id"])


def pending(jvm, fs, root, log_dir: str) -> bool:
    """Whether ``root/log_dir`` holds a committed epoch."""
    d = sub(jvm, root, log_dir)
    return fs.exists(d) and any(_is_commit(st.getPath().getName())
                                for st in fs.listStatus(d))


def pending_local(root: str, log_dir: str) -> bool:
    """:func:`pending` for a local table, without a JVM round trip (the
    catalog's read path)."""
    d = Path(root) / log_dir
    return d.is_dir() and any(_is_commit(p.name) for p in d.iterdir())


def read_contract(jvm, fs, root):
    """The ``_schema.json`` contract as a StructType; None for tables
    written before the sidecar existed (the next merge heals them)."""
    from pyspark.sql.types import StructType
    value = read_json(jvm, fs, sub(jvm, root, SCHEMA_FILE))
    return None if value is None else StructType.fromJson(value)


def write_contract(jvm, fs, root, schema) -> None:
    """Persist the table's data-column types next to the data. The
    bucketed layout's premise is 'the at-rest schema is the contract',
    but csv is not self-describing — inferSchema can flip (int vs bigint
    as values grow), and xxhash64 bucketing is type-sensitive, so an
    inference flip would wedge a previously-working CDC pipeline. The
    sidecar makes the contract explicit and stable for every format (and
    saves parquet a footer pass / csv a full infer scan on merge)."""
    from pyspark.sql.types import StructType
    st = StructType([f for f in schema.fields if f.name != BUCKET_COL])
    write_json(fs, sub(jvm, root, SCHEMA_FILE), st.jsonValue())


def read_layout(jvm, fs, root) -> dict | None:
    return read_json(jvm, fs, sub(jvm, root, LAYOUT_FILE))


def write_layout(jvm, fs, root, n_buckets: int, keys: list[str]) -> None:
    """Persist the bucket routing parameters next to the data. n_buckets
    is part of the at-rest contract: a merge routed with a different
    modulus would send an existing key to a DIFFERENT bucket, leaving the
    stale version alive in the old one — silent key duplication. The
    sidecar makes the original choice discoverable, so later merges (and
    the ``merge_files`` auto-delegation) reuse it instead of trusting
    the caller to remember."""
    write_json(fs, sub(jvm, root, LAYOUT_FILE),
               {"n_buckets": int(n_buckets), "keys": list(keys)})


def is_bucket_layout(fs, root) -> bool:
    """True when the table is bucket-partitioned (any BUCKET_COL=
    partition dir, or the layout sidecar)."""
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name == LAYOUT_FILE or name.startswith(f"{BUCKET_COL}="):
            return True
    return False


def invalidate_manifest(jvm, fs, root) -> None:
    """Drop a table's ``_minmax.json`` after a mutation that rewrites or
    supersedes files — a stale manifest must never serve a pruned read
    (it would name gone files, or skip files whose contents changed).
    Called by every layout-mutating operation: positional/key-epoch
    compaction, bin-pack, and the first merge-on-read epoch commit."""
    p = sub(jvm, root, MANIFEST)
    if fs.exists(p):
        fs.delete(p, False)


def swap_name(name: str, suffix: str) -> str:
    """The hidden name beside the directory ``name`` under which
    :func:`swap_dir` stages (``SWAP_STAGE``) or retires
    (``SWAP_RETIRED``) it."""
    return f".{name}{suffix}"


def retired_live(name: str) -> str | None:
    """The name of the live directory whose retired copy is ``name``;
    None when ``name`` is no retired copy. Also reads ``_retired.<b>``,
    the name a bucket ``_kp=<b>`` was retired under before the swap was
    shared; positional compaction's ``_retired.<file>.parquet`` entries
    never match it."""
    if name.startswith(".") and name.endswith(SWAP_RETIRED):
        return name[1:-len(SWAP_RETIRED)]
    bucket = name.removeprefix(PDV_RETIRED)
    return f"{BUCKET_COL}={bucket}" if bucket.isdigit() else None


#: a listing filter that passes every name :func:`retired_live` reads
_RETIRED_GLOB = f"{{{swap_name('*', SWAP_RETIRED)},{PDV_RETIRED}*}}"


def retired_local(directory) -> dict[str, Path]:
    """Live name -> retired copy of each directory a crashed
    :func:`swap_dir` left retired in the local ``directory``: the
    catalog's crash check, without a JVM round trip."""
    d = Path(directory)
    if not d.is_dir():
        return {}
    return {live: p for p in d.iterdir()
            if (live := retired_live(p.name)) is not None}


def _beside(jvm, live, suffix: str):
    return jvm.org.apache.hadoop.fs.Path(live.getParent(),
                                         swap_name(live.getName(), suffix))


def swap_stage(jvm, root):
    """Where a rewrite of the table at ``root`` is written before
    :func:`swap_dir` publishes it (a bucket's under ``<stage>/_kp=<b>``)."""
    return _beside(jvm, root, SWAP_STAGE)


def swap_dir(jvm, fs, live, staged, what: str) -> None:
    """Publish the fully written ``staged`` directory as ``live``: retire
    the live directory, rename the stage in, then drop the retired copy.
    ``staged=None`` (a delete-only bucket) retires and drops ``live``. A
    failed publish rolls the retired directory back, so readers see the
    old directory or the new one, never half of either; a crash between
    the renames is settled by :func:`settle`."""
    old = _beside(jvm, live, SWAP_RETIRED)
    had = fs.exists(live)
    if had and not fs.rename(live, old):
        raise IOError(f"cannot retire {what}")
    if staged is not None and not fs.rename(staged, live):
        if had:
            fs.rename(old, live)
        raise IOError(f"cannot publish {what}")
    fs.delete(old, True)


def _unretire(fs, live, old) -> bool:
    """Settle one swap; True when ``live`` was restored from ``old``."""
    if not fs.exists(old):
        return False
    if fs.exists(live):
        fs.delete(old, True)
        return False
    if not fs.rename(old, live):
        raise IOError(f"cannot restore {live} from {old}")
    return True


def settle(jvm, fs, root) -> None:
    """Converge what a crash left at the table ``root``: first a directory
    swap of the table or of its buckets (see the module docstring), then
    a bin-pack/vacuum publish (:func:`recover_publish`). Positional
    compaction's ``_retired.<file>`` entries are not swap names and are
    left to its own plan recovery. Settling undoes a swap caught between
    its renames, so it runs only where no swap of the table can be live:
    in a mutation (one writer per table), and on the catalog's read path
    once the stage is older than its lease."""
    P = jvm.org.apache.hadoop.fs.Path
    restored = _unretire(fs, root, _beside(jvm, root, SWAP_RETIRED))
    if fs.exists(root):
        for st in fs.listStatus(root, jvm.org.apache.hadoop.fs.GlobFilter(
                _RETIRED_GLOB)):
            live = retired_live(st.getPath().getName())
            if live is not None:
                restored |= _unretire(fs, P(root, live), st.getPath())
    if restored:
        drop(fs, swap_stage(jvm, root))
    recover_publish(jvm, fs, root)


def recover_publish(jvm, fs, root, journal: str = BINPACK_JOURNAL,
                    stage: str = BINPACK_STAGE) -> None:
    """Finish or roll back a half-applied journaled publish at ``root``
    (:func:`klepto_spark.sinks.journal.recover`). Old files are deleted
    only AFTER every replacement landed, so all news present -> finish
    deleting olds; otherwise drop partial news and keep the olds. Either
    branch changed the file set, so the min/max manifest stands down. A
    stage without a journal published nothing and is dropped. Journal
    entries resolve as ``Path(root, entry)``: names relative to ``root``
    and absolute paths both work."""
    from klepto_spark.sinks.journal import recover
    P = jvm.org.apache.hadoop.fs.Path
    recover(jvm, fs, root, journal, stage, to_path=lambda s: P(root, s),
            on_change=lambda: invalidate_manifest(jvm, fs, root),
            clean_stage_without_journal=True)


def publish_staged(jvm, fs, root, olds: list[str], prefix: str,
                   caller: str, *, dest: str = "",
                   journal: str = BINPACK_JOURNAL,
                   stage: str = BINPACK_STAGE, note: str = "") -> None:
    """Publish the parquet files written to ``root/stage`` in place of
    ``olds``: name each ``<prefix>-<i>-<part file>`` in the directory
    ``dest`` (relative to ``root``; the root itself by default), journal
    ``{olds, news}`` as ``journal``, rename them in
    (``journal.publish_renames``), then :func:`recover_publish`, which
    deletes the olds, the journal and the stage. Raises when the news did
    not land; the previous files then stand. ``caller`` and ``note`` word
    the errors."""
    from klepto_spark.sinks.journal import publish_renames, write_plan
    P = jvm.org.apache.hadoop.fs.Path
    staged = [st.getPath() for st in fs.listStatus(sub(jvm, root, stage))
              if st.getPath().getName().endswith(".parquet")]
    news = [f"{dest}/{name}" if dest else name
            for name in (f"{prefix}-{i}-{p.getName()}"
                         for i, p in enumerate(staged))]
    write_plan(fs, sub(jvm, root, journal), olds, news)
    if publish_renames(
            jvm, fs, root, journal, lambda s: P(root, s), staged, news,
            olds, f"{caller}: the publish journal at {root} disappeared "
            "mid-publish (a concurrent recovery rolled it back); this "
            "publish's files were removed and the previous files "
            f"stand{note} — re-run {caller}") == "renamed":
        recover_publish(jvm, fs, root, journal, stage)
    if not all(fs.exists(P(root, n)) for n in news):
        raise RuntimeError(
            f"{caller}: publish did not land at {root} (rename failed); "
            f"the previous files were kept{note} — re-run {caller}")


def open_table(spark, directory: str, table: str, fmt: str):
    """``(jvm, fs, root)`` of a file-sink table whose crashed swap or
    bin-pack publish, if any, has been settled (:func:`settle`) — the
    handle every mutation starts from."""
    jvm, fs, root = hadoop_fs(spark, table_path(directory, table, fmt))
    settle(jvm, fs, root)
    return jvm, fs, root
