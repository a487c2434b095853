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
- ``_pdvlog/e<N>.json``: positional-delete epoch commits
  (``positional_dv.py``);
- ``_binpack.json`` and its stage ``_bpstage``: the journaled publish of
  bin-pack compaction and vacuum (``journal.py``).

This module owns those names and what every mutation shares: the Hadoop
handle, the JSON sidecar read and write, the epoch-log listing and its
"pending" test, the staged-directory swap, the bin-pack publish and its
settle, and :func:`open_table`. Every
mutation that reads the base opens the table through :func:`open_table`,
which settles a crashed bin-pack publish first, so no mutation reads the
transient duplicates such a crash leaves.
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


def swap_dir(fs, tgt, staging, old, target: str) -> None:
    """Publish the fully written ``staging`` directory as ``tgt``: retire
    the live directory to ``old``, rename the stage in, then drop ``old``.
    A failed publish rolls the retired directory back, so readers see the
    old table or the new one, never half of either."""
    if fs.exists(tgt):
        if not fs.rename(tgt, old):
            raise IOError(f"cannot retire {target}")
    if not fs.rename(staging, tgt):
        if fs.exists(old):
            fs.rename(old, tgt)
        raise IOError(f"cannot publish {target}")
    fs.delete(old, True)


def settle(jvm, fs, root) -> None:
    """Finish or roll back a half-applied bin-pack/vacuum publish. Old
    files are deleted only AFTER every replacement landed, so recovery is
    simple: all news present -> finish deleting olds; otherwise drop
    partial news and keep the olds (nothing was lost either way). Either
    branch changed the table's file set (news moved in, or olds survived
    a rollback the manifest may predate), so the min/max manifest stands
    down. A stage without a journal published nothing and is dropped.
    Shared protocol: :mod:`klepto_spark.sinks.journal`; journal entries
    are absolute path strings."""
    from klepto_spark.sinks.journal import recover
    recover(jvm, fs, root, BINPACK_JOURNAL, BINPACK_STAGE,
            to_path=lambda s: jvm.org.apache.hadoop.fs.Path(s),
            on_change=lambda: invalidate_manifest(jvm, fs, root),
            clean_stage_without_journal=True)


def publish_staged(jvm, fs, root, target: str, prefix: str,
                   olds: list[str], lost_journal_msg: str) -> list[str]:
    """Publish the parquet files written to the table's ``_bpstage`` in
    place of ``olds``: name each ``<prefix>-<i>-<part file>``, journal
    ``{olds, news}``, rename them in (``journal.publish_renames``), then
    settle, which deletes the olds, the journal and the stage. Returns the
    new files' paths."""
    from klepto_spark.sinks.journal import publish_renames, write_plan
    staged = [str(st.getPath())
              for st in fs.listStatus(sub(jvm, root, BINPACK_STAGE))
              if st.getPath().getName().endswith(".parquet")]
    news = [f"{target}/{prefix}-{i}-{p.rsplit('/', 1)[1]}"
            for i, p in enumerate(staged)]
    write_plan(fs, sub(jvm, root, BINPACK_JOURNAL), olds, news)
    to_path = jvm.org.apache.hadoop.fs.Path
    if publish_renames(jvm, fs, root, BINPACK_JOURNAL, to_path,
                       [to_path(s) for s in staged], news, olds,
                       lost_journal_msg) == "renamed":
        settle(jvm, fs, root)
    return news


def open_table(spark, directory: str, table: str, fmt: str):
    """``(jvm, fs, root)`` of a file-sink table whose crashed bin-pack
    publish, if any, has been settled — the handle every mutation that
    reads the base starts from."""
    jvm, fs, root = hadoop_fs(spark, table_path(directory, table, fmt))
    settle(jvm, fs, root)
    return jvm, fs, root
