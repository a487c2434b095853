"""Positional deletion vectors: read-side correctness, file-granular
compaction (untouched files byte-identical), idempotent deletes, crash
recovery of the journaled publish, and composition with the key-epoch
merge-on-read layer."""

import os

import pytest
from pyspark.sql import functions as F

from klepto_spark.sinks import positional_dv as P, tablefs
from klepto_spark.sources.catalog import FileCatalog


def _mk_table(spark, tmp_path, n=1000, files=8):
    d = str(tmp_path)
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("v"))
    (df.repartitionByRange(files, "k").write.mode("overwrite")
       .parquet(f"{d}/t.parquet"))
    return d


def _files(path):
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def _sig(path):
    return {f: os.stat(os.path.join(path, f)).st_mtime_ns
            for f in _files(path)}


def test_positional_delete_and_read(spark, tmp_path):
    d = _mk_table(spark, tmp_path)
    n = P.positional_delete(spark, d, "t", predicate="k >= 100 AND k < 120")
    assert n == 20
    cat = FileCatalog(spark, d)
    got = sorted(r["k"] for r in cat.load("t").collect())
    assert got == [k for k in range(1000) if not (100 <= k < 120)]
    # idempotent: re-recording the same predicate adds zero positions
    assert P.positional_delete(spark, d, "t",
                               predicate="k >= 100 AND k < 120") == 0


def test_positional_delete_by_keys(spark, tmp_path):
    d = _mk_table(spark, tmp_path)
    kill = spark.createDataFrame([(5,), (7,), (7,), (99999,)], "k bigint")
    assert P.positional_delete(spark, d, "t", keys_df=kill, keys=["k"]) == 2
    got = set(r["k"] for r in FileCatalog(spark, d).load("t").collect())
    assert 5 not in got and 7 not in got and len(got) == 998


def test_compaction_touches_only_affected_files(spark, tmp_path):
    d = _mk_table(spark, tmp_path)
    tdir = f"{d}/t.parquet"
    before = _sig(tdir)
    # k is range-partitioned: a narrow range hits few files
    P.positional_delete(spark, d, "t", predicate="k < 50")
    rewritten = P.compact_files_pdv(spark, d, "t")
    after = _sig(tdir)
    assert 1 <= rewritten <= 2
    untouched = [f for f in before if f in after]
    assert len(untouched) == len(before) - rewritten
    for f in untouched:
        assert before[f] == after[f], f  # byte-identity via mtime
    # data correct, epochs retired, plain reads see the compacted base
    got = sorted(r["k"] for r in spark.read.parquet(tdir).collect())
    assert got == list(range(50, 1000))
    assert not P.has_pending_pdv(spark, d, "t")


def test_compaction_drops_fully_deleted_file(spark, tmp_path):
    d = _mk_table(spark, tmp_path, n=100, files=4)
    tdir = f"{d}/t.parquet"
    P.positional_delete(spark, d, "t", predicate="k < 25")  # first file
    P.compact_files_pdv(spark, d, "t")
    got = sorted(r["k"] for r in spark.read.parquet(tdir).collect())
    assert got == list(range(25, 100))


def test_keyed_merge_folds_pending_positional_first(spark, tmp_path):
    from klepto_spark.sinks.writers import merge_files
    d = _mk_table(spark, tmp_path)
    P.positional_delete(spark, d, "t", predicate="k < 10")
    upd = spark.createDataFrame([(500, 777)], "k bigint, v bigint")
    merge_files(upd, d, "t", "parquet", ["k"])
    got = {r["k"]: r["v"] for r in
           spark.read.parquet(f"{d}/t.parquet").collect()}
    assert got[500] == 777
    assert all(k not in got for k in range(10))
    assert not P.has_pending_pdv(spark, d, "t")


def test_positional_composes_with_key_epochs(spark, tmp_path):
    from klepto_spark.sinks.deletion_vectors import merge_files_dv
    d = str(tmp_path)
    base = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    merge_files_dv(base, d, "t", "parquet", ["k"], auto_compact=None)
    # key epoch upserts k=3 (after positional delete of k in [0,5)):
    # the upsert must win for k=3, the rest of [0,5) must vanish
    P.positional_delete(spark, d, "t", predicate="k < 5")
    upd = spark.createDataFrame([(3, 999)], "k bigint, v bigint")
    merge_files_dv(upd, d, "t", "parquet", ["k"], auto_compact=None)
    got = {r["k"]: r["v"] for r in FileCatalog(spark, d).load("t").collect()}
    assert got[3] == 999
    for k in (0, 1, 2, 4):
        assert k not in got
    assert got[10] == 20 and len(got) == 196


def test_crash_recovery_restores_half_published_plan(spark, tmp_path):
    d = _mk_table(spark, tmp_path, n=400, files=4)
    tdir = f"{d}/t.parquet"
    P.positional_delete(spark, d, "t", predicate="k < 150")
    # simulate the crash: build staging + plan exactly like compaction,
    # then apply only the FIRST file's retire (no replacement moved in)
    jvm, fs, tgt = tablefs.hadoop_fs(spark, tdir)
    import json
    epochs = P.committed_pdv_epochs(jvm, fs, tgt)
    pos = spark.read.parquet(*P._epoch_paths(jvm, tgt, epochs))
    affected = sorted(r[0] for r in
                      pos.select(P._FILE_COL).distinct().collect())
    entry_name = affected[0].rsplit("/", 1)[1]
    parent = affected[0].rsplit("/", 1)[0]
    plan = {"files": [{"dir": parent, "name": entry_name,
                       "retired": f"_retired.{entry_name}",
                       "staged": [], "finals": ["pdvc-0-0-missing.parquet"]}],
            "epochs": []}
    tablefs.write_json(fs, tablefs.sub(jvm, tgt, P._PDV_PLAN), plan)
    fs.rename(jvm.org.apache.hadoop.fs.Path(affected[0]),
              tablefs.sub(jvm, jvm.org.apache.hadoop.fs.Path(parent),
                          f"_retired.{entry_name}"))
    # recovery (first step of any operation) must restore the original...
    assert P.compact_files_pdv(spark, d, "t") >= 1
    got = sorted(r["k"] for r in spark.read.parquet(tdir).collect())
    assert got == list(range(150, 400))


def test_positional_refuses_non_parquet(spark, tmp_path):
    with pytest.raises(ValueError, match="parquet"):
        P.positional_delete(spark, str(tmp_path), "t", fmt="csv",
                            predicate="1=1")


def test_crash_before_publish_does_not_lose_fully_deleted_file(
        spark, tmp_path):
    """A fully-deleted file plans an EMPTY finals list; a crash after the
    plan write but before its retire rename must NOT count as published —
    the epochs stay pending and the next compaction applies the delete."""
    d = _mk_table(spark, tmp_path, n=100, files=4)
    tdir = f"{d}/t.parquet"
    P.positional_delete(spark, d, "t", predicate="k < 25")  # file 1 fully
    jvm, fs, tgt = tablefs.hadoop_fs(spark, tdir)
    epochs = P.committed_pdv_epochs(jvm, fs, tgt)
    pos = spark.read.parquet(*P._epoch_paths(jvm, tgt, epochs))
    affected = sorted(r[0] for r in
                      pos.select(P._FILE_COL).distinct().collect())
    name = affected[0].rsplit("/", 1)[1]
    parent = affected[0].rsplit("/", 1)[0]
    # the crash: plan exists, NOTHING was renamed yet
    plan = {"files": [{"dir": parent, "name": name,
                       "retired": f"_retired.{name}",
                       "staged": [], "finals": []}],
            "epochs": [e["id"] for e in epochs]}
    tablefs.write_json(fs, tablefs.sub(jvm, tgt, P._PDV_PLAN), plan)
    # recovery runs at the start of the next op: epochs must survive
    assert P.has_pending_pdv(spark, d, "t")
    assert P.compact_files_pdv(spark, d, "t") >= 1
    got = sorted(r["k"] for r in spark.read.parquet(tdir).collect())
    assert got == list(range(25, 100))
    assert not P.has_pending_pdv(spark, d, "t")


def test_positional_auto_compact_threshold(spark, tmp_path):
    d = _mk_table(spark, tmp_path, n=100, files=4)
    # 10% threshold: 5 positions of 100 rows -> no fold; +20 more -> fold
    P.positional_delete(spark, d, "t", predicate="k < 5", auto_compact=0.1)
    assert P.has_pending_pdv(spark, d, "t")
    P.positional_delete(spark, d, "t", predicate="k < 25",
                        auto_compact=0.1)
    assert not P.has_pending_pdv(spark, d, "t")
    got = sorted(r["k"] for r in
                 spark.read.parquet(f"{d}/t.parquet").collect())
    assert got == list(range(25, 100))


# ---------------------------------------------------------------------------
# Time travel x positional deletes (ADVICE r05: a snapshot as-of epoch N
# must NOT exclude rows that were live at N but positionally deleted later)
# ---------------------------------------------------------------------------

def _dv_history_with_pdv(spark, tmp_path):
    """Key epochs 1 and 2 around a positional delete of k<5 made while
    epoch 1 was current, plus a second positional delete (k=100) made
    while epoch 2 was current."""
    from klepto_spark.sinks.deletion_vectors import merge_files_dv
    d = str(tmp_path)
    base = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    merge_files_dv(base, d, "t", "parquet", ["k"], auto_compact=None)
    upd1 = spark.createDataFrame([(150, 111)], "k bigint, v bigint")
    merge_files_dv(upd1, d, "t", "parquet", ["k"], auto_compact=None)  # e1
    P.positional_delete(spark, d, "t", predicate="k < 5")   # during e1
    upd2 = spark.createDataFrame([(160, 222)], "k bigint, v bigint")
    merge_files_dv(upd2, d, "t", "parquet", ["k"], auto_compact=None)  # e2
    P.positional_delete(spark, d, "t", predicate="k = 100")  # during e2
    return d


def test_snapshot_excludes_only_deletes_stamped_at_or_before_epoch(
        spark, tmp_path):
    d = _dv_history_with_pdv(spark, tmp_path)
    cat = FileCatalog(spark, d)
    # epoch 0: base alone — NO positional delete had happened yet
    got0 = {r["k"] for r in cat.load_as_of("t", 0).collect()}
    assert {0, 1, 2, 3, 4, 100} <= got0 and len(got0) == 200
    # epoch 1: k<5 delete (stamped e1) applies; k=100 (stamped e2) must NOT
    got1 = {r["k"]: r["v"] for r in cat.load_as_of("t", 1).collect()}
    assert all(k not in got1 for k in range(5))
    assert got1[100] == 200 and got1[150] == 111 and 160 not in [
        k for k, v in got1.items() if v == 222]
    # epoch 2 == current view: both deletes apply
    got2 = {r["k"]: r["v"] for r in cat.load_as_of("t", 2).collect()}
    cur = {r["k"]: r["v"] for r in cat.load("t").collect()}
    assert got2 == cur and 100 not in got2 and got2[160] == 222


def test_unstamped_positional_epoch_refuses_snapshot_reads(
        spark, tmp_path):
    import json as _json
    from pathlib import Path
    d = _dv_history_with_pdv(spark, tmp_path)
    # simulate a pre-stamping (legacy) commit: strip one stamp
    log = sorted(Path(d, "t.parquet", "_pdvlog").glob("e*.json"))[0]
    entry = _json.loads(log.read_text())
    del entry["dv_epoch"]
    log.write_text(_json.dumps(entry))
    # drop the Hadoop LocalFileSystem checksum sidecar the rewrite broke
    (log.parent / f".{log.name}.crc").unlink(missing_ok=True)
    cat = FileCatalog(spark, d)
    with pytest.raises(ValueError, match="cannot be placed in history"):
        cat.load_as_of("t", 1).collect()
    # the CURRENT view is unaffected — only history placement is lost
    assert 100 not in {r["k"] for r in cat.load("t").collect()}


def test_pdv_compaction_raises_time_travel_floor(spark, tmp_path):
    d = _dv_history_with_pdv(spark, tmp_path)
    cat = FileCatalog(spark, d)
    P.compact_files_pdv(spark, d, "t")
    # the k=100 delete (stamped e2) is folded into the base: epochs 0/1
    # can no longer be served truthfully and must refuse like any
    # compacted history
    for gone in (0, 1):
        with pytest.raises(ValueError, match="compacted"):
            cat.load_as_of("t", gone).collect()
    # the floor epoch itself still serves, and equals the current view
    got2 = {r["k"]: r["v"] for r in cat.load_as_of("t", 2).collect()}
    cur = {r["k"]: r["v"] for r in cat.load("t").collect()}
    assert got2 == cur and 100 not in got2
