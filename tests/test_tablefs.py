"""The file-sink table layout (``sinks/tablefs.py``) is settled and read
the same way by every mutation.

- A crashed bin-pack publish (merged file moved in, olds not yet
  deleted, journal left behind) is settled before any mutation reads the
  base: each one then returns what it returns on the uncrashed table.
- "Has pending epochs" has one definition: the catalog's local check and
  the Hadoop check agree, and a merge after a finished positional
  compaction does not fold again.
- ``write_index(mode="append")`` refuses a stamp without the family's
  required scheme keys, like the family's own append.
"""

import json
import os
import shutil
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from klepto_spark.operators import dedup as D
from klepto_spark.sinks import deletion_vectors as dv
from klepto_spark.sinks import positional_dv as P
from klepto_spark.sinks import tablefs
from klepto_spark.sinks.layout import optimize_table
from klepto_spark.sinks.writers import merge_files
from klepto_spark.sources.catalog import FileCatalog


def _mk_table(spark, d, n=100, files=4):
    df = spark.range(0, n).select(F.col("id").alias("k"),
                                  (F.col("id") * 2).alias("v"))
    (df.repartitionByRange(files, "k").write.mode("overwrite")
       .parquet(f"{d}/t.parquet"))


def _crash_binpack(spark, d):
    """The state a bin-pack publish leaves when it dies after moving the
    merged file in and before deleting the olds: every row twice on
    disk, the journal and the stage still present, an hour old (so the
    catalog's lease treats the writer as dead)."""
    tdir = Path(d) / "t.parquet"
    olds = sorted(str(p) for p in tdir.glob("*.parquet"))
    merged = Path(d) / "merged"
    spark.read.parquet(str(tdir)).coalesce(1).write.parquet(str(merged))
    part = next(merged.glob("*.parquet"))
    news = str(tdir / f"bp-0-{part.name}")
    os.rename(part, news)
    shutil.rmtree(merged)
    journal = tdir / tablefs.BINPACK_JOURNAL
    journal.write_text(json.dumps({"olds": olds, "news": [news]}))
    stage = tdir / tablefs.BINPACK_STAGE
    stage.mkdir()
    hour_ago = time.time() - 3600
    for p in (journal, stage):
        os.utime(p, (hour_ago, hour_ago))
    assert spark.read.parquet(str(tdir)).count() == 200


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "v").collect())


def _read(spark, d):
    return _rows(spark.read.parquet(f"{d}/t.parquet"))


def _one_new_key(spark):
    return spark.createDataFrame([(1000, 7)], "k bigint, v bigint")


def _optimize(spark, d):
    optimize_table(spark, d, "t", sort_by=["k"], n_files=2)
    return _read(spark, d)


def _merge(spark, d):
    merge_files(_one_new_key(spark), d, "t", "parquet", ["k"])
    return _read(spark, d)


def _merge_dv_then_compact(spark, d):
    dv.merge_files_dv(_one_new_key(spark), d, "t", "parquet", ["k"],
                      auto_compact=None)
    dv.compact_files_dv(spark, d, "t", "parquet")
    return _read(spark, d)


def _positional_then_compact(spark, d):
    P.positional_delete(spark, d, "t", predicate="k < 10")
    P.compact_files_pdv(spark, d, "t")
    return _read(spark, d)


def _load_as_of_zero(spark, d):
    return _rows(FileCatalog(spark, d).load_as_of("t", 0))


_OPS = {
    "optimize_table": (_optimize, 100),
    "merge_files": (_merge, 101),
    "merge_files_dv+compact_files_dv": (_merge_dv_then_compact, 101),
    "positional_delete+compact_files_pdv": (_positional_then_compact, 90),
    "load_as_of": (_load_as_of_zero, 100),
}


@pytest.mark.parametrize("name", sorted(_OPS))
def test_mutation_settles_a_crashed_binpack_publish(spark, tmp_path, name):
    """Every mutation that reads the base, and the catalog's snapshot
    read, settles a crashed bin-pack publish first. Reading through the
    crash instead counted each row twice, and a rewrite then made the
    duplicates permanent."""
    op, n = _OPS[name]
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    _mk_table(spark, clean)
    _mk_table(spark, crashed)
    _crash_binpack(spark, crashed)
    want = op(spark, clean)
    assert len(want) == n
    assert op(spark, crashed) == want


@pytest.mark.parametrize("log", [tablefs.DV_LOG, tablefs.PDV_LOG])
@pytest.mark.parametrize("state",
                         ["absent", "empty", "stray", "committed"])
def test_pending_local_and_hadoop_checks_agree(spark, tmp_path, log, state):
    """Only a committed ``e*.json`` is a pending epoch: an empty log dir
    (what a finished compaction leaves) or a stray file is not."""
    root = tmp_path / "t.parquet"
    root.mkdir()
    d = root / log
    if state != "absent":
        d.mkdir()
    if state == "stray":
        (d / "e000001.json.tmp").write_text("{}")
    if state == "committed":
        (d / "e000001.json").write_text(json.dumps({"id": 1}))
    jvm, fs, tgt = tablefs.hadoop_fs(spark, str(root))
    local = tablefs.pending_local(str(root), log)
    assert local == tablefs.pending(jvm, fs, tgt, log)
    assert local == (state == "committed")


def test_merge_after_positional_compaction_does_not_fold_again(
        spark, tmp_path, monkeypatch):
    """A finished ``compact_files_pdv`` leaves an empty ``_pdvlog``; a
    keyed merge then has nothing positional to fold and must not run the
    compaction again."""
    d = str(tmp_path)
    _mk_table(spark, d)
    P.positional_delete(spark, d, "t", predicate="k < 10")
    P.compact_files_pdv(spark, d, "t")
    assert (tmp_path / "t.parquet" / tablefs.PDV_LOG).is_dir()
    calls = []
    real = P.compact_files_pdv

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(P, "compact_files_pdv", spy)
    merge_files(_one_new_key(spark), d, "t", "parquet", ["k"])
    assert calls == []
    assert len(_read(spark, d)) == 91


@pytest.mark.parametrize("family", ["hll", "cms"])
def test_write_index_append_refuses_stamp_without_required_keys(
        spark, tmp_path, family):
    """``hll_write_registers``/``cms_write`` with ``mode="append"`` onto
    a stamp that lacks the family's required keys (``rho_bits``;
    ``w``/``d``) refuse, as ``hll_append``/``cms_append`` do."""
    from klepto_spark.operators import cms_portable as C
    from klepto_spark.operators import hll_portable as H
    write = {"hll": H.hll_write_registers, "cms": C.cms_write}[family]
    stale = {"hll": {"p": 8}, "cms": {}}[family]
    df = spark.createDataFrame([("a", "x"), ("a", "y")],
                               "g string, v string")
    idx = str(tmp_path / "idx")
    write(df, "v", ["g"], idx)
    D.write_index_meta(spark, idx, family, stale)
    with pytest.raises(ValueError, match="different scheme"):
        write(df, "v", ["g"], idx, mode="append")
