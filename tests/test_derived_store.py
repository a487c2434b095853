"""Managed derived-dataset store (VERDICT r05 #6): one copy per source
state, atomic publish, superseded tags vacuumed."""

import json
import os

import pytest
from pyspark.sql import functions as F

from klepto_spark.sinks import derived


def _src(spark, tmp_path, n=20):
    p = str(tmp_path / "src.parquet")
    spark.range(0, n).select(F.col("id").alias("k")).write \
        .mode("overwrite").parquet(p)
    return p


def test_build_once_then_read(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("KLEPTO_DERIVED_DIR", str(tmp_path / "store"))
    src = _src(spark, tmp_path)
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(src).withColumn("d", F.col("k") * 2)

    a = derived.read_or_build(spark, src, "x2", build)
    b = derived.read_or_build(spark, src, "x2", build)
    assert len(calls) == 1  # second call served at rest
    assert a.count() == b.count() == 20
    final = derived.derived_path(src, "x2")
    assert os.path.exists(os.path.join(final, "_SUCCESS"))
    # no staging remnants after the swap
    parent = os.path.dirname(final)
    assert not [n for n in os.listdir(parent) if n.startswith("_stage-")]


def test_new_source_state_gets_new_tag_and_old_is_vacuumed(
        spark, tmp_path, monkeypatch):
    monkeypatch.setenv("KLEPTO_DERIVED_DIR", str(tmp_path / "store"))
    src = _src(spark, tmp_path)
    build = lambda: spark.read.parquet(src).withColumn("d", F.col("k"))
    derived.read_or_build(spark, src, "x2", build)
    old = derived.derived_path(src, "x2")
    # rewrite the source with a LATER mtime = a new state
    spark.range(0, 5).select(F.col("id").alias("k")).write \
        .mode("overwrite").parquet(src)
    t = os.path.getmtime(src) + 5
    os.utime(src, (t, t))
    got = derived.read_or_build(spark, src, "x2", build)
    assert got.count() == 5
    new = derived.derived_path(src, "x2")
    assert new != old
    assert not os.path.exists(old)  # superseded tag vacuumed
    assert os.path.exists(os.path.join(new, "_SUCCESS"))


def test_vacuum_reports_and_keeps_current(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("KLEPTO_DERIVED_DIR", str(tmp_path / "store"))
    src = _src(spark, tmp_path)
    build = lambda: spark.read.parquet(src)
    derived.read_or_build(spark, src, "k", build)
    parent = os.path.dirname(derived.derived_path(src, "k"))
    os.makedirs(os.path.join(parent, "tag=123"))
    stage = os.path.join(parent, "_stage-tag=456")
    os.makedirs(stage)
    # a FRESH staging dir may be a concurrent build's live write: the
    # lease window protects it (ADVICE r06) — only the stale tag goes
    assert derived.vacuum(src, "k") == 1
    assert os.path.isdir(stage)
    # past the lease it is an abandoned remnant and is collected
    t = os.path.getmtime(stage) - 3600
    os.utime(stage, (t, t))
    assert derived.vacuum(src, "k") == 1
    assert not os.path.exists(stage)
    assert derived.read_or_build(spark, src, "k", build).count() == 20


def test_source_tag_distinguishes_same_second_rewrite(spark, tmp_path,
                                                      monkeypatch):
    """A rewrite pinned to the SAME whole-second mtime still changes the
    tag (st_mtime_ns + size fingerprint, ADVICE r06). Since ADVICE r07
    the fingerprint is the max over CONTAINED file mtimes, so the nanos
    are pinned on a data file, not the directory."""
    monkeypatch.setenv("KLEPTO_DERIVED_DIR", str(tmp_path / "store"))
    src = _src(spark, tmp_path)
    tag0 = derived.source_tag(src)
    spark.range(0, 7).select(F.col("id").alias("k")).write \
        .mode("overwrite").parquet(src)
    newest = max((os.path.join(r, f) for r, _, fs in os.walk(src)
                  for f in fs), key=os.path.getmtime)
    # force the same whole-second mtime, different nanos (a future
    # second, so this file stays the tree's max either way)
    base = int(os.path.getmtime(newest)) + 2
    os.utime(newest, ns=(base * 10**9 + 123456, base * 10**9 + 123456))
    tag_a = derived.source_tag(src)
    assert tag_a != tag0
    os.utime(newest, ns=(base * 10**9 + 987654, base * 10**9 + 987654))
    assert derived.source_tag(src) != tag_a


def test_source_tag_sees_partition_subdir_rewrite(spark, tmp_path,
                                                  monkeypatch):
    """ADVICE r07: a rewrite confined to a partition SUBDIRECTORY (top-
    level dir mtime and top-level file sizes unchanged) must still
    change the tag — the fingerprint walks the whole tree."""
    monkeypatch.setenv("KLEPTO_DERIVED_DIR", str(tmp_path / "store"))
    src = str(tmp_path / "part.parquet")
    spark.createDataFrame([(1, 10), (2, 20)], "p int, v int") \
        .write.partitionBy("p").parquet(src)
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(src).agg(F.sum("v").alias("s"))

    assert derived.read_or_build(spark, src, "agg", build) \
        .collect()[0]["s"] == 30
    before = derived.source_tag(src)
    # rewrite ONE partition's contents; pin the top-level mtime back so
    # only the recursive walk can notice
    top_stat = os.stat(src)
    spark.createDataFrame([(1, 99)], "p int, v int") \
        .write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic") \
        .partitionBy("p").parquet(src)
    os.utime(src, ns=(top_stat.st_atime_ns, top_stat.st_mtime_ns))
    assert derived.source_tag(src) != before
    got = derived.read_or_build(spark, src, "agg", build) \
        .collect()[0]["s"]
    assert got == 119 and len(calls) == 2  # rebuilt, not stale-served


@pytest.mark.parametrize("qid, family", [
    ("d09_cross_dedup_indexed", "minhash"),
    ("d10_semantic_append", "semantic"),
    ("d11_exact_append", "exact"),
    ("d13_cdc_append", "cdc"),
    ("t20_span_append", "span"),
    ("t21_hll_append", "hll"),
    ("t23_bloom_decontaminate", "bloom"),
])
def test_contract_index_is_stamped_with_its_family(
        spark, sf_dir, tmp_path, monkeypatch, qid, family):
    """A contract query that probes an index it published in the derived
    store stamps that index with its family's scheme, so the probe's
    scheme check has a stamp to read."""
    import __spark_entry__ as entry
    from klepto_spark.operators.dedup import INDEX_META

    monkeypatch.setenv("KLEPTO_DERIVED_DIR", str(tmp_path))
    entry.queries()[qid](spark, os.path.join(os.path.dirname(sf_dir),
                                             "sf0.01"))
    stamps = sorted(tmp_path.rglob(INDEX_META))
    assert len(stamps) == 1
    assert json.loads(stamps[0].read_text())["mode"] == family
