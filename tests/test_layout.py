"""Clustered layouts + min/max file skipping: pruning must be a pure
optimisation (result-identical to full scan + filter) and must actually
skip files — including on the SECOND z-order column, where a plain sort
cannot prune at all."""

import os

import pytest
from pyspark.sql import functions as F

from klepto_spark.sinks import layout


@pytest.fixture(scope="module")
def grid_df(spark):
    # x and y independent: a sort by x gives y full-range file envelopes
    return spark.range(0, 40_000).select(
        F.col("id").alias("x"),
        ((F.col("id") * 7919) % 40_000).alias("y"),
        (F.col("id") % 97).alias("payload"))


def _n_files(path):
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])


def test_sorted_layout_prunes_leading_column(spark, grid_df, tmp_path):
    p = str(tmp_path / "sorted")
    n = layout.write_sorted(grid_df, p, ["x"], n_files=16)
    assert n == _n_files(p) == 16
    df = layout.pruned_read(spark, p, "x", lo=1000, hi=3000)
    # ~2 of 16 file ranges cover [1000, 3000]
    assert len(df.inputFiles()) <= 3
    expect = sorted(r["x"] for r in grid_df.filter(
        (F.col("x") >= 1000) & (F.col("x") <= 3000)).collect())
    got = sorted(r["x"] for r in df.collect())
    assert got == expect


def test_sorted_layout_cannot_prune_second_column(spark, grid_df, tmp_path):
    p = str(tmp_path / "sorted2")
    layout.write_sorted(grid_df, p, ["x"], n_files=16, stat_cols=["x", "y"])
    # y is uncorrelated with x -> every file's y-envelope spans ~everything
    assert len(layout.prune_files(p, "y", lo=1000, hi=3000)) == 16


def test_zorder_prunes_both_columns(spark, grid_df, tmp_path):
    p = str(tmp_path / "zorder")
    n = layout.write_zordered(grid_df, p, ["x", "y"], n_files=16)
    assert n == 16
    for col in ("x", "y"):
        kept = layout.prune_files(p, col, lo=1000, hi=3000)
        # a 5%-selective predicate on EITHER dimension must skip most files
        assert len(kept) <= 8, (col, len(kept))
        df = layout.pruned_read(spark, p, col, lo=1000, hi=3000)
        expect = sorted((r["x"], r["y"]) for r in grid_df.filter(
            (F.col(col) >= 1000) & (F.col(col) <= 3000)).collect())
        got = sorted((r["x"], r["y"]) for r in df.select("x", "y").collect())
        assert got == expect


def test_pruned_read_open_bounds_and_empty_result(spark, grid_df, tmp_path):
    p = str(tmp_path / "open")
    layout.write_sorted(grid_df, p, ["x"], n_files=8)
    hi_only = layout.pruned_read(spark, p, "x", hi=99)
    assert sorted(r["x"] for r in hi_only.collect()) == list(range(100))
    nothing = layout.pruned_read(spark, p, "x", lo=10**9)
    assert nothing.count() == 0


def test_missing_envelope_keeps_file(spark, grid_df, tmp_path):
    # a column absent from the manifest must never be pruned on
    p = str(tmp_path / "missing")
    layout.write_sorted(grid_df, p, ["x"], n_files=4)
    kept = layout.prune_files(p, "payload", lo=5, hi=6)
    assert len(kept) == 4


def test_nulls_cluster_and_survive_pruning(spark, tmp_path):
    df = spark.range(0, 1000).select(
        F.when(F.col("id") % 100 == 0, None).otherwise(F.col("id"))
         .alias("x"),
        F.col("id").alias("y"))
    p = str(tmp_path / "nulls")
    layout.write_zordered(df, p, ["x", "y"], n_files=4)
    out = layout.pruned_read(spark, p, "x", lo=500, hi=600)
    expect = [x for x in range(500, 601) if x % 100 != 0]
    assert sorted(r["x"] for r in out.collect()) == expect


def test_optimize_table_swaps_atomically_and_catalog_prunes(spark, tmp_path):
    from klepto_spark.sinks.layout import optimize_table
    from klepto_spark.sources.catalog import FileCatalog
    from pyspark.sql import functions as F
    d = str(tmp_path)
    df = spark.range(0, 20_000).select(
        F.col("id").alias("x"), ((F.col("id") * 7919) % 20_000).alias("y"))
    df.write.parquet(f"{d}/t.parquet")
    n = optimize_table(spark, d, "t", zorder_by=["x", "y"], n_files=8)
    assert n == 8
    cat = FileCatalog(spark, d)
    pr = cat.load_range("t", "y", 100, 400)
    assert len(pr.inputFiles()) < 8
    expect = sorted(r["x"] for r in df.filter(
        (F.col("y") >= 100) & (F.col("y") <= 400)).collect())
    assert sorted(r["x"] for r in pr.collect()) == expect
    # full reads still see every row after the swap
    assert cat.load("t").count() == 20_000


def test_optimize_refuses_pending_epochs(spark, tmp_path):
    from klepto_spark.sinks.layout import optimize_table
    from klepto_spark.sinks.deletion_vectors import merge_files_dv
    from pyspark.sql import functions as F
    d = str(tmp_path)
    base = spark.range(0, 100).select(F.col("id").alias("k"),
                                      F.col("id").alias("v"))
    merge_files_dv(base, d, "t", "parquet", ["k"], auto_compact=None)
    merge_files_dv(spark.createDataFrame([(1, 99)], "k bigint, v bigint"),
                   d, "t", "parquet", ["k"], auto_compact=None)
    with pytest.raises(ValueError, match="pending"):
        optimize_table(spark, d, "t", sort_by=["k"])


def test_load_range_without_manifest_falls_back(spark, tmp_path):
    from klepto_spark.sources.catalog import FileCatalog
    from pyspark.sql import functions as F
    d = str(tmp_path)
    spark.range(0, 100).select(F.col("id").alias("x")) \
        .write.parquet(f"{d}/t.parquet")
    cat = FileCatalog(spark, d)
    got = sorted(r["x"] for r in cat.load_range("t", "x", 10, 20).collect())
    assert got == list(range(10, 21))


def test_optimize_refuses_bucket_partitioned_layout(spark, tmp_path):
    from klepto_spark.sinks.layout import optimize_table
    from klepto_spark.sinks.writers import merge_files_partitioned
    from pyspark.sql import functions as F
    d = str(tmp_path)
    base = spark.range(0, 100).select(F.col("id").alias("k"),
                                      F.col("id").alias("v"))
    merge_files_partitioned(base, d, "t", "parquet", keys=["k"],
                            n_buckets=4)
    with pytest.raises(ValueError, match="bucket-partitioned"):
        optimize_table(spark, d, "t", sort_by=["k"])


def test_compact_small_files_folds_tail_only(spark, tmp_path):
    from klepto_spark.sinks.layout import compact_small_files
    from pyspark.sql import functions as F
    import os
    d = str(tmp_path)
    tdir = f"{d}/t.parquet"
    # one healthy file (incompressible payload keeps it over the
    # small-file threshold) + a tail of tiny ones
    pay = F.sha2(F.col("id").cast("string"), 256)
    spark.range(0, 60_000).select(
        F.col("id").alias("x"),
        F.concat(pay, pay, pay, pay).alias("pay")) \
        .coalesce(1).write.parquet(tdir)
    for i in range(6):
        spark.range(i * 10, i * 10 + 10).select(
            F.col("id").alias("x"), F.lit("p").alias("pay")) \
            .coalesce(1).write.mode("append").parquet(tdir)
    files = [f for f in os.listdir(tdir) if f.endswith(".parquet")]
    big = max(files, key=lambda f: os.path.getsize(os.path.join(tdir, f)))
    big_sig = os.stat(os.path.join(tdir, big)).st_mtime_ns
    total_before = spark.read.parquet(tdir).count()

    folded = compact_small_files(spark, d, "t", target_mb=1)
    assert folded == 6
    after = [f for f in os.listdir(tdir) if f.endswith(".parquet")]
    assert big in after
    assert os.stat(os.path.join(tdir, big)).st_mtime_ns == big_sig
    assert len(after) < len(files)
    assert spark.read.parquet(tdir).count() == total_before
    # idempotent: nothing left to fold at this threshold with few files
    assert compact_small_files(spark, d, "t", target_mb=1) in (0, 1, 2)


def test_compact_small_files_crash_recovery_keeps_data(spark, tmp_path):
    from klepto_spark.sinks import layout as L
    from klepto_spark.sinks import tablefs
    from pyspark.sql import functions as F
    import json as _json
    import os
    d = str(tmp_path)
    tdir = f"{d}/t.parquet"
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("x")) \
            .coalesce(1).write.mode("append").parquet(tdir)
    jvm, fs, tgt = tablefs.hadoop_fs(spark, tdir)
    olds = [str(s.getPath()) for s in fs.listStatus(tgt)
            if s.getPath().getName().endswith(".parquet")]
    # crash: plan written, news never landed
    out = fs.create(tablefs.sub(jvm, tgt, tablefs.BINPACK_JOURNAL), True)
    out.write(bytearray(_json.dumps(
        {"olds": olds, "news": [f"{tdir}/bp-0-missing.parquet"]})
        .encode("utf-8")))
    out.close()
    assert L.compact_small_files(spark, d, "t", target_mb=1) == 3
    got = sorted(r["x"] for r in spark.read.parquet(tdir).collect())
    assert got == sorted(list(range(10)) + list(range(10, 20))
                         + list(range(20, 30)))
