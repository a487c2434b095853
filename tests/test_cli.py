"""CLI tests (reference: cmd/init.go, cmd/steal.go flag surface)."""

import json

import pytest

from klepto_spark.cli import main


def test_init_and_refuse_overwrite(tmp_path, capsys):
    path = tmp_path / ".klepto.toml"
    assert main(["init", "--path", str(path)]) == 0
    assert path.exists()
    assert main(["init", "--path", str(path)]) == 1
    assert "refusing" in capsys.readouterr().err


def test_steal_cli_end_to_end(spark, sf_dir, tmp_path, capsys):
    cfg = tmp_path / "cfg.toml"
    cfg.write_text("""
[[Tables]]
  Name = "customer"
  [Tables.Filter]
    Match = "customer.c_acctbal > 5000"
  [Tables.Anonymise]
    c_name = "FullName"
""")
    rc = main(["steal", "--from", f"parquet://{sf_dir}",
               "--to", f"parquet:///{str(tmp_path / 'out').lstrip('/')}",
               "--config", str(cfg), "--concurrency", "4"])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["ok"] and report["tables"]["customer"]["rows"] > 0
    got = spark.read.parquet(str(tmp_path / "out" / "customer.parquet"))
    assert got.count() == report["tables"]["customer"]["rows"]
    # the report carries every per-table result field
    from dataclasses import fields

    from klepto_spark.engine import TableResult
    assert set(report["tables"]["customer"]) == {
        f.name for f in fields(TableResult)} - {"table"}


def test_steal_cli_bad_config(tmp_path, capsys):
    cfg = tmp_path / "bad.toml"
    cfg.write_text("""
[[Tables]]
  Name = "customer"
  [Tables.Anonymise]
    c_name = "NotAFaker"
""")
    with pytest.raises(ValueError, match="NotAFaker"):
        main(["steal", "--from", "parquet:///nowhere", "--to",
              "parquet:///tmp/x", "--config", str(cfg)])


@pytest.mark.parametrize("command", [
    ["steal"],
    ["steal-incremental", "--state", "s.json", "--watermark", "t=id"],
    ["steal-cdc", "--state", "s.json", "--cdc", "t=ver:id"]])
def test_steal_commands_share_their_flags(command):
    from klepto_spark.cli import build_parser
    args = build_parser().parse_args(
        [*command, "--from", "parquet:///a", "--to", "parquet:///b",
         "--config", "c.toml", "--permissive", "--seed", "s",
         "--join-strategy", "inner"])
    assert (getattr(args, "from"), args.to, args.config, args.permissive,
            args.seed, args.join_strategy) == (
        "parquet:///a", "parquet:///b", "c.toml", True, "s", "inner")


def test_steal_incremental_cli_roundtrip(spark, tmp_path, capsys):
    """steal-incremental: first run full-copies, second copies only the
    delta past the persisted watermark."""
    src = tmp_path / "src"
    (spark.range(10).selectExpr("id", "id * 2 AS v")
     .write.parquet(str(src / "t.parquet")))
    args = ["steal-incremental", "--from", f"parquet://{src}",
            "--to", f"parquet:///{str(tmp_path / 'out').lstrip('/')}",
            "--state", str(tmp_path / "marks.json"),
            "--watermark", "t=id"]
    assert main(args) == 0
    capsys.readouterr()
    (spark.range(10, 13).selectExpr("id", "id * 2 AS v")
     .write.mode("append").parquet(str(src / "t.parquet")))
    assert main(args) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["tables"]["t"]["rows"] == 3
    got = spark.read.parquet(str(tmp_path / "out" / "t.parquet"))
    assert got.count() == 13

    # malformed watermark spec is a usage error
    assert main(["steal-incremental", "--from", f"parquet://{src}",
                 "--to", "parquet:///tmp/x", "--state", "/tmp/s.json",
                 "--watermark", "nocolumn"]) == 2


def test_steal_cdc_cli_roundtrip(spark, tmp_path, capsys):
    src = tmp_path / "cdcsrc"
    src.mkdir()
    # ver must be LONG like the later delta file: a parquet directory with
    # mixed int/long physical types reads nondeterministically (schema
    # comes from one sampled footer)
    (spark.range(8).selectExpr("id", "concat('n', id) AS name",
                               "CAST(1 AS LONG) AS ver")
     .write.parquet(str(src / "t.parquet")))
    args = ["steal-cdc", "--from", f"parquet://{src}",
            "--to", f"parquet:///{str(tmp_path / 'out').lstrip('/')}",
            "--state", str(tmp_path / "marks.json"),
            "--cdc", "t=ver:id", "--partition-buckets", "4"]
    assert main(args) == 0
    capsys.readouterr()
    # an UPDATE (same key, bumped ver) merges latest-wins
    (spark.createDataFrame([(3, "CHANGED", 2)], "id long, name string, ver long")
     .write.mode("append").parquet(str(src / "t.parquet")))
    assert main(args) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["ok"] and report["tables"]["t"]["rows"] == 1
    got = spark.read.parquet(str(tmp_path / "out" / "t.parquet"))
    assert got.count() == 8
    assert got.filter("id = 3").first()["name"] == "CHANGED"

    # malformed --cdc spec is a usage error
    assert main(["steal-cdc", "--from", f"parquet://{src}",
                 "--to", "parquet:///tmp/x", "--state", "/tmp/s.json",
                 "--cdc", "t=nokeys"]) == 2


def test_steal_cdc_rejects_orphaned_tombstone(tmp_path):
    """--tombstone naming a table not under --cdc would silently keep
    soft-deleted rows alive forever; it must be a usage error."""
    assert main(["steal-cdc", "--from", "parquet:///tmp/x",
                 "--to", "parquet:///tmp/y", "--state", "/tmp/s.json",
                 "--cdc", "users=ver:id",
                 "--tombstone", "user=deleted IS NOT NULL"]) == 2


def test_cli_compact_folds_pending_epochs(spark, tmp_path, capsys):
    """compact: pending deletion-vector epochs fold into the base, the
    JSON report counts them, and a second run is a no-op."""
    import json
    from klepto_spark.cli import main
    from klepto_spark.sinks import deletion_vectors as dv

    d = str(tmp_path / "out")
    dv.merge_files_dv(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        d, "t", "parquet", ["id"])
    dv.merge_files_dv(
        spark.createDataFrame([(2, "B")], "id long, v string"),
        d, "t", "parquet", ["id"], auto_compact=None)
    assert main(["compact", "--target", f"parquet://{d}", "--table", "t"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tables"]["t"] == {"pending_epochs": 1, "folded": 1,
                                      "files_rewritten": 0}
    assert dv.pending_epochs(spark, d, "t", "parquet") == []
    got = {r["id"]: r["v"] for r in
           spark.read.parquet(f"{d}/t.parquet").collect()}
    assert got == {1: "a", 2: "B"}
    assert main(["compact", "--target", f"parquet://{d}", "--table", "t"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tables"]["t"] == {"pending_epochs": 0, "folded": 0,
                                      "files_rewritten": 0}


def test_cli_compact_delete_where_rewrites_hit_files(spark, tmp_path, capsys):
    """compact --delete-where: physical delete — positions recorded, only
    the files containing matches rewritten, result visible to plain
    readers immediately."""
    from pyspark.sql import functions as F
    d = str(tmp_path)
    (spark.range(0, 400)
     .select(F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
     .repartitionByRange(4, "k")
     .write.mode("overwrite").parquet(f"{d}/t.parquet"))
    assert main(["compact", "--target", f"parquet://{d}", "--table", "t",
                 "--delete-where", "k >= 350"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    t = out["tables"]["t"]
    assert t["positions_recorded"] == 50
    assert t["files_rewritten"] == 1
    got = sorted(r["k"] for r in spark.read.parquet(f"{d}/t.parquet").collect())
    assert got == list(range(350))


def test_cli_snapshot_exports_epoch_view(spark, tmp_path, capsys):
    """snapshot: exports the as-of view; refuses compacted-away epochs
    with exit 3 and a clear stderr message."""
    import json
    from klepto_spark.cli import main
    from klepto_spark.sinks import deletion_vectors as dv

    d = str(tmp_path / "cdc")
    dv.merge_files_dv(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        d, "t", "parquet", ["id"])
    dv.merge_files_dv(
        spark.createDataFrame([(2, "B")], "id long, v string"),
        d, "t", "parquet", ["id"], auto_compact=None)

    out = str(tmp_path / "snap")
    assert main(["snapshot", "--source", f"parquet://{d}", "--table", "t",
                 "--epoch", "0", "--out", f"parquet://{out}"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tables"]["t"]["rows"] == 2
    got = {r["id"]: r["v"] for r in
           spark.read.parquet(f"{out}/t.parquet").collect()}
    assert got == {1: "a", 2: "b"}  # pre-epoch-1 state

    dv.compact_files_dv(spark, d, "t", "parquet")
    assert main(["snapshot", "--source", f"parquet://{d}", "--table", "t",
                 "--epoch", "0", "--out", f"parquet://{out}"]) == 3
    assert "compacted" in capsys.readouterr().err


def test_cli_history_reports_epochs_and_floor(spark, tmp_path, capsys):
    import json
    from klepto_spark.cli import main
    from klepto_spark.sinks import deletion_vectors as dv

    d = str(tmp_path / "cdc")
    dv.merge_files_dv(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        d, "t", "parquet", ["id"])
    dv.merge_files_dv(
        spark.createDataFrame([(2, "b")], "id long, v string"),
        d, "t", "parquet", ["id"], auto_compact=None)
    assert main(["history", "--source", f"parquet://{d}",
                 "--table", "t"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    t = rep["tables"]["t"]
    assert t["floor"] == 0 and t["newest"] == 1
    assert t["epochs"] == [{"id": 1, "delta_rows": 1, "dv_rows": 0}]

    dv.compact_files_dv(spark, d, "t", "parquet")
    assert main(["history", "--source", f"parquet://{d}",
                 "--table", "t"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tables"]["t"] == {"floor": 1, "newest": 1, "epochs": []}


def test_cli_compact_retain_epochs(spark, tmp_path, capsys):
    """compact --retain-epochs N folds only the older epochs, keeping N
    replayable for the snapshot CLI (VERDICT r05 #7)."""
    from pyspark.sql import functions as F

    from klepto_spark.sinks import deletion_vectors as dv
    from klepto_spark.sources.catalog import FileCatalog

    d = str(tmp_path / "vac")
    base = spark.range(0, 20).select(F.col("id").alias("k"),
                                     (F.col("id") * 2).alias("v"))
    dv.merge_files_dv(base, d, "t", "parquet", ["k"], auto_compact=None)
    for i in range(3):  # epochs 1..3
        dv.merge_files_dv(
            spark.createDataFrame([(i, 100 + i)], "k bigint, v bigint"),
            d, "t", "parquet", ["k"], auto_compact=None)
    assert main(["compact", "--target", f"parquet://{d}",
                 "--table", "t", "--retain-epochs", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["tables"]["t"]["folded"] == 2
    cat = FileCatalog(spark, d)
    got3 = {r["k"]: r["v"] for r in cat.load_as_of("t", 3).collect()}
    assert got3[2] == 102
    got2 = {r["k"]: r["v"] for r in cat.load_as_of("t", 2).collect()}
    assert got2[2] == 4 and got2[1] == 101
    with pytest.raises(ValueError, match="compacted"):
        cat.load_as_of("t", 1).collect()


def test_cli_dedup_index_build_and_append(spark, sf_dir, tmp_path, capsys):
    """dedup-index: build the exact fingerprint index from the corpus,
    append a batch (probe + fold), then probe again with --no-commit —
    the committed batch must now be visible as 'old'."""
    idx = str(tmp_path / "exidx")
    pairs = str(tmp_path / "pairs")
    corpus = str(tmp_path / "corpus.parquet")
    batch = str(tmp_path / "batch.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.filter("doc_id % 5 != 0").write.parquet(corpus)
    docs.filter("doc_id % 5 = 0").write.parquet(batch)

    rc = main(["dedup-index", "build", "--mode", "exact",
               "--source", corpus, "--index", idx, "--prefix-words", "8"])
    assert rc == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["ok"] and built["index_rows"] == docs.filter(
        "doc_id % 5 != 0").count()

    rc = main(["dedup-index", "append", "--mode", "exact",
               "--index", idx, "--batch", batch, "--pairs-out", pairs,
               "--prefix-words", "8"])
    assert rc == 0
    ap = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ap["ok"] and ap["committed"] and ap["pairs"] > 0
    assert spark.read.parquet(pairs).count() == ap["pairs"]
    # the fold landed: a re-probe of the same batch now also matches the
    # batch's own committed fingerprints (old-new pairs double up)
    rc = main(["dedup-index", "append", "--mode", "exact", "--index", idx,
               "--batch", batch, "--no-commit", "--prefix-words", "8"])
    assert rc == 0
    re = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not re["committed"] and re["pairs"] > ap["pairs"]


def test_cli_dedup_index_scheme_mismatch_refused(spark, sf_dir, tmp_path,
                                                 capsys):
    """A build persists its fingerprint scheme in _dedupmeta.json; an
    append with different parameters (here: built --prefix-words 8,
    appended with the default) must refuse instead of silently probing
    a different fingerprint space and mixing two schemes into one index
    (ADVICE r08)."""
    idx = str(tmp_path / "mxidx")
    corpus = str(tmp_path / "mxcorpus.parquet")
    batch = str(tmp_path / "mxbatch.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.filter("doc_id % 5 != 0").write.parquet(corpus)
    docs.filter("doc_id % 5 = 0").write.parquet(batch)
    assert main(["dedup-index", "build", "--mode", "exact",
                 "--source", corpus, "--index", idx,
                 "--prefix-words", "8"]) == 0
    capsys.readouterr()
    rc = main(["dedup-index", "append", "--mode", "exact", "--index", idx,
               "--batch", batch])  # prefix_words defaults to None
    captured = capsys.readouterr()
    assert rc == 2
    assert "different scheme" in captured.err
    assert "prefix_words" in captured.err
    rc = main(["dedup-index", "append", "--mode", "exact", "--index", idx,
               "--batch", batch, "--prefix-words", "8", "--no-commit"])
    assert rc == 0
    assert json.loads(
        capsys.readouterr().out.strip().splitlines()[-1])["ok"]


def test_cli_dedup_index_missing_args(capsys):
    assert main(["dedup-index", "build", "--mode", "exact",
                 "--index", "/tmp/x"]) == 2
    assert "needs --source" in capsys.readouterr().err
    assert main(["dedup-index", "append", "--mode", "exact",
                 "--index", "/tmp/x"]) == 2
    assert "needs --batch" in capsys.readouterr().err
