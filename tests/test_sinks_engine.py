"""Sinks, DSN routing, DDL, orchestrator, and streaming tests
(reference surfaces: SURVEY §2.1 S6-S12, §2.10 X1-X5, §2.8)."""

import io

import pytest

from klepto_spark.config import Spec, TableSpec, FilterSpec
from klepto_spark.engine import steal
from klepto_spark.sinks.ddl import create_table_sql, quote_ident
from klepto_spark.sinks.sqltext import dump_table_sql, insert_statements, open_output
from klepto_spark.sources import dsn as dsn_mod
from klepto_spark.sources.catalog import FileCatalog, connect


# ---------------------------------------------------------------- DSN ----

def test_dsn_parse_full():
    d = dsn_mod.parse("mysql://root:pw@localhost:3306/shop?charset=utf8")
    assert (d.type, d.username, d.password) == ("mysql", "root", "pw")
    assert (d.host, d.port, d.data_source) == ("localhost", "3306", "shop")
    assert d.params == {"charset": "utf8"}


def test_dsn_parse_errors():
    # reference error cases: pkg/dsn/dsn_test.go:39-85
    with pytest.raises(dsn_mod.DSNError):
        dsn_mod.parse("")
    with pytest.raises(dsn_mod.DSNError):
        dsn_mod.parse("not-a-dsn")
    with pytest.raises(dsn_mod.DSNError):
        dsn_mod.route("teleport://nowhere")


def test_dsn_route_kinds():
    assert dsn_mod.route("parquet:///data/dir")[0] == "files"
    assert dsn_mod.route("os://stdout")[0] == "text"
    assert dsn_mod.route("postgres://u:p@h:5432/db")[0] == "jdbc"


# ---------------------------------------------------------------- DDL ----

def test_ddl_generation(spark):
    df = spark.createDataFrame([(1, "x", 1.5, True)],
                               "id long, name string, score double, ok boolean")
    ddl = create_table_sql("users", df.schema, "postgres")
    assert '"id" BIGINT' in ddl and '"name" TEXT' in ddl
    assert '"score" DOUBLE PRECISION' in ddl and '"ok" BOOLEAN' in ddl
    mysql = create_table_sql("users", df.schema, "mysql")
    assert "`id` BIGINT" in mysql


def test_ident_quoting_escapes():
    # mirrors reference quoting incl. doubling (mysql/reader.go:114-116)
    assert quote_ident("order`items", "mysql") == "`order``items`"
    assert quote_ident('Order"Items', "postgres") == '"Order""Items"'


# ----------------------------------------------------------- SQL text ----

def test_insert_statements_value_formatting(spark):
    df = spark.createDataFrame(
        [(1, "O'Brien", None, True), (2, "plain", 2.5, None)],
        "id long, name string, score double, ok boolean")
    stmts = sorted(r[0] for r in insert_statements(df, "users").collect())
    assert stmts[0] == ("INSERT INTO \"users\" (\"id\", \"name\", \"score\", "
                        "\"ok\") VALUES (1, 'O''Brien', NULL, true);")
    assert stmts[1].endswith("(2, 'plain', 2.5, NULL);")


def test_dump_table_sql_with_ddl(spark):
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    buf = io.StringIO()
    n = dump_table_sql(df, "t", buf, dialect="mysql")
    text = buf.getvalue()
    assert n == 1
    assert text.startswith("CREATE TABLE `t`")
    assert "INSERT INTO `t` (`id`, `v`) VALUES (1, 'a');" in text


def test_open_output_routing():
    import sys
    assert open_output("os://stdout") is sys.stdout
    assert open_output("os://stderr") is sys.stderr
    with pytest.raises(dsn_mod.DSNError):
        open_output("os://nowhere")


# ----------------------------------------------------------- catalog ----

def test_file_catalog(spark, sf_dir):
    cat = FileCatalog(spark, sf_dir)
    assert "customer" in cat.tables() and "lineitem" in cat.tables()
    assert cat.columns("customer") == ["c_custkey", "c_name", "c_nationkey",
                                       "c_acctbal", "c_mktsegment"]
    ddl = cat.structure()
    assert "CREATE TABLE" in ddl and '"l_orderkey"' in ddl


def test_connect_routes_file_catalog(spark, sf_dir):
    cat = connect(spark, f"parquet://{sf_dir}")
    assert "orders" in cat.tables()


# ------------------------------------------------------ orchestrator ----

def _spec():
    return Spec(tables=[
        TableSpec(name="customer",
                  filter=FilterSpec(match="customer.c_acctbal > 5000"),
                  anonymise={"c_name": "FullName"}),
        TableSpec(name="nation", ignore_data=True),
    ])


def test_steal_end_to_end(spark, sf_dir, tmp_path):
    cat = FileCatalog(spark, sf_dir)
    report = steal(_spec(), cat, f"parquet://{tmp_path}/out", concurrency=4)
    assert report.ok
    by_name = {t.table: t for t in report.tables}
    # ignore_data table skipped, data untouched
    assert by_name["nation"].skipped
    assert not (tmp_path / "out" / "nation.parquet").exists()
    # unconfigured tables copy verbatim
    assert by_name["region"].rows == 5
    # configured filter applied + anonymised
    got = spark.read.parquet(str(tmp_path / "out" / "customer.parquet"))
    assert got.count() == by_name["customer"].rows > 0
    assert not [r for r in got.collect() if r.c_name.startswith("Customer#")]
    # structure captured for ALL tables incl. skipped
    assert '"n_nationkey"' in report.structure_sql


def test_steal_strict_vs_permissive(spark, sf_dir, tmp_path):
    bad = Spec(tables=[TableSpec(
        name="customer", filter=FilterSpec(match="no_such_column > 1"))])
    cat = FileCatalog(spark, sf_dir)
    with pytest.raises(RuntimeError, match="customer"):
        steal(bad, cat, f"parquet://{tmp_path}/o1", concurrency=2)
    report = steal(bad, cat, f"parquet://{tmp_path}/o2", concurrency=2,
                   strict=False)
    assert not report.ok
    errs = [t for t in report.tables if t.error]
    assert len(errs) == 1 and errs[0].table == "customer"


def test_row_level_permissive_skips_and_counts(spark, tmp_path):
    """X5 at row granularity (reference skips unscannable rows,
    engine.go:202-205): strict fails the table on one poison row;
    permissive skips exactly that row and reports it."""
    from pyspark.sql.types import IntegerType, StructField, StructType
    src = tmp_path / "src"
    src.mkdir()
    (src / "t.csv").write_text(
        "id,val\n1,10\n2,20\nBROKEN,row,with,too,many,fields\n3,30\n")
    schemas = {"t": StructType([StructField("id", IntegerType()),
                                StructField("val", IntegerType())])}

    strict = FileCatalog(spark, str(src), fmt="csv", schemas=schemas)
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        strict.load("t").collect()

    perm = FileCatalog(spark, str(src), fmt="csv", row_mode="permissive",
                       schemas=schemas)
    rows = perm.load("t").collect()
    assert {r.id for r in rows} == {1, 2, 3}
    assert perm.corrupt_count("t") == 1

    # inference path: arity-corrupt rows still skipped, but the poison row
    # widens types to string (CSV inference ignores parse mode — the
    # documented reason to declare schemas)
    inferred = FileCatalog(spark, str(src), fmt="csv", row_mode="permissive")
    assert {r.id for r in inferred.load("t").collect()} == {"1", "2", "3"}

    # quarantine: the skipped row is recoverable with its raw line
    bad = perm.quarantine("t").collect()
    assert len(bad) == 1
    assert bad[0]["_corrupt_record"].startswith("BROKEN,row")
    # ...and writable to a side sink (references all columns -> full parse)
    perm.quarantine("t").write.mode("overwrite").parquet(
        str(tmp_path / "quarantine"))
    assert spark.read.parquet(str(tmp_path / "quarantine")).count() == 1

    # end-to-end: the steal report carries the skipped-row metric
    report = steal(Spec(), perm, f"parquet://{tmp_path}/out", concurrency=1)
    assert report.ok
    t = {r.table: r for r in report.tables}["t"]
    assert t.rows == 3 and t.skipped_rows == 1

    # ...and so does the CDC steal over the same catalog
    from klepto_spark.incremental import CdcTable, steal_cdc
    report = steal_cdc(Spec(), perm, f"parquet://{tmp_path}/cdc",
                       state_path=str(tmp_path / "marks.json"),
                       tables={"t": CdcTable(mark_col="id", keys=["id"])})
    assert report.ok
    t = {r.table: r for r in report.tables}["t"]
    assert t.rows == 3 and t.skipped_rows == 1


def test_write_files_staging_swap(spark, tmp_path):
    """File sinks publish through a staging-dir swap (the JDBC
    staging-table pattern on directories): success swaps in, append moves
    only committed files, and a FAILED job leaves the previous target
    byte-for-byte intact with no staging debris."""
    from klepto_spark.sinks.writers import write_files
    out = str(tmp_path / "sink")
    df1 = spark.range(10).selectExpr("id", "id * 2 AS v")
    write_files(df1, out, "t", "parquet")
    read = lambda: spark.read.parquet(f"{out}/t.parquet")  # noqa: E731
    assert read().count() == 10

    # overwrite replaces, append accumulates
    df2 = spark.range(5).selectExpr("id", "id * 3 AS v")
    write_files(df2, out, "t", "parquet", mode="overwrite")
    assert read().count() == 5
    write_files(df1, out, "t", "parquet", mode="append")
    assert read().count() == 15

    # a job that blows up mid-write must not touch the live data
    from pyspark.sql import functions as F
    poison = spark.range(10).select(
        F.when(F.col("id") < 9, F.col("id"))
        .otherwise(F.expr("cast(raise_error('boom') as long)")).alias("id"),
        F.lit(1).alias("v"))
    before = sorted(r.id for r in read().collect())
    with pytest.raises(Exception, match="boom"):
        write_files(poison, out, "t", "parquet", mode="overwrite")
    assert sorted(r.id for r in read().collect()) == before
    # no staging/retired dirs left behind
    assert sorted(p.name for p in (tmp_path / "sink").iterdir()) == \
        ["t.parquet"]


def test_steal_data_only(spark, sf_dir, tmp_path):
    cat = FileCatalog(spark, sf_dir)
    report = steal(Spec(), cat, f"parquet://{tmp_path}/out", concurrency=2,
                   data_only=True)
    assert report.structure_sql is None and report.ok


@pytest.mark.parametrize("concurrency", [1, 4])
def test_steal_many_tables_to_one_sqltext_file(spark, sf_dir, tmp_path,
                                               concurrency):
    """Every table of a multi-table steal lands in the one file:// target,
    each as one contiguous DDL + INSERT block (a per-table reopen used to
    truncate the others, and concurrent tables overwrote each other),
    and the file replays in SQLite."""
    import sqlite3

    out = tmp_path / "dump.sql"
    tables = ["customer", "nation", "region", "supplier"]
    report = steal(Spec(), FileCatalog(spark, sf_dir), f"file://{out}",
                   concurrency=concurrency, only_tables=tables)
    rows = {t.table: t.rows for t in report.tables}
    assert sorted(rows) == tables and all(rows.values())
    text = out.read_text()
    inserts = [ln.split('"')[1] for ln in text.splitlines()
               if ln.startswith("INSERT")]
    assert {t: inserts.count(t) for t in tables} == rows
    # one block per table: the table names never interleave
    runs = [t for i, t in enumerate(inserts) if i == 0 or inserts[i - 1] != t]
    assert sorted(runs) == tables
    lite = sqlite3.connect(":memory:")
    try:
        lite.executescript(text)
        assert {t: lite.execute(f'SELECT count(*) FROM "{t}"').fetchone()[0]
                for t in tables} == rows
    finally:
        lite.close()


# -------------------------------------------------------- streaming ----

def test_streaming_rollup_matches_batch(spark, sf_dir, tmp_path):
    """The streaming rollup over a bounded drain must agree with the batch
    rollup over the same files (stream-batch unification)."""
    import shutil
    from pyspark.sql import functions as F
    from klepto_spark.streaming.pipeline import (
        read_events_stream, windowed_rollup, run_to_memory)

    src = tmp_path / "events_in"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0.parquet")

    stream = read_events_stream(spark, str(src))
    assert stream.isStreaming
    # complete mode: append would hold back windows newer than the
    # watermark at end-of-drain (correct streaming semantics; the batch
    # comparison below wants every window)
    run_to_memory(windowed_rollup(stream, "1 day", "2 days"), "rollup_test",
                  output_mode="complete")
    got = spark.table("rollup_test")

    from klepto_spark.session import normalise_nanos_ts
    batch = (normalise_nanos_ts(spark.read.parquet(str(src)))
             .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
             .agg(F.count(F.lit(1)).alias("n_events")))
    assert got.count() == batch.count() > 0
    assert {"window_start", "window_end", "event_type", "n_events",
            "sum_value"} == set(got.columns)


def test_streaming_anonymise(spark, sf_dir, tmp_path):
    import shutil
    from klepto_spark.streaming.pipeline import (
        anonymise_stream, read_events_stream, run_to_memory)
    src = tmp_path / "ev2"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0.parquet")
    stream = anonymise_stream(read_events_stream(spark, str(src)),
                              {"props": "Sentence"}, table="events")
    run_to_memory(stream.select("event_id", "props"), "anon_stream")
    rows = spark.table("anon_stream").limit(5).collect()
    assert rows and all(r.props and r.props[0].isupper() for r in rows)


def test_streaming_anonymise_pii_redact_stage(spark, tmp_path):
    """pii_redact on a stream mirrors the batch PiiRedact stage: text
    bodies are masked after the fakers with the same rule set."""
    from pyspark.sql import functions as F
    from klepto_spark.streaming.pipeline import (
        anonymise_stream, run_to_memory)
    src = tmp_path / "pii_src"
    (spark.createDataFrame(
        [(1, "mail a@b.io acct 123456789"), (2, "clean")],
        "id bigint, body string")
     .write.parquet(str(src)))
    stream = (spark.readStream.schema("id bigint, body string")
              .parquet(str(src)))
    out = anonymise_stream(stream, {}, pii_redact=["body"])
    run_to_memory(out, "pii_stream")
    got = {r["id"]: r["body"] for r in spark.table("pii_stream").collect()}
    assert got == {1: "mail <EMAIL> acct <NUM>", 2: "clean"}


def test_stream_and_batch_anonymise_agree(spark, tmp_path):
    """One anonymise projection for batch and streaming: the same rows
    through anonymise_stream and build_table_df give identical output —
    the keyed-candidate (FormatPreserve), array-pick (Sentence) and
    salted (EmailAddress) fakers, and a pii_redact column after them."""
    from klepto_spark.config import TableSpec
    from klepto_spark.operators.pipeline import build_table_df
    from klepto_spark.streaming.pipeline import (
        anonymise_stream, run_to_memory)
    schema = "id bigint, phone string, txt string, email string, note string"
    src = tmp_path / "agree_src"
    (spark.createDataFrame(
        [(1, "25-989-741-2988", "hello", "a@b.io", "mail a@b.io 123456789"),
         (2, None, None, None, None),
         (3, "Ab-\u00fc\U0001F600 9z" * 3, "", "x@y.org", "clean"),
         (4, "", "tail " * 12, "", "acct 9876543210")], schema)
     .write.parquet(str(src)))
    fakers = {"phone": "FormatPreserve", "txt": "Sentence",
              "email": "EmailAddress"}
    batch = build_table_df(
        TableSpec(name="t", anonymise=fakers, pii_redact=["note"]),
        lambda name: spark.read.parquet(str(src)))
    stream = anonymise_stream(spark.readStream.schema(schema)
                              .parquet(str(src)), fakers, table="t",
                              pii_redact=["note"])
    run_to_memory(stream, "anon_agree")
    got = spark.table("anon_agree")
    assert got.columns == batch.columns
    assert (sorted(tuple(r) for r in got.collect())
            == sorted(tuple(r) for r in batch.collect()))
    out = {r.id: r for r in got.collect()}
    assert out[1].note == "mail <EMAIL> <NUM>"
    assert out[1].phone != "25-989-741-2988" and len(out[1].phone) == 15


def test_merge_files_partitioned_prunes_untouched(spark, tmp_path):
    """Bucket-partitioned merge: only the delta's buckets are rewritten —
    untouched buckets keep their exact files (path, mtime, size), the
    partition filter prunes their IO, and content merges correctly."""
    import os
    import time as _time
    from klepto_spark.sinks.writers import (
        BUCKET_COL, bucket_expr, merge_files_partitioned)

    base = spark.range(0, 200).selectExpr("id", "concat('v', id) AS tag")
    d = str(tmp_path)
    merge_files_partitioned(base, d, "t", "parquet", keys=["id"],
                            n_buckets=8)
    target = os.path.join(d, "t.parquet")
    assert len(os.listdir(target)) >= 8  # hive layout _kp=<n>

    def snap():
        out = {}
        for root, _, files in os.walk(target):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(root, f)
                out[p] = (os.path.getmtime(p), os.path.getsize(p))
        return out

    before = snap()
    delta = spark.createDataFrame([(5, "NEW5"), (17, "NEW17")],
                                  "id long, tag string")
    dels = spark.createDataFrame([(23,)], "id long")
    touched = {r[0] for r in
               delta.unionByName(dels.selectExpr("id", "'x' AS tag"))
               .withColumn(BUCKET_COL, bucket_expr(["id"], 8))
               .select(BUCKET_COL).distinct().collect()}
    assert 0 < len(touched) < 8, touched
    _time.sleep(1.1)  # ensure mtime resolution can distinguish rewrites
    merge_files_partitioned(delta, d, "t", "parquet", keys=["id"],
                            n_buckets=8, deletes=dels)
    after = snap()

    untouched = {p: v for p, v in before.items()
                 if not any(f"{BUCKET_COL}={b}{os.sep}" in p
                            for b in touched)}
    assert untouched, "test needs untouched buckets"
    for p, v in untouched.items():
        assert after.get(p) == v, f"untouched file changed: {p}"
    changed = [p for p in before if p not in after]
    assert changed, "touched buckets must have been rewritten"

    got = spark.read.parquet(target)
    assert got.count() == 199  # 200 - 1 deleted
    assert got.filter("id = 5").first()["tag"] == "NEW5"
    assert got.filter("id = 17").first()["tag"] == "NEW17"
    assert got.filter("id = 23").count() == 0
    assert got.filter("id = 6").first()["tag"] == "v6"

    # the merge scan prunes untouched buckets (partition filter)
    from pyspark.sql import functions as F
    pruned = (spark.read.parquet(target)
              .filter(F.col(BUCKET_COL).isin(list(touched))))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_merge_files_default_path_delegates_to_bucketed(spark, tmp_path):
    """VERDICT r3 #4: merging into a bucket-partitioned table via the
    DEFAULT merge_files path must delegate to the partitioned merge with
    the layout's recorded routing — untouched bucket files keep their
    modification identity, the layout survives, and a caller-supplied
    wrong n_buckets cannot misroute (the sidecar wins)."""
    import os
    import time as _time
    from klepto_spark.sinks.writers import (
        BUCKET_COL, bucket_expr, merge_files, merge_files_partitioned)

    base = spark.range(0, 200).selectExpr("id", "concat('v', id) AS tag")
    d = str(tmp_path)
    merge_files_partitioned(base, d, "t", "parquet", keys=["id"],
                            n_buckets=8)
    target = os.path.join(d, "t.parquet")
    assert os.path.exists(os.path.join(target, "_layout.json"))

    def snap():
        out = {}
        for root, _, files in os.walk(target):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(root, f)
                out[p] = (os.path.getmtime(p), os.path.getsize(p))
        return out

    before = snap()
    delta = spark.createDataFrame([(5, "NEW5"), (17, "NEW17")],
                                  "id long, tag string")
    touched = {r[0] for r in
               delta.withColumn(BUCKET_COL, bucket_expr(["id"], 8))
               .select(BUCKET_COL).distinct().collect()}
    assert 0 < len(touched) < 8
    _time.sleep(1.1)
    # DEFAULT path, no n_buckets anywhere — routing comes from the sidecar
    merge_files(delta, d, "t", "parquet", keys=["id"])
    after = snap()
    for p, v in before.items():
        in_touched = any(f"{BUCKET_COL}={b}{os.sep}" in p for b in touched)
        if not in_touched:
            assert after.get(p) == v, f"untouched file changed: {p}"
    got = spark.read.parquet(target)
    assert got.count() == 200
    assert got.filter("id = 5").first()["tag"] == "NEW5"
    assert got.filter("id = 6").first()["tag"] == "v6"
    # layout is still hive-partitioned and re-mergeable
    assert any(n.startswith(f"{BUCKET_COL}=") for n in os.listdir(target))

    # key mismatch is refused: bucket routing is key-derived
    with pytest.raises(ValueError, match="bucketed by keys"):
        merge_files_partitioned(delta, d, "t", "parquet", keys=["tag"],
                                n_buckets=8)
    # a wrong caller n_buckets is overridden by the recorded layout
    merge_files_partitioned(
        spark.createDataFrame([(6, "NEW6")], "id long, tag string"),
        d, "t", "parquet", keys=["id"], n_buckets=999)
    got = spark.read.parquet(target)
    assert got.count() == 200 and got.filter("id = 6").first()["tag"] == "NEW6"
    buckets = {int(n.split("=")[1]) for n in os.listdir(target)
               if n.startswith(f"{BUCKET_COL}=")}
    assert max(buckets) < 8  # still routed mod 8, not mod 999


def test_merge_files_refuses_presidecar_bucket_layout(spark, tmp_path):
    """A bucketed layout written before the _layout.json sidecar existed
    has no recorded modulus; the default path must fail loud instead of
    guessing (misrouting duplicates keys silently)."""
    import os
    from klepto_spark.sinks.writers import merge_files, merge_files_partitioned

    base = spark.range(0, 50).selectExpr("id", "concat('v', id) AS tag")
    d = str(tmp_path)
    merge_files_partitioned(base, d, "t", "parquet", keys=["id"], n_buckets=4)
    os.remove(os.path.join(d, "t.parquet", "_layout.json"))
    delta = spark.createDataFrame([(1, "NEW")], "id long, tag string")
    with pytest.raises(ValueError, match="no _layout.json"):
        merge_files(delta, d, "t", "parquet", keys=["id"])
    # the direct partitioned call with the original modulus heals it
    merge_files_partitioned(delta, d, "t", "parquet", keys=["id"], n_buckets=4)
    assert os.path.exists(os.path.join(d, "t.parquet", "_layout.json"))


@pytest.mark.parametrize("seed", [11, 29, 47])
def test_merge_partitioned_equivalent_to_plain(spark, tmp_path, seed):
    """The bucket-partitioned merge and the whole-table merge are the
    same function of their inputs: same base, same sequence of
    upsert+delete deltas -> identical final contents (modulo the layout
    column)."""
    import random
    from klepto_spark.sinks.writers import (
        BUCKET_COL, merge_files, merge_files_partitioned)

    rng = random.Random(seed)
    schema = "id long, tag string, v double"

    def rows(n, tagp):
        return [(i, f"{tagp}{i}", rng.random()) for i in rng.sample(range(60), n)]

    base = spark.createDataFrame(rows(30, "b"), schema)
    plain_dir, part_dir = str(tmp_path / "plain"), str(tmp_path / "part")
    merge_files(base, plain_dir, "t", "parquet", keys=["id"])
    merge_files_partitioned(base, part_dir, "t", "parquet", keys=["id"],
                            n_buckets=7)
    for step in range(3):
        delta = spark.createDataFrame(rows(8, f"d{step}_"), schema)
        dels = spark.createDataFrame([(i,) for i in rng.sample(range(60), 4)],
                                     "id long")
        merge_files(delta, plain_dir, "t", "parquet", keys=["id"],
                    deletes=dels)
        merge_files_partitioned(delta, part_dir, "t", "parquet",
                                keys=["id"], n_buckets=7, deletes=dels)

    want = sorted(tuple(r) for r in
                  spark.read.parquet(f"{plain_dir}/t.parquet").collect())
    got = sorted(tuple(r) for r in
                 spark.read.parquet(f"{part_dir}/t.parquet")
                 .drop(BUCKET_COL).collect())
    assert got == want


def test_partitioned_merge_recovers_retired_buckets(spark, tmp_path):
    """A crash between 'retire old bucket' and 'publish new bucket'
    leaves the data only in the _retired_ dir (invisible to readers);
    the next merge restores it before doing anything — no data loss."""
    import os
    import shutil
    from klepto_spark.sinks.writers import (
        BUCKET_COL, bucket_expr, merge_files_partitioned)
    base = spark.range(0, 40).selectExpr("id", "concat('v', id) AS tag")
    merge_files_partitioned(base, str(tmp_path), "t", "parquet",
                            keys=["id"], n_buckets=4)
    target = os.path.join(str(tmp_path), "t.parquet")
    # simulate the crash window for bucket 2: retired, never republished
    live = os.path.join(target, f"{BUCKET_COL}=2")
    retired = os.path.join(target, "_retired.2")
    shutil.move(live, retired)
    assert spark.read.parquet(target).count() < 40  # bucket invisible
    delta = spark.createDataFrame([(0, "NEW0")], "id long, tag string")
    merge_files_partitioned(delta, str(tmp_path), "t", "parquet",
                            keys=["id"], n_buckets=4)
    got = spark.read.parquet(target)
    assert got.count() == 40  # recovered + merged
    assert got.filter("id = 0").first()["tag"] == "NEW0"
    assert not os.path.exists(retired)


def test_partitioned_merge_refuses_lossy_type_drift(spark, tmp_path):
    """A delta whose column can only reach the table type through a
    lossy cast (narrowing, bigint->double, string->numeric) must refuse
    instead of silently nulling/rounding values."""
    from klepto_spark.sinks.writers import merge_files_partitioned
    base = spark.range(5).selectExpr("CAST(id AS INT) AS id",
                                     "CAST(id AS DOUBLE) AS v")
    merge_files_partitioned(base, str(tmp_path), "t", "parquet",
                            keys=["id"], n_buckets=2)
    bad = spark.createDataFrame([(9, 1.0)], "id long, v double")  # long->int
    with pytest.raises(ValueError, match="lossless"):
        merge_files_partitioned(bad, str(tmp_path), "t", "parquet",
                                keys=["id"], n_buckets=2)
    # widening drift (int delta into int table? use smallint->int) passes
    ok = spark.createDataFrame([(7, 2.0)], "id int, v double") \
        .selectExpr("CAST(id AS SMALLINT) AS id", "v")
    merge_files_partitioned(ok, str(tmp_path), "t", "parquet",
                            keys=["id"], n_buckets=2)
    assert spark.read.parquet(f"{tmp_path}/t.parquet").count() == 6


def test_partitioned_merge_csv_schema_contract_stable(spark, tmp_path):
    """csv is not self-describing: without the _schema.json sidecar,
    inferSchema reads small bigint values back as int, the bigint delta
    then looks like lossy drift, and a previously-working CDC pipeline
    wedges. The sidecar persists the creating schema as the contract, so
    csv merges stay stable regardless of what inference would guess."""
    import os
    from klepto_spark.sinks.tablefs import SCHEMA_FILE
    from klepto_spark.sinks.writers import merge_files_partitioned
    base = spark.createDataFrame([(1, "a"), (2, "b")],
                                 "id bigint, tag string")
    merge_files_partitioned(base, str(tmp_path), "t", "csv",
                            keys=["id"], n_buckets=2)
    target = os.path.join(str(tmp_path), "t.csv")
    assert os.path.exists(os.path.join(target, SCHEMA_FILE))
    delta = spark.createDataFrame([(2, "B"), (3, "c")],
                                  "id bigint, tag string")
    merge_files_partitioned(delta, str(tmp_path), "t", "csv",
                            keys=["id"], n_buckets=2)
    got = (spark.read.option("header", "true")
           .schema("id bigint, tag string").csv(target))
    assert {(r["id"], r["tag"]) for r in got.collect()} == {
        (1, "a"), (2, "B"), (3, "c")}


def test_partitioned_merge_heals_pre_sidecar_layout(spark, tmp_path):
    """Layouts written before the sidecar existed fall back to the
    at-rest schema once, then a clean merge writes the contract."""
    import os
    from klepto_spark.sinks.tablefs import SCHEMA_FILE
    from klepto_spark.sinks.writers import merge_files_partitioned
    base = spark.range(10).selectExpr("id", "concat('v', id) AS tag")
    merge_files_partitioned(base, str(tmp_path), "t", "parquet",
                            keys=["id"], n_buckets=2)
    target = os.path.join(str(tmp_path), "t.parquet")
    sidecar = os.path.join(target, SCHEMA_FILE)
    os.remove(sidecar)  # simulate a legacy layout
    delta = spark.createDataFrame([(3, "NEW3")], "id long, tag string")
    merge_files_partitioned(delta, str(tmp_path), "t", "parquet",
                            keys=["id"], n_buckets=2)
    assert os.path.exists(sidecar)
    got = spark.read.parquet(target)
    assert got.count() == 10
    assert got.filter("id = 3").first()["tag"] == "NEW3"
