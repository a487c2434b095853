"""Round-13 operator tests: the portable Bloom membership filter —
the seventh at-rest probe family (t23)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from klepto_spark.operators import bloom_portable as B
from klepto_spark.operators.dedup import write_index_meta

# small geometry for the hand tests: collisions actually occur, so the
# FPR branch is exercised instead of everything hashing to unique bits
SMALL = dict(m=256, k=4)


def test_bloom_no_false_negatives(spark):
    """The defining guarantee: every indexed value probes
    maybe_member=True — a Bloom filter can lie positive, never
    negative."""
    vals = spark.range(0, 500).select(F.col("id").cast("string").alias("v"))
    bits = B.bloom_bits(vals, "v", **SMALL)
    out = {r["v"]: r["maybe_member"]
           for r in B.bloom_probe(bits, vals, "v", **SMALL).collect()}
    assert len(out) == 500 and all(out.values())


def test_bloom_fpr_within_envelope(spark):
    """Non-members flag at ~the analytic (1-e^(-kn/m))^k rate — assert
    within 3x of it plus 1% binomial slack at n=1000 probes. The
    geometry must make the envelope BIND: at m=4096/k=4/n=200 the
    analytic FPR is ~0.1%, so the asserted ceiling (~1.3%) is far
    below 1.0 and a saturated or mis-hashed filter fails loudly
    (ADVICE r13: the old SMALL geometry was ~84% FPR, where 3x+1%
    exceeded 1.0 and the assert could never fire)."""
    import math
    geo = dict(m=4096, k=4)
    train = spark.range(0, 200).select(
        F.col("id").cast("string").alias("v"))
    probe = spark.range(10_000, 11_000).select(
        F.col("id").cast("string").alias("v"))
    bits = B.bloom_bits(train, "v", **geo)
    flagged = (B.bloom_probe(bits, probe, "v", **geo)
               .filter("maybe_member").count())
    fpr = (1 - math.exp(-geo["k"] * 200 / geo["m"])) ** geo["k"]
    assert fpr < 0.01, "geometry drifted: envelope must bind"
    assert flagged / 1000 <= 3 * fpr + 0.01, (flagged, fpr)


def test_bloom_matches_duckdb_bit_identically(spark):
    """Build + probe in Spark vs the oracle SQL in DuckDB over the same
    rows — the verdicts (including any false positives) must be
    IDENTICAL, not merely statistically alike."""
    train_rows = [(f"doc{i}",) for i in range(150)]
    probe_rows = [(i, f"doc{i * 3}",) for i in range(100)]
    train = spark.createDataFrame(train_rows, "v string")
    probe = spark.createDataFrame(probe_rows, "pid long, v string")
    bits = B.bloom_bits(train, "v", **SMALL)
    got = sorted(map(tuple, B.bloom_probe(
        bits, probe, "v", id_cols=["pid"], **SMALL).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE tr(v VARCHAR)")
    con.executemany("INSERT INTO tr VALUES (?)", train_rows)
    con.execute("CREATE TABLE pr(pid BIGINT, v VARCHAR)")
    con.executemany("INSERT INTO pr VALUES (?, ?)", probe_rows)
    want = sorted(map(tuple, con.execute(B.probe_oracle_sql(
        "SELECT v FROM tr", "SELECT pid, v FROM pr", "v",
        id_cols=["pid"], **SMALL)).fetchall()))
    con.close()
    assert got == want


def test_bloom_layout_independent(spark):
    """The stored bit set is a pure function of the value set — the
    input's partitioning cannot change it."""
    vals = spark.range(0, 300).select(F.col("id").cast("string").alias("v"))
    a = sorted(r["bloom_bit"] for r in
               B.bloom_bits(vals.repartition(1), "v", **SMALL).collect())
    b = sorted(r["bloom_bit"] for r in
               B.bloom_bits(vals.repartition(13), "v", **SMALL).collect())
    assert a == b


def test_bloom_append_equals_full_recompute_and_replay_safe(
        spark, tmp_path):
    """The at-rest contract (the t21 idempotence pattern): probing
    index ∪ batch equals a full recompute EXACTLY (set union is
    lossless), a committed append is visible to the next probe, and a
    REPLAYED commit changes nothing (distinct-on-read absorbs duplicate
    bit rows)."""
    old = spark.range(0, 200).select(F.col("id").cast("string").alias("v"))
    new = spark.range(200, 260).select(F.col("id").cast("string").alias("v"))
    path = str(tmp_path / "bloom_idx")
    B.bloom_write(old, "v", [], path, **SMALL)

    combined = B.bloom_append(spark, path, new, "v", [], commit=False,
                              **SMALL)
    full = B.bloom_bits(old.unionByName(new), "v", **SMALL)
    assert (sorted(r["bloom_bit"] for r in combined.collect())
            == sorted(r["bloom_bit"] for r in full.collect()))

    B.bloom_append(spark, path, new, "v", [], commit=True, **SMALL)
    after = spark.read.parquet(path).select("bloom_bit").distinct()
    assert (sorted(r["bloom_bit"] for r in after.collect())
            == sorted(r["bloom_bit"] for r in full.collect()))
    # replay: committing the same batch again must change nothing
    B.bloom_append(spark, path, new, "v", [], commit=True, **SMALL)
    replay = spark.read.parquet(path).select("bloom_bit").distinct()
    assert (sorted(r["bloom_bit"] for r in replay.collect())
            == sorted(r["bloom_bit"] for r in full.collect()))


def test_bloom_append_refuses_mismatched_scheme(spark, tmp_path):
    """An append whose (m, k) geometry differs from the index's
    recorded build parameters must refuse — mixing geometries would
    corrupt the filter silently."""
    vals = spark.range(0, 50).select(F.col("id").cast("string").alias("v"))
    path = str(tmp_path / "bloom_idx")
    B.bloom_write(vals, "v", [], path, **SMALL)
    write_index_meta(spark, path, "bloom", {"m": 64, "k": 2})
    with pytest.raises(ValueError, match="different scheme"):
        B.bloom_append(spark, path, vals, "v", [], **SMALL)


# --------------------------------------------------------------------------
# streaming twin — the seventh at-rest family's foreachBatch path
# --------------------------------------------------------------------------

_BV_SCHEMA = "v string"


def _bv_rows(lo, hi):
    return [(f"val{i}",) for i in range(lo, hi)]


def test_streaming_bloom_verdicts_and_replay(spark, tmp_path):
    """Two micro-batches through process_epoch(bloom()): epoch verdicts
    test each batch against everything that arrived STRICTLY before it
    (epoch 0 all-new -> maybe_member false everywhere modulo FPs; an
    epoch-1 value repeated from epoch 0 flags true — no false
    negatives), the committed bit index equals a full recompute after
    distinct-on-read, and out-of-order replay moves nothing."""
    from klepto_spark.streaming.dedup import bloom, process_epoch
    idx = str(tmp_path / "idx")
    ver = str(tmp_path / "ver")
    df1 = spark.createDataFrame(_bv_rows(0, 80), _BV_SCHEMA)
    # epoch 1 repeats 20 of epoch 0's values and adds 40 new ones
    df2 = spark.createDataFrame(_bv_rows(60, 180), _BV_SCHEMA)
    family = bloom("v", [], SMALL["m"], SMALL["k"])
    process_epoch(family, df1, 0, idx, ver)
    process_epoch(family, df2, 1, idx, ver)

    ep1 = {r["v"]: r["maybe_member"]
           for r in spark.read.parquet(f"{ver}/ep=1").collect()}
    # the defining guarantee: every repeated value MUST flag
    for i in range(60, 80):
        assert ep1[f"val{i}"] is True, i
    # the committed index equals a full recompute over both batches
    full = sorted(r["bloom_bit"] for r in B.bloom_bits(
        df1.unionByName(df2), "v", **SMALL).collect())
    committed = sorted(r["bloom_bit"] for r in spark.read.parquet(idx)
                       .select("bloom_bit").distinct().collect())
    assert committed == full
    # out-of-order replay: verdicts and index state byte-identical
    snap = sorted(map(tuple, spark.read.parquet(ver).collect()))
    process_epoch(family, df2, 1, idx, ver)
    process_epoch(family, df1, 0, idx, ver)
    assert sorted(map(tuple, spark.read.parquet(ver).collect())) == snap
    assert sorted(r["bloom_bit"] for r in spark.read.parquet(idx)
                  .select("bloom_bit").distinct().collect()) == full


def test_streaming_bloom_writer_end_to_end(spark, tmp_path):
    """The foreachBatch writer wires the same per-epoch protocol over a
    real file stream."""
    from klepto_spark.streaming.dedup import bloom, stream_writer
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    ver = str(tmp_path / "ver")
    b1, b2 = _bv_rows(0, 50), _bv_rows(40, 100)
    for batch in (b1, b2):
        spark.createDataFrame(batch, _BV_SCHEMA).write.mode("append") \
            .parquet(src)
        stream = (spark.readStream.schema(_BV_SCHEMA)
                  .option("maxFilesPerTrigger", "1000").parquet(src))
        q = (stream_writer(stream, bloom("v", [], m=SMALL["m"], k=SMALL["k"]),
                           idx, ver, str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    ep1 = {r["v"]: r["maybe_member"]
           for r in spark.read.parquet(f"{ver}/ep=1").collect()}
    for i in range(40, 50):
        assert ep1[f"val{i}"] is True, i
