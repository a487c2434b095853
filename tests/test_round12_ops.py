"""Round-12 operator tests: portable HLL (t06 oracle closure) and the
other CORRECTNESS_r12 contract changes."""

import duckdb
import pytest
from pyspark.sql import functions as F

from klepto_spark.operators import hll_portable as H

from tests.conftest import assert_df_matches_duck


# --------------------------------------------------------------------------
# Portable HLL — the t06 no-oracle closure
# --------------------------------------------------------------------------

def test_portable_hll_matches_duckdb_bit_identically(spark, duck, sf_dir):
    """The whole point: Spark and DuckDB compute the SAME estimate (no
    float_cols tolerance — the output is BIGINT and must be equal)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    sdf = H.hll_distinct_portable(events, "user_id", ["event_type"])
    assert_df_matches_duck(
        sdf, duck, H.oracle_sql("events", "user_id", ["event_type"]))


def test_portable_hll_error_bound(spark, sf_dir):
    """Estimate within the standard HLL envelope of exact (generous 3x
    the 1.04/sqrt(m) relative error to stay robust across SFs)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    est = {r["event_type"]: r["approx_distinct"]
           for r in H.hll_distinct_portable(
               events, "user_id", ["event_type"]).collect()}
    exact = {r["event_type"]: r["n"]
             for r in events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    tol = 3 * 1.04 / (H.M ** 0.5)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(2, tol * n), (k, est[k], n)


def test_portable_hll_layout_independent(spark, sf_dir):
    """max/sum register merges are order-free and the harmonic sum is
    exact BIGINT, so the estimate cannot depend on partitioning."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = sorted(map(tuple, H.hll_distinct_portable(
        events.repartition(1), "user_id", ["event_type"]).collect()))
    b = sorted(map(tuple, H.hll_distinct_portable(
        events.repartition(7, "user_id"), "user_id",
        ["event_type"]).collect()))
    assert a == b


def test_portable_hll_both_branches_and_global(spark):
    """Small cardinality rides linear counting, large rides the raw
    harmonic estimate; both stay inside the error envelope, and the
    ungrouped (global) form works. Cross-checked against DuckDB on the
    same synthetic frame."""
    small = spark.range(40).select((F.col("id") % 20).alias("v"))
    big = spark.range(20000).select(F.col("id").alias("v"))
    tol = 3 * 1.04 / (H.M ** 0.5)
    con = duckdb.connect()
    for df, n, name in [(small, 20, "small"), (big, 20000, "big")]:
        est = H.hll_distinct_portable(df, "v").first()["approx_distinct"]
        assert abs(est - n) <= max(2, tol * n), (name, est, n)
        con.execute(f"CREATE OR REPLACE TABLE t AS SELECT * FROM "
                    f"(VALUES {','.join(f'({r.v})' for r in df.collect())})"
                    f" AS t(v)")
        dest = con.execute(H.oracle_sql("t", "v")).fetchone()[0]
        assert dest == est, (name, dest, est)
    con.close()


def test_portable_hll_null_values_ignored(spark):
    """NULLs don't hash into registers — matches COUNT(DISTINCT)."""
    df = spark.range(10).select(
        F.when(F.col("id") < 5, F.col("id")).alias("v"))
    est = H.hll_distinct_portable(df, "v").first()["approx_distinct"]
    assert est == 5


# --------------------------------------------------------------------------
# a29-a31 — round-12 TPC-H shapes (Q15 / Q19 / Q20 decorrelations)
# --------------------------------------------------------------------------

def test_a30_disjunction_reaches_part_scan(spark, sf_dir):
    """Q19's point: the OR-of-ANDs' part-only conjuncts must push to the
    part scan (an Or inside DataFilters/PushedFilters), not evaluate
    post-join on the full part table."""
    import __spark_entry__ as entry_mod
    df = entry_mod.queries()["a30_promo_disjunction"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    part_scans = [ln for ln in plan.splitlines()
                  if "FileScan" in ln and "p_brand" in ln]
    assert part_scans and any("Brand#1" in ln for ln in part_scans)


def test_a29_a31_scan_lineitem_once(spark, sf_dir):
    """Q15/Q20's aggregate-over-aggregate decorrelation must not pay a
    second lineitem scan: the inner aggregate persists and both
    consumers read the cache (the a26 one-scan pattern)."""
    import __spark_entry__ as entry_mod
    from klepto_spark.plans.audit import plan_nodes
    for name in ["a29_top_revenue_supplier", "a31_concentrated_suppliers"]:
        df = entry_mod.queries()[name](spark, sf_dir)
        df.count()  # materialise the cache so the plan shows reuse
        # the walk stops at InMemoryTableScanExec: a cache hit is not a scan
        n = sum(1 for kind, node in plan_nodes(
                    df._jdf.queryExecution().executedPlan())
                if kind == "FileSourceScanExec"
                and "lineitem" in node.metadata().get("Location").get())
        assert n <= 1, (name, n)


# --------------------------------------------------------------------------
# t21 — at-rest portable-HLL register index (sixth at-rest family)
# --------------------------------------------------------------------------

def test_hll_append_equals_full_recompute(spark, sf_dir, tmp_path):
    """The index-probe contract: estimates over (indexed ∪ batch) must be
    BIT-identical to hll_distinct_portable over the whole corpus —
    register maxima over disjoint row sets are lossless."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    old = events.filter(F.col("event_id") % 5 != 0)
    new = events.filter(F.col("event_id") % 5 == 0)
    path = str(tmp_path / "hll_idx")
    H.hll_write_registers(old, "user_id", ["event_type"], path)
    inc = sorted(map(tuple, H.hll_append(
        spark, path, new, "user_id", ["event_type"],
        commit=False).collect()))
    full = sorted(map(tuple, H.hll_distinct_portable(
        events, "user_id", ["event_type"]).collect()))
    assert inc == full


def test_hll_append_commit_visible_and_replay_safe(spark, sf_dir,
                                                   tmp_path):
    """After a commit the next probe sees the batch; REPLAYING the same
    commit changes nothing (max-fold is idempotent — the double-count
    hazard class the span index needs journaled epochs for)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    old = events.filter(F.col("event_id") % 5 != 0)
    new = events.filter(F.col("event_id") % 5 == 0)
    path = str(tmp_path / "hll_idx")
    H.hll_write_registers(old, "user_id", ["event_type"], path)
    H.hll_append(spark, path, new, "user_id", ["event_type"],
                 commit=True).collect()
    empty = new.filter(F.lit(False))
    after = sorted(map(tuple, H.hll_append(
        spark, path, empty, "user_id", ["event_type"],
        commit=False).collect()))
    full = sorted(map(tuple, H.hll_distinct_portable(
        events, "user_id", ["event_type"]).collect()))
    assert after == full
    # replay the identical commit: estimates must not move
    H.hll_append(spark, path, new, "user_id", ["event_type"],
                 commit=True).collect()
    replay = sorted(map(tuple, H.hll_append(
        spark, path, empty, "user_id", ["event_type"],
        commit=False).collect()))
    assert replay == full


def test_hll_append_refuses_mismatched_scheme(spark, sf_dir, tmp_path):
    """An index recorded with a different register geometry refuses the
    append instead of silently merging incompatible registers."""
    from klepto_spark.operators.dedup import write_index_meta
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    path = str(tmp_path / "hll_idx")
    H.hll_write_registers(events, "user_id", ["event_type"], path)
    write_index_meta(spark, path, "hll", {"p": 4})
    with pytest.raises(ValueError, match="different scheme"):
        H.hll_append(spark, path, events, "user_id", ["event_type"],
                     commit=False)


def test_hll_append_refuses_pre_rho_bits_meta(spark, sf_dir, tmp_path):
    """ADVICE r13 (medium): an index stamped before the 48-bit rho
    scheme carries {mode, p} but NO rho_bits key — its registers encode
    32-bit ranks (saturation sentinel rho=33), which a 48-bit max-fold
    would silently reinterpret mid-range. A required param ABSENT from
    the stored meta must refuse exactly like a differing one."""
    from klepto_spark.operators.dedup import write_index_meta
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    path = str(tmp_path / "hll_idx")
    H.hll_write_registers(events, "user_id", ["event_type"], path)
    write_index_meta(spark, path, "hll", {"p": H._P})  # pre-r13 stamp
    with pytest.raises(ValueError, match="different scheme"):
        H.hll_append(spark, path, events, "user_id", ["event_type"],
                     commit=False)


# --------------------------------------------------------------------------
# t22 — HLL overlap (inclusion-exclusion over portable registers)
# --------------------------------------------------------------------------

def test_hll_overlap_accuracy_and_edges(spark):
    """Inclusion-exclusion tracks the true intersection within the
    compounded sketch envelope; disjoint sides clamp to 0 overlap; a
    group present in only one side reports the other side's distinct as
    0 and overlap 0."""
    import duckdb
    half = spark.range(0, 3000).select(
        F.lit("x").alias("g"), F.col("id").alias("v"))
    shifted = spark.range(1500, 4500).select(
        F.lit("x").alias("g"), F.col("id").alias("v"))
    row = H.hll_overlap(half, shifted, "v", ["g"]).first()
    tol = 3 * 3 * 1.04 / (H.M ** 0.5)        # 3 estimates compound
    assert abs(row["overlap_est"] - 1500) <= tol * 3000, row
    # disjoint: overlap clamps to >= 0 and stays small
    lo = spark.range(0, 2000).select(F.col("id").alias("v"))
    hi = spark.range(100000, 102000).select(F.col("id").alias("v"))
    d = H.hll_overlap(lo, hi, "v").first()
    assert 0 <= d["overlap_est"] <= tol * 2000
    # one-sided group
    a = spark.createDataFrame([("only_a", 1), ("both", 2)], "g string, v int")
    b = spark.createDataFrame([("both", 2)], "g string, v int")
    rows = {r["g"]: r for r in H.hll_overlap(a, b, "v", ["g"]).collect()}
    assert rows["only_a"]["distinct_b"] == 0
    assert rows["only_a"]["overlap_est"] == 0
    assert rows["both"]["overlap_est"] == 1
    # oracle agreement on the hand frame
    con = duckdb.connect()
    con.execute("CREATE TABLE ta(g VARCHAR, v INT); "
                "INSERT INTO ta VALUES ('only_a', 1), ('both', 2)")
    con.execute("CREATE TABLE tb(g VARCHAR, v INT); "
                "INSERT INTO tb VALUES ('both', 2)")
    drows = {r[0]: r for r in con.execute(H.overlap_oracle_sql(
        "SELECT * FROM ta", "SELECT * FROM tb", "v", ["g"])).fetchall()}
    con.close()
    assert {k: tuple(v) for k, v in rows.items()} == drows


def test_hll_overlap_null_group_key(spark):
    """ADVICE r12 medium: a NULL group key must carry its per-side
    distincts — the Spark per-side joins are eqNullSafe, mirroring the
    oracle's IS NOT DISTINCT FROM. The ADVICE repro: side a holds two
    values under the NULL key, side b one shared value -> (2, 1, 2, 1);
    the old name-list left join dropped both per-side estimates to 0.
    The DuckDB twin must return the identical rows."""
    import duckdb
    a = spark.createDataFrame([(None, 1), (None, 2), ("g1", 5)],
                              "g string, v int")
    b = spark.createDataFrame([(None, 2), ("g1", 5)], "g string, v int")
    rows = {r["g"]: tuple(r)[1:]
            for r in H.hll_overlap(a, b, "v", ["g"]).collect()}
    assert rows[None] == (2, 1, 2, 1), rows
    assert rows["g1"] == (1, 1, 1, 1), rows
    con = duckdb.connect()
    con.execute("CREATE TABLE ta(g VARCHAR, v INT); "
                "INSERT INTO ta VALUES (NULL, 1), (NULL, 2), ('g1', 5)")
    con.execute("CREATE TABLE tb(g VARCHAR, v INT); "
                "INSERT INTO tb VALUES (NULL, 2), ('g1', 5)")
    drows = {r[0]: tuple(r)[1:] for r in con.execute(H.overlap_oracle_sql(
        "SELECT * FROM ta", "SELECT * FROM tb", "v", ["g"])).fetchall()}
    con.close()
    assert rows == drows


# --------------------------------------------------------------------------
# v05 — numeric-distribution drift (continuous complement of v04)
# --------------------------------------------------------------------------

def test_numeric_drift_edges_match_duckdb(spark):
    """Hand-built frame covering the hazards: NULL values report (one
    one-sided NULL-bin row per side — NULL join keys never merge, the
    same v04 semantic, identical in both engines), negative values floor
    DOWNWARD (-30 -> bin -2, not -1), bin boundaries are left-closed
    (25.0 lands in bin 1), and one-sided bins report an exact 0.0
    share. Full-row equality vs the SQL twin."""
    import duckdb
    from klepto_spark.operators.validate import (numeric_drift,
                                                 numeric_drift_sql)
    a = spark.createDataFrame(
        [(x,) for x in [None, -30.0, -1.0, 0.0, 24.9, 25.0, 100.0]],
        "v double")
    b = spark.createDataFrame([(x,) for x in [None, None, 5.0]],
                              "v double")
    out = {tuple(r) for r in numeric_drift(a, b, "v", 25.0).collect()}
    by_bin = {r[0]: r for r in out if r[0] is not None}
    assert by_bin[-2][3:5] == (1, 0)          # -30 floors to bin -2
    assert by_bin[1][1:3] == (25.0, 50.0)     # left-closed boundary
    null_rows = sorted(r[3:5] for r in out if r[0] is None)
    assert null_rows == [(0, 2), (1, 0)]      # one one-sided row per side
    con = duckdb.connect()
    con.execute("CREATE TABLE ta(v DOUBLE); INSERT INTO ta VALUES "
                "(NULL),(-30.0),(-1.0),(0.0),(24.9),(25.0),(100.0)")
    con.execute("CREATE TABLE tb(v DOUBLE); "
                "INSERT INTO tb VALUES (NULL),(NULL),(5.0)")
    drows = {tuple(r) for r in con.execute(numeric_drift_sql(
        "SELECT * FROM ta", "SELECT * FROM tb", "v", 25.0)).fetchall()}
    con.close()
    assert out == drows


# --------------------------------------------------------------------------
# streaming HLL twin — the sixth family's incremental stream path
# --------------------------------------------------------------------------

def _hll_rows(lo, hi):
    return [(i, f"type{i % 3}", i % 40) for i in range(lo, hi)]


_HLL_SCHEMA = "event_id bigint, event_type string, user_id bigint"


def test_streaming_hll_batches_equal_full_recompute(spark, tmp_path):
    """Two micro-batches through stream_writer(hll()): each epoch's
    estimates are BIT-identical to hll_distinct_portable over everything
    arrived so far (register max-merge is lossless), and the committed
    register index carries the final state."""
    from klepto_spark.streaming.dedup import hll, stream_writer

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    est = str(tmp_path / "est")
    b1, b2 = _hll_rows(0, 60), _hll_rows(60, 140)
    for batch in (b1, b2):
        spark.createDataFrame(batch, _HLL_SCHEMA).write.mode("append") \
            .parquet(src)
        stream = (spark.readStream.schema(_HLL_SCHEMA)
                  .option("maxFilesPerTrigger", "1000").parquet(src))
        q = (stream_writer(stream, hll("user_id", ["event_type"]), idx,
                           est, str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    df1 = spark.createDataFrame(b1, _HLL_SCHEMA)
    both = df1.unionByName(spark.createDataFrame(b2, _HLL_SCHEMA))
    for ep, frame in [(0, df1), (1, both)]:
        got = sorted(map(tuple, spark.read.parquet(f"{est}/ep={ep}")
                         .collect()))
        want = sorted(map(tuple, H.hll_distinct_portable(
            frame, "user_id", ["event_type"]).collect()))
        assert got == want, ep
    # committed registers reproduce the final estimates on their own
    from klepto_spark.operators.hll_portable import _fold_estimate
    regs = spark.read.parquet(idx).select("event_type", "hll_bucket",
                                          "hll_r")
    final = sorted(map(tuple, _fold_estimate(
        regs, ["event_type"]).collect()))
    want = sorted(map(tuple, H.hll_distinct_portable(
        both, "user_id", ["event_type"]).collect()))
    assert final == want


def test_streaming_hll_replay_and_fold_probe_identical(spark, tmp_path):
    """Replaying an epoch leaves estimates and index state byte-identical
    (epoch-pinned probe view + idempotent max registers), and folding
    committed epochs (compact_index_epochs) changes nothing a later
    probe sees."""
    from klepto_spark.operators.hll_portable import _fold_estimate
    from klepto_spark.streaming.dedup import (compact_index_epochs, hll,
                                              process_epoch)
    idx = str(tmp_path / "idx")
    est = str(tmp_path / "est")
    df1 = spark.createDataFrame(_hll_rows(0, 60), _HLL_SCHEMA)
    df2 = spark.createDataFrame(_hll_rows(60, 140), _HLL_SCHEMA)
    family = hll("user_id", ["event_type"])
    process_epoch(family, df1, 0, idx, est)
    process_epoch(family, df2, 1, idx, est)
    snap = sorted(map(tuple, spark.read.parquet(est).collect()))
    # replay both epochs out of order: nothing may move
    process_epoch(family, df2, 1, idx, est)
    process_epoch(family, df1, 0, idx, est)
    assert sorted(map(tuple, spark.read.parquet(est).collect())) == snap
    # fold epochs 0-1; a fresh epoch-2 probe sees the identical registers
    before = sorted(map(tuple, _fold_estimate(
        spark.read.parquet(idx).select("event_type", "hll_bucket",
                                       "hll_r"),
        ["event_type"]).collect()))
    assert compact_index_epochs(spark, idx, 2) == 2
    after = sorted(map(tuple, _fold_estimate(
        spark.read.parquet(idx).select("event_type", "hll_bucket",
                                       "hll_r"),
        ["event_type"]).collect()))
    assert after == before


# --------------------------------------------------------------------------
# s13 — at-rest IVF probe on the audited surface
# --------------------------------------------------------------------------

def test_s13_contract_query_prunes_partitions(spark, sf_dir):
    """The CONTRACT query (not just the synthetic-path test in
    test_plans.py) must scan with a cluster partition predicate and
    return exactly what the in-flight s03 form returns."""
    import __spark_entry__ as entry_mod
    from klepto_spark.plans import inspect as I
    df = entry_mod.queries()["s13_ivf_index_probe"](spark, sf_dir)
    pf = " ".join(I.partition_filters(df))
    assert "cluster" in pf
    at_rest = {(r.vec_id, r.score) for r in df.collect()}
    in_flight = {(r.vec_id, r.score)
                 for r in entry_mod.queries()["s03_ivf_topk"](
                     spark, sf_dir).collect()}
    assert at_rest == in_flight


# --------------------------------------------------------------------------
# a16 rank-certificate contract (the t-digest no-oracle closure)
# --------------------------------------------------------------------------

def test_a16_contract_certifies_rank_error(spark, duck, sf_dir):
    """The reshaped a16: exact quantiles anchor values (bit-matched like
    a13) and rank_ok certifies the digest's rank error under the pinned
    eps. All certificates must hold at the test SF, and the driver-style
    hash compare must pass."""
    import __spark_entry__ as entry_mod
    sdf = entry_mod.queries()["a16_tdigest"](spark, sf_dir)
    rows = sdf.collect()
    assert rows and all(r["rank_ok"] for r in rows)
    assert set(sdf.columns) == {"c_mktsegment", "prob", "n", "exact_q",
                                "rank_ok"}
    assert_df_matches_duck(sdf, duck,
                           entry_mod.oracle_sql()["a16_tdigest"])


def test_a16_eps_is_not_vacuous():
    """eps=0.05 must sit BELOW the distance between requested probs
    (0.25 apart) — a digest answering the wrong quantile can never
    certify — and above the worst measured mid-rank granularity floor
    (1/(2*34) at sf0.001)."""
    import __spark_entry__ as entry_mod
    probs = entry_mod.A16_PROBS
    min_gap = min(b - a for a, b in zip(probs, probs[1:]))
    assert entry_mod.A16_RANK_EPS < min_gap / 2
    assert entry_mod.A16_RANK_EPS >= 1.0 / (2 * 34)


def test_portable_hll_shuffle_carries_registers_not_values(spark, sf_dir):
    """Plan shape: partial aggregation before the exchange (the shuffle
    carries at most m register rows per group per map partition) and no
    raw user_id column past the first aggregate."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = H.hll_distinct_portable(
        events, "user_id", ["event_type"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "partial" in plan.lower()
    assert plan.lower().count("exchange") <= 2
