"""Watermark-based incremental steal: first run full-copies, later runs
copy only the delta, marks persist across runs, crashes replay. CDC mode
additionally re-captures in-place updates and merges latest-wins by key."""

import json

from klepto_spark.config import Spec, TableSpec
from klepto_spark.incremental import (
    CdcTable,
    load_marks,
    steal_cdc,
    steal_incremental,
)
from klepto_spark.sources.catalog import FileCatalog

SCHEMA = "id long, name string, v double"


def _cat(spark, tmp_path):
    return FileCatalog(spark, str(tmp_path / "src"))


def _write(spark, tmp_path, rows, mode="overwrite"):
    (spark.createDataFrame(rows, SCHEMA)
     .write.mode(mode).parquet(str(tmp_path / "src" / "t.parquet")))


def test_incremental_copies_only_the_delta(spark, tmp_path):
    _write(spark, tmp_path, [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)])
    state = str(tmp_path / "marks.json")
    out = f"parquet://{tmp_path}/out"
    spec = Spec(tables=[TableSpec(name="t", anonymise={"name": "FirstName"})])

    # run 1: no mark -> full copy (overwrite), mark lands at 3
    rep1 = steal_incremental(spec, _cat(spark, tmp_path), out,
                             state_path=state, watermarks={"t": "id"})
    assert rep1.ok
    got = spark.read.parquet(f"{tmp_path}/out/t.parquet")
    assert got.count() == 3
    assert load_marks(state)["t"] == {"kind": "int", "value": 3}
    # the pipeline still applies: names anonymised
    assert not [r for r in got.collect() if r.name in ("a", "b", "c")]

    # run 2: two new rows -> append exactly the delta
    _write(spark, tmp_path, [(4, "d", 40.0), (5, "e", 50.0)], mode="append")
    rep2 = steal_incremental(spec, _cat(spark, tmp_path), out,
                             state_path=state, watermarks={"t": "id"})
    assert rep2.ok
    got = spark.read.parquet(f"{tmp_path}/out/t.parquet")
    assert sorted(r.id for r in got.collect()) == [1, 2, 3, 4, 5]
    by = {t.table: t for t in rep2.tables}
    assert by["t"].rows == 2  # only the delta moved
    assert load_marks(state)["t"]["value"] == 5

    # run 3: nothing new -> nothing copied, mark untouched
    rep3 = steal_incremental(spec, _cat(spark, tmp_path), out,
                             state_path=state, watermarks={"t": "id"})
    assert {t.table: t for t in rep3.tables}["t"].rows == 0
    assert spark.read.parquet(f"{tmp_path}/out/t.parquet").count() == 5


def test_incremental_timestamp_watermark(spark, tmp_path, sf_dir):
    """Timestamp watermark on the events table: the second run adds only
    rows past the persisted timestamp mark."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(400)
    from klepto_spark.session import normalise_nanos_ts
    ev = normalise_nanos_ts(ev).orderBy("ts").cache()
    half = ev.limit(200)
    half.write.mode("overwrite").parquet(str(tmp_path / "src" / "t.parquet"))
    state = str(tmp_path / "m.json")
    out = f"parquet://{tmp_path}/out"

    steal_incremental(Spec(), _cat(spark, tmp_path), out,
                      state_path=state, watermarks={"t": "ts"})
    assert spark.read.parquet(f"{tmp_path}/out/t.parquet").count() == 200
    assert load_marks(state)["t"]["kind"] == "timestamp"

    ev.subtract(half).write.mode("append").parquet(
        str(tmp_path / "src" / "t.parquet"))
    rep = steal_incremental(Spec(), _cat(spark, tmp_path), out,
                            state_path=state, watermarks={"t": "ts"})
    got = spark.read.parquet(f"{tmp_path}/out/t.parquet")
    # every source event copied exactly once (no dupes at the boundary)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()
    assert rep.ok


CDC_SCHEMA = "id long, ver long, name string, v double"


def _write_cdc(spark, tmp_path, rows, mode="overwrite"):
    (spark.createDataFrame(rows, CDC_SCHEMA)
     .write.mode(mode).parquet(str(tmp_path / "src" / "t.parquet")))


def test_cdc_recaptures_updates_and_merges(spark, tmp_path):
    """An in-place update behind the old watermark is re-captured (its
    version column moved) and REPLACES the target row instead of
    duplicating it; inserts land; untouched rows survive."""
    _write_cdc(spark, tmp_path, [(1, 10, "a", 1.0), (2, 10, "b", 2.0),
                                 (3, 10, "c", 3.0)])
    state = str(tmp_path / "marks.json")
    out = f"parquet://{tmp_path}/out"
    cdc = {"t": CdcTable(mark_col="ver", keys=["id"])}

    rep1 = steal_cdc(Spec(), _cat(spark, tmp_path), out,
                     state_path=state, tables=cdc)
    assert rep1.ok and {t.table: t for t in rep1.tables}["t"].rows == 3
    assert load_marks(state)["t"] == {"kind": "int", "value": 10}

    # source mutates: id=2 UPDATED (ver bumps, value changes) — simulated
    # as a current-state rewrite — plus id=4 inserted
    _write_cdc(spark, tmp_path, [(1, 10, "a", 1.0), (2, 11, "b", 2.5),
                                 (3, 10, "c", 3.0), (4, 11, "d", 4.0)])
    rep2 = steal_cdc(Spec(), _cat(spark, tmp_path), out,
                     state_path=state, tables=cdc)
    assert rep2.ok and {t.table: t for t in rep2.tables}["t"].rows == 2
    got = {r.id: r for r in
           spark.read.parquet(f"{tmp_path}/out/t.parquet").collect()}
    assert sorted(got) == [1, 2, 3, 4]          # no duplicate for id=2
    assert got[2].v == 2.5 and got[2].ver == 11  # update won
    assert got[1].v == 1.0                       # untouched row survives
    assert load_marks(state)["t"]["value"] == 11

    # idempotent: nothing new -> nothing merged
    rep3 = steal_cdc(Spec(), _cat(spark, tmp_path), out,
                     state_path=state, tables=cdc)
    assert {t.table: t for t in rep3.tables}["t"].rows == 0


def test_cdc_latest_wins_within_one_window(spark, tmp_path):
    """Two versions of one key inside a single capture window merge once,
    keeping the newest; the pipeline (anonymise) still applies."""
    _write_cdc(spark, tmp_path, [(1, 1, "a", 1.0)])
    state = str(tmp_path / "marks.json")
    out = f"parquet://{tmp_path}/out"
    cdc = {"t": CdcTable(mark_col="ver", keys=["id"])}
    spec = Spec(tables=[TableSpec(name="t", anonymise={"name": "FirstName"})])
    steal_cdc(spec, _cat(spark, tmp_path), out, state_path=state, tables=cdc)

    # an append-log style source: key 1 appears twice in the new window
    _write_cdc(spark, tmp_path, [(1, 2, "a", 1.5), (1, 3, "a", 1.9)],
               mode="append")
    rep = steal_cdc(spec, _cat(spark, tmp_path), out,
                    state_path=state, tables=cdc)
    assert {t.table: t for t in rep.tables}["t"].rows == 1
    rows = spark.read.parquet(f"{tmp_path}/out/t.parquet").collect()
    assert len(rows) == 1 and rows[0].ver == 3 and rows[0].v == 1.9
    assert rows[0].name != "a"  # anonymisation still applied


def test_cdc_rejects_pipeline_that_drops_keys(spark, tmp_path):
    """Anonymising the merge key away must fail loudly before data moves."""
    import pytest
    _write_cdc(spark, tmp_path, [(1, 1, "a", 1.0)])
    spec = Spec(tables=[TableSpec(name="t", anonymise={"id": "FirstName"})])
    with pytest.raises(RuntimeError, match="cdc steal failed"):
        steal_cdc(spec, _cat(spark, tmp_path), f"parquet://{tmp_path}/out",
                  state_path=str(tmp_path / "m.json"),
                  tables={"t": CdcTable(mark_col="ver", keys=["id"])})


def test_incremental_state_is_atomic_and_replayable(spark, tmp_path):
    """A failed run must NOT advance the mark — the window replays."""
    _write(spark, tmp_path, [(1, "a", 1.0), (2, "b", 2.0)])
    state = str(tmp_path / "marks.json")
    out = f"parquet://{tmp_path}/out"
    steal_incremental(Spec(), _cat(spark, tmp_path), out,
                      state_path=state, watermarks={"t": "id"})
    before = json.dumps(load_marks(state), sort_keys=True)

    _write(spark, tmp_path, [(3, "c", 3.0)], mode="append")
    import pytest
    with pytest.raises(RuntimeError):
        # unwritable sink -> the copy fails -> mark must not move
        steal_incremental(Spec(), _cat(spark, tmp_path),
                          "unknownscheme://nope", state_path=state,
                          watermarks={"t": "id"})
    assert json.dumps(load_marks(state), sort_keys=True) == before
    # the retry picks the same window up
    rep = steal_incremental(Spec(), _cat(spark, tmp_path), out,
                            state_path=state, watermarks={"t": "id"})
    assert {t.table: t for t in rep.tables}["t"].rows == 1
    assert load_marks(state)["t"]["value"] == 3


TOMB_SCHEMA = "id long, ver long, name string, deleted boolean"


def _write_tomb(spark, tmp_path, rows, mode="overwrite"):
    (spark.createDataFrame(rows, TOMB_SCHEMA)
     .write.mode(mode).parquet(str(tmp_path / "src" / "t.parquet")))


def test_cdc_tombstone_soft_deletes(spark, tmp_path):
    """A soft-deleted row (deleted flag set, version bumped) rides the
    normal capture window and REMOVES its key at the sink instead of
    merging the tombstoned row; upserts in the same window still land,
    in one atomic publish."""
    _write_tomb(spark, tmp_path, [(1, 10, "a", False), (2, 10, "b", False),
                                  (3, 10, "c", False)])
    state = str(tmp_path / "marks.json")
    out = f"parquet://{tmp_path}/out"
    cdc = {"t": CdcTable(mark_col="ver", keys=["id"], tombstone="deleted")}

    steal_cdc(Spec(), _cat(spark, tmp_path), out, state_path=state,
              tables=cdc)
    assert spark.read.parquet(f"{tmp_path}/out/t.parquet").count() == 3

    # id=2 soft-deleted (ver bumps), id=4 inserted — one window
    _write_tomb(spark, tmp_path, [(1, 10, "a", False), (2, 11, "b", True),
                                  (3, 10, "c", False), (4, 11, "d", False)])
    rep = steal_cdc(Spec(), _cat(spark, tmp_path), out, state_path=state,
                    tables=cdc)
    res = {t.table: t for t in rep.tables}["t"]
    assert res.rows == 1 and res.deleted_rows == 1
    got = sorted(r.id for r in
                 spark.read.parquet(f"{tmp_path}/out/t.parquet").collect())
    assert got == [1, 3, 4]
    # a later delete->reinsert resurrects the key (latest wins)
    _write_tomb(spark, tmp_path, [(1, 10, "a", False), (2, 12, "b2", False),
                                  (3, 10, "c", False), (4, 11, "d", False)])
    steal_cdc(Spec(), _cat(spark, tmp_path), out, state_path=state,
              tables=cdc)
    back = {r.id: r for r in
            spark.read.parquet(f"{tmp_path}/out/t.parquet").collect()}
    assert sorted(back) == [1, 2, 3, 4] and back[2].name == "b2"


def test_cdc_snapshot_diff_hard_deletes(spark, tmp_path):
    """A hard delete never bumps max(mark_col); sync_deletes catches it
    by diffing key sets (keys-only scans) even on an unchanged
    watermark, and the mark does not move."""
    _write_cdc(spark, tmp_path, [(1, 10, "a", 1.0), (2, 10, "b", 2.0),
                                 (3, 10, "c", 3.0)])
    state = str(tmp_path / "marks.json")
    out = f"parquet://{tmp_path}/out"
    cdc = {"t": CdcTable(mark_col="ver", keys=["id"], sync_deletes=True)}

    steal_cdc(Spec(), _cat(spark, tmp_path), out, state_path=state,
              tables=cdc)
    mark = load_marks(state)["t"]

    # current-state rewrite WITHOUT id=2: watermark unchanged
    _write_cdc(spark, tmp_path, [(1, 10, "a", 1.0), (3, 10, "c", 3.0)])
    rep = steal_cdc(Spec(), _cat(spark, tmp_path), out, state_path=state,
                    tables=cdc)
    res = {t.table: t for t in rep.tables}["t"]
    assert res.deleted_rows == 1 and res.rows == 0
    got = sorted(r.id for r in
                 spark.read.parquet(f"{tmp_path}/out/t.parquet").collect())
    assert got == [1, 3]
    assert load_marks(state)["t"] == mark  # mark untouched

    # converged: the next diff removes nothing and skips the rewrite
    rep2 = steal_cdc(Spec(), _cat(spark, tmp_path), out, state_path=state,
                     tables=cdc)
    res2 = {t.table: t for t in rep2.tables}["t"]
    assert res2.deleted_rows == 0 and res2.skipped


def test_cdc_partitioned_merge_layout(spark, tmp_path):
    """CDC with partition_buckets: the sink lands bucket-partitioned,
    merges rewrite only the delta's buckets, and untouched buckets keep
    their exact files across a CDC run."""
    import os
    import time as _time
    from klepto_spark.sinks.writers import BUCKET_COL

    SCHEMA_V = "id long, name string, v double, ver long"
    src = str(tmp_path / "src" / "t.parquet")
    rows1 = [(i, f"n{i}", float(i), 1) for i in range(40)]
    spark.createDataFrame(rows1, SCHEMA_V).write.parquet(src)
    state = str(tmp_path / "marks.json")
    out = f"parquet://{tmp_path}/out"
    cdc = {"t": CdcTable(mark_col="ver", keys=["id"],
                         partition_buckets=8)}
    steal_cdc(Spec(), _cat(spark, tmp_path), out, state_path=state,
              tables=cdc)
    target = f"{tmp_path}/out/t.parquet"
    buckets = [d for d in os.listdir(target)
               if d.startswith(f"{BUCKET_COL}=")]
    assert len(buckets) == 8

    def snap():
        found = {}
        for root, _, files in os.walk(target):
            for f in files:
                if not f.startswith(("_", ".")):
                    p = os.path.join(root, f)
                    found[p] = os.path.getmtime(p)
        return found

    before = snap()
    _time.sleep(1.1)
    spark.createDataFrame([(3, "UPDATED", 3.5, 2)], SCHEMA_V) \
        .write.mode("append").parquet(src)
    steal_cdc(Spec(), _cat(spark, tmp_path), out, state_path=state,
              tables=cdc)
    after = snap()
    stable = [p for p, m in before.items() if after.get(p) == m]
    assert stable, "untouched buckets must keep their files"
    got = spark.read.parquet(target)
    assert got.count() == 40
    assert got.filter("id = 3").first()["name"] == "UPDATED"


def test_cdc_applies_the_spec_read_overrides(spark, tmp_path):
    """steal_cdc hands the spec to the source's read tuning, as steal
    does, so a JDBC table's PartitionColumn / ReadPartitions /
    StrideMode steers its capture scans too."""
    calls = []

    class Recording(FileCatalog):
        def apply_read_overrides(self, spec):
            calls.append(spec)

    _write_cdc(spark, tmp_path, [(1, 1, "a", 1.0), (2, 1, "b", 2.0)])
    spec = Spec(tables=[TableSpec(name="t", partition_column="id",
                                  read_partitions=2)])
    rep = steal_cdc(spec, Recording(spark, str(tmp_path / "src")),
                    f"parquet://{tmp_path}/out",
                    state_path=str(tmp_path / "m.json"),
                    tables={"t": CdcTable(mark_col="ver", keys=["id"])})
    assert rep.ok and {t.table: t for t in rep.tables}["t"].rows == 2
    assert calls == [spec]
