"""Merge-on-read CDC: deletion-vector epochs over a file table.

The invariants under test: merges never touch base files, reads resolve
latest-wins exactly like the eager merge would have, uncommitted epochs
are invisible, compaction folds-and-retires idempotently, and the
catalog/CDC integration sees the merged view end-to-end."""

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from klepto_spark.sinks import deletion_vectors as dv, tablefs
from klepto_spark.sinks.writers import BUCKET_COL, merge_files
from klepto_spark.sources.catalog import FileCatalog

SCHEMA = "id long, name string, v double"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def _view(spark, d):
    return {r["id"]: (r["name"], r["v"])
            for r in dv.read_files_dv(spark, str(d), "t", "parquet").collect()}


def _base_files(d):
    root = Path(d, "t.parquet")
    return sorted((str(p.relative_to(root)), p.stat().st_mtime_ns)
                  for p in root.rglob("part-*")
                  if "_delta" not in p.parts and "_dv" not in p.parts)


def test_dv_merge_appends_epochs_without_touching_base(spark, tmp_path):
    dv.merge_files_dv(_df(spark, [(1, "a", 1.0), (2, "b", 2.0),
                                  (3, "c", 3.0)]),
                      str(tmp_path), "t", "parquet", ["id"])
    before = _base_files(tmp_path)

    dv.merge_files_dv(_df(spark, [(2, "B", 20.0), (4, "d", 4.0)]),
                      str(tmp_path), "t", "parquet", ["id"],
                      auto_compact=None)
    dv.merge_files_dv(_df(spark, [(5, "e", 5.0)]),
                      str(tmp_path), "t", "parquet", ["id"],
                      deletes=_keys(spark, [1]), auto_compact=None)

    assert _base_files(tmp_path) == before  # zero base rewrite
    assert len(dv.pending_epochs(spark, str(tmp_path), "t", "parquet")) == 2
    assert _view(spark, tmp_path) == {2: ("B", 20.0), 3: ("c", 3.0),
                                      4: ("d", 4.0), 5: ("e", 5.0)}


def test_dv_matches_eager_merge_on_same_history(spark, tmp_path):
    """The merged view must equal what the eager keyed merge produces for
    the same sequence of windows — including delete-then-reinsert."""
    history = [
        ([(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], None),
        ([(2, "B", 20.0)], [3]),
        ([(3, "C", 30.0), (4, "d", 4.0)], [1]),   # reinsert 3 after delete
        ([], [4]),                                 # delete-only window
    ]
    for i, (rows, dels) in enumerate(history):
        delta = _df(spark, rows)
        gone = _keys(spark, dels) if dels else None
        dv.merge_files_dv(delta, str(tmp_path / "mor"), "t", "parquet",
                          ["id"], deletes=gone, auto_compact=None)
        merge_files(delta, str(tmp_path / "eager"), "t", "parquet",
                    ["id"], deletes=gone)
    eager = {r["id"]: (r["name"], r["v"]) for r in
             spark.read.parquet(f"{tmp_path}/eager/t.parquet").collect()}
    assert _view(spark, tmp_path / "mor") == eager


def test_dv_uncommitted_epoch_is_invisible_and_cleaned(spark, tmp_path):
    dv.merge_files_dv(_df(spark, [(1, "a", 1.0)]), str(tmp_path), "t",
                      "parquet", ["id"])
    dv.merge_files_dv(_df(spark, [(2, "b", 2.0)]), str(tmp_path), "t",
                      "parquet", ["id"], auto_compact=None)
    # simulate a crash between the data write and the commit: epoch data
    # exists, log file does not
    tdir = tmp_path / "t.parquet"
    orphan = tdir / "_delta" / "e000099"
    (_df(spark, [(9, "never", 9.9)]).withColumn(dv.EPOCH_COL, F.lit(99))
     .write.parquet(str(orphan)))
    assert 9 not in _view(spark, tmp_path)          # not committed -> unread
    dv.merge_files_dv(_df(spark, [(3, "c", 3.0)]), str(tmp_path), "t",
                      "parquet", ["id"], auto_compact=None)
    assert not orphan.exists()                       # next merge cleans it
    assert sorted(_view(spark, tmp_path)) == [1, 2, 3]


def test_dv_compaction_folds_and_retires(spark, tmp_path):
    dv.merge_files_dv(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
                      str(tmp_path), "t", "parquet", ["id"])
    dv.merge_files_dv(_df(spark, [(2, "B", 20.0), (3, "c", 3.0)]),
                      str(tmp_path), "t", "parquet", ["id"],
                      deletes=_keys(spark, [1]), auto_compact=None)
    before = _view(spark, tmp_path)
    folded = dv.compact_files_dv(spark, str(tmp_path), "t", "parquet")
    assert folded == 1
    assert dv.pending_epochs(spark, str(tmp_path), "t", "parquet") == []
    assert _view(spark, tmp_path) == before          # view unchanged
    # post-compaction the base alone carries the state
    flat = {r["id"] for r in
            spark.read.parquet(f"{tmp_path}/t.parquet").collect()}
    assert flat == {2, 3}


def test_dv_compaction_is_idempotent_after_crash(spark, tmp_path):
    """A crash between the fold and the epoch retirement replays the same
    events onto the already-folded base and converges."""
    dv.merge_files_dv(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
                      str(tmp_path), "t", "parquet", ["id"])
    dv.merge_files_dv(_df(spark, [(2, "B", 20.0)]), str(tmp_path), "t",
                      "parquet", ["id"], deletes=_keys(spark, [1]),
                      auto_compact=None)
    tdir = tmp_path / "t.parquet"
    saved = tmp_path / "saved"
    for part in ("_dvlog", "_delta", "_dv"):
        if (tdir / part).exists():
            shutil.copytree(tdir / part, saved / part)
    dv.compact_files_dv(spark, str(tmp_path), "t", "parquet")
    want = _view(spark, tmp_path)
    # "crash": the retirement never happened — epochs reappear
    for part in ("_dvlog", "_delta", "_dv"):
        if (saved / part).exists():
            shutil.copytree(saved / part, tdir / part, dirs_exist_ok=True)
    assert _view(spark, tmp_path) == want            # replayed view converges
    dv.compact_files_dv(spark, str(tmp_path), "t", "parquet")
    assert _view(spark, tmp_path) == want


def test_dv_over_bucketed_base_compacts_touched_buckets_only(spark, tmp_path):
    dv.merge_files_dv(
        _df(spark, [(i, f"n{i}", float(i)) for i in range(40)]),
        str(tmp_path), "t", "parquet", ["id"], n_buckets=8)
    tdir = tmp_path / "t.parquet"
    assert any(p.name.startswith(f"{BUCKET_COL}=") for p in tdir.iterdir())
    dv.merge_files_dv(_df(spark, [(7, "N7", 70.0)]), str(tmp_path), "t",
                      "parquet", ["id"], auto_compact=None)
    files_before = _base_files(tmp_path)
    assert _view(spark, tmp_path)[7] == ("N7", 70.0)
    dv.compact_files_dv(spark, str(tmp_path), "t", "parquet")
    files_after = _base_files(tmp_path)
    assert files_after != files_before               # something rewrote
    # only key 7's bucket may change: every other bucket's files keep
    # name+mtime identity through the fold
    changed_dirs = {Path(n).parts[0] for n, _ in
                    set(files_before) ^ set(files_after)}
    assert len(changed_dirs) == 1
    assert next(iter(changed_dirs)).startswith(BUCKET_COL)
    assert _view(spark, tmp_path)[7] == ("N7", 70.0)


def test_dv_auto_compact_threshold(spark, tmp_path):
    dv.merge_files_dv(_df(spark, [(i, f"n{i}", float(i))
                                  for i in range(10)]),
                      str(tmp_path), "t", "parquet", ["id"])
    # 1 pending row over 10 base rows = 0.1 < 0.5 -> stays pending
    dv.merge_files_dv(_df(spark, [(1, "x", -1.0)]), str(tmp_path), "t",
                      "parquet", ["id"], auto_compact=0.5)
    assert len(dv.pending_epochs(spark, str(tmp_path), "t", "parquet")) == 1
    # 6 pending rows over 10 -> 0.6 >= 0.5 -> folds automatically
    dv.merge_files_dv(_df(spark, [(i, "y", 0.0) for i in range(2, 7)]),
                      str(tmp_path), "t", "parquet", ["id"],
                      auto_compact=0.5)
    assert dv.pending_epochs(spark, str(tmp_path), "t", "parquet") == []
    assert _view(spark, tmp_path)[1] == ("x", -1.0)


def test_dv_key_mismatch_refused(spark, tmp_path):
    dv.merge_files_dv(_df(spark, [(1, "a", 1.0)]), str(tmp_path), "t",
                      "parquet", ["id"])
    with pytest.raises(ValueError, match="key identity"):
        dv.merge_files_dv(_df(spark, [(1, "a", 1.0)]), str(tmp_path), "t",
                          "parquet", ["name"])


def test_file_catalog_serves_the_merged_view(spark, tmp_path):
    dv.merge_files_dv(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
                      str(tmp_path), "t", "parquet", ["id"])
    dv.merge_files_dv(_df(spark, [(2, "B", 20.0)]), str(tmp_path), "t",
                      "parquet", ["id"], deletes=_keys(spark, [1]),
                      auto_compact=None)
    cat = FileCatalog(spark, str(tmp_path))
    got = {r["id"]: r["name"] for r in cat.load("t").collect()}
    assert got == {2: "B"}


def test_cdc_merge_on_read_end_to_end(spark, tmp_path):
    """steal_cdc with merge_on_read: windows append epochs, the sink view
    stays latest-wins, deletes land, and compaction folds."""
    from klepto_spark.config import Spec
    from klepto_spark.incremental import CdcTable, steal_cdc

    src = tmp_path / "src"
    out = f"parquet://{tmp_path}/out"
    rows = [(1, "a", 1.0, 100), (2, "b", 2.0, 100)]
    schema = "id long, name string, v double, ver long"
    (spark.createDataFrame(rows, schema)
     .write.mode("overwrite").parquet(str(src / "t.parquet")))
    cdc = {"t": CdcTable(mark_col="ver", keys=["id"], merge_on_read=True)}
    state = str(tmp_path / "marks.json")
    spec = Spec(tables=[])
    rep = steal_cdc(spec, FileCatalog(spark, str(src)), out,
                    state_path=state, tables=cdc)
    assert rep.ok

    # window 2: update row 1, insert row 3
    (spark.createDataFrame([(1, "A", 10.0, 200), (3, "c", 3.0, 200)], schema)
     .write.mode("append").parquet(str(src / "t.parquet")))
    rep = steal_cdc(spec, FileCatalog(spark, str(src)), out,
                    state_path=state, tables=cdc)
    assert rep.ok
    sink = FileCatalog(spark, str(tmp_path / "out"))
    got = {r["id"]: r["name"] for r in sink.load("t").collect()}
    assert got == {1: "A", 2: "b", 3: "c"}
    # the delta was 2/3 of the base, over the default 0.2 auto-compact
    # threshold -> the run folded it; the flat base alone carries the state
    assert dv.pending_epochs(spark, str(tmp_path / "out"), "t",
                             "parquet") == []
    flat = {r["id"] for r in
            spark.read.parquet(f"{tmp_path}/out/t.parquet").collect()}
    assert flat == {1, 2, 3}


# ---------------------------------------------------------------------------
# Time travel: as_of_epoch snapshot reads
# ---------------------------------------------------------------------------

def _asof(spark, d, epoch):
    return {r["id"]: (r["name"], r["v"])
            for r in dv.read_files_dv(spark, str(d), "t", "parquet",
                                      as_of_epoch=epoch).collect()}


def _travel_history(spark, tmp_path):
    dv.merge_files_dv(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
                      str(tmp_path), "t", "parquet", ["id"])
    dv.merge_files_dv(_df(spark, [(2, "B", 20.0), (3, "c", 3.0)]),
                      str(tmp_path), "t", "parquet", ["id"],
                      auto_compact=None)
    dv.merge_files_dv(_df(spark, [(4, "d", 4.0)]), str(tmp_path), "t",
                      "parquet", ["id"], deletes=_keys(spark, [1]),
                      auto_compact=None)


def test_as_of_epoch_replays_each_snapshot(spark, tmp_path):
    _travel_history(spark, tmp_path)
    assert _asof(spark, tmp_path, 0) == {1: ("a", 1.0), 2: ("b", 2.0)}
    assert _asof(spark, tmp_path, 1) == {1: ("a", 1.0), 2: ("B", 20.0),
                                         3: ("c", 3.0)}
    assert _asof(spark, tmp_path, 2) == {2: ("B", 20.0), 3: ("c", 3.0),
                                         4: ("d", 4.0)}
    # no as_of = current view = newest epoch's view
    assert _view(spark, tmp_path) == _asof(spark, tmp_path, 2)


def test_as_of_epoch_bounds_are_enforced(spark, tmp_path):
    _travel_history(spark, tmp_path)
    with pytest.raises(ValueError, match="does not exist"):
        _asof(spark, tmp_path, 3)


def test_as_of_below_compaction_floor_refuses(spark, tmp_path):
    _travel_history(spark, tmp_path)
    dv.compact_files_dv(spark, str(tmp_path), "t", "parquet")
    # the floor itself is the base files — servable, equals the old view
    assert _asof(spark, tmp_path, 2) == {2: ("B", 20.0), 3: ("c", 3.0),
                                         4: ("d", 4.0)}
    for gone in (0, 1):
        with pytest.raises(ValueError, match="compacted"):
            _asof(spark, tmp_path, gone)
    # history continues above the floor after new merges
    dv.merge_files_dv(_df(spark, [(5, "e", 5.0)]), str(tmp_path), "t",
                      "parquet", ["id"], auto_compact=None)
    assert _asof(spark, tmp_path, 3)[5] == ("e", 5.0)


def test_catalog_load_as_of(spark, tmp_path):
    _travel_history(spark, tmp_path)
    cat = FileCatalog(spark, str(tmp_path), fmt="parquet")
    got = {r["id"] for r in cat.load_as_of("t", 1).collect()}
    assert got == {1, 2, 3}
    assert {r["id"] for r in cat.load("t").collect()} == {2, 3, 4}


def test_as_of_on_epochless_table(spark, tmp_path):
    """A freshly-written table (no committed epochs): epoch 0 serves the
    base; any positive epoch is out of range."""
    dv.merge_files_dv(_df(spark, [(1, "a", 1.0)]), str(tmp_path), "t",
                      "parquet", ["id"])
    assert _asof(spark, tmp_path, 0) == {1: ("a", 1.0)}
    with pytest.raises(ValueError, match="does not exist"):
        _asof(spark, tmp_path, 1)


# ---------------------------------------------------------------------------
# Epoch retention (VERDICT r05 #7): vacuum folds old epochs, keeps recent
# ---------------------------------------------------------------------------

def test_vacuum_retains_recent_epochs(spark, tmp_path):
    _travel_history(spark, tmp_path)  # base + e1 + e2
    dv.merge_files_dv(_df(spark, [(5, "e", 5.0)]), str(tmp_path), "t",
                      "parquet", ["id"], auto_compact=None)  # e3
    before = _view(spark, tmp_path)
    asof3 = _asof(spark, tmp_path, 3)
    folded = dv.vacuum_epochs(spark, str(tmp_path), "t", "parquet",
                              retain_epochs=1)
    assert folded == 2  # e1, e2 folded; e3 retained
    # current view unchanged by the fold
    assert _view(spark, tmp_path) == before
    # the floor epoch (2) serves as the base, retained history replays
    assert _asof(spark, tmp_path, 3) == asof3
    assert _asof(spark, tmp_path, 2) == {2: ("B", 20.0), 3: ("c", 3.0),
                                         4: ("d", 4.0)}
    # folded history refuses with the existing pre-floor error
    for gone in (0, 1):
        with pytest.raises(ValueError, match="compacted"):
            _asof(spark, tmp_path, gone)
    # the retained epoch's files survive; the folded ones are retired
    logs = sorted(p.name for p in
                  (tmp_path / "t.parquet" / "_dvlog").glob("e*.json"))
    assert logs == ["e000003.json"]


def test_vacuum_within_budget_is_a_noop(spark, tmp_path):
    _travel_history(spark, tmp_path)
    before = _view(spark, tmp_path)
    assert dv.vacuum_epochs(spark, str(tmp_path), "t", "parquet",
                            retain_epochs=5) == 0
    assert _view(spark, tmp_path) == before
    assert _asof(spark, tmp_path, 1)[2] == ("B", 20.0)


def test_vacuum_retain_zero_is_full_compaction(spark, tmp_path):
    _travel_history(spark, tmp_path)
    before = _view(spark, tmp_path)
    assert dv.vacuum_epochs(spark, str(tmp_path), "t", "parquet",
                            retain_epochs=0) == 2
    assert _view(spark, tmp_path) == before
    assert not any((tmp_path / "t.parquet" / "_dvlog").glob("e*.json"))


def test_vacuum_then_new_epochs_continue_monotone(spark, tmp_path):
    """Ids never reuse: after a vacuum the next merge continues above the
    raised floor, and time travel to it replays correctly."""
    _travel_history(spark, tmp_path)
    dv.vacuum_epochs(spark, str(tmp_path), "t", "parquet", retain_epochs=1)
    dv.merge_files_dv(_df(spark, [(9, "z", 9.0)]), str(tmp_path), "t",
                      "parquet", ["id"], auto_compact=None)
    assert _asof(spark, tmp_path, 3)[9] == ("z", 9.0)
    assert 9 not in _asof(spark, tmp_path, 2)


def test_vacuum_aborts_retirement_when_publish_rename_fails(
        spark, tmp_path, monkeypatch):
    """Hadoop rename reports failure as a False return; if the publish
    does not land, the folded epochs must NOT be retired — otherwise
    their upserts vanish from the current view (ADVICE r06 medium).
    Simulate the silent failure, assert the abort, then re-run clean."""
    _travel_history(spark, tmp_path)  # base + e1 + e2
    before = _view(spark, tmp_path)
    real = tablefs.hadoop_fs

    class _FailRename:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, a, b):
            return False  # Hadoop-style silent failure, nothing moved

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def patched(df, target):
        jvm, fs, tgt = real(df, target)
        return jvm, _FailRename(fs), tgt

    monkeypatch.setattr(tablefs, "hadoop_fs", patched)
    with pytest.raises(RuntimeError, match="publish did not land"):
        dv.vacuum_epochs(spark, str(tmp_path), "t", "parquet",
                         retain_epochs=1)
    monkeypatch.setattr(tablefs, "hadoop_fs", real)
    # nothing retired, nothing lost: the current view is intact and the
    # epoch history is still replayable above the raised floor
    assert _view(spark, tmp_path) == before
    logs = sorted(p.name for p in
                  (tmp_path / "t.parquet" / "_dvlog").glob("e*.json"))
    assert logs == ["e000001.json", "e000002.json"]
    assert _asof(spark, tmp_path, 2) == before
    # recovery rolled the stage/journal back; a clean re-run completes
    assert not (tmp_path / "t.parquet" / "_binpack.json").exists()
    assert dv.vacuum_epochs(spark, str(tmp_path), "t", "parquet",
                            retain_epochs=1) == 1
    assert _view(spark, tmp_path) == before
