"""Shared journaled-publish protocol (klepto_spark/sinks/journal.py).

One implementation now backs bin-pack compaction, merge-on-read vacuum,
and streaming dedup-index epoch folds (VERDICT r08 #3). The tests here:

* the ADVICE r08 HIGH fix: a journal that disappears mid-publish because
  a concurrent recovery rolled the fold FORWARD must leave the news
  standing (they are the only copy) — the old guard deleted them,
  destroying both copies;
* a parametrized crash matrix over all three production call sites:
  a publish killed BEFORE the news landed rolls back (olds intact),
  killed AFTER rolls forward (olds retired) — in both cases the
  readable view is unchanged and the journal clears;
* the fold site's lease legs: a live (young) journal refuses, a stale
  one is recovered.
"""

import json
import os
import shutil

import pytest


def _hfs(spark, path):
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    root = P(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, P, fs, root


# ---------------------------------------------------------------------------
# ADVICE r08 high: journal lost mid-publish — olds decide the outcome
# ---------------------------------------------------------------------------

def test_publish_renames_peer_roll_forward_keeps_news(spark, tmp_path):
    """All news had landed, a concurrent recovery rolled FORWARD (olds
    then journal deleted). The publisher's guard must recognise the fold
    as published and leave the news — the only remaining copy — alone."""
    from klepto_spark.sinks.journal import publish_renames
    jvm, P, fs, root = _hfs(spark, str(tmp_path))
    (tmp_path / "n0.parquet").write_bytes(b"the only copy")
    # no journal, no olds (peer retired them), news landed
    out = publish_renames(
        jvm, fs, root, "_j.json", lambda s: P(root, s),
        staged=[P(root, "_stage/s0.parquet")],  # already renamed earlier
        news=["n0.parquet"], olds=["old0.parquet"],
        lost_journal_msg="boom")
    assert out == "published"
    assert (tmp_path / "n0.parquet").read_bytes() == b"the only copy"


def test_publish_renames_peer_roll_back_removes_orphans(spark, tmp_path):
    """Olds verifiably intact means the concurrent recovery rolled BACK:
    the publisher's landed files are orphans no journal references —
    removed before raising, pre-publish layout stands."""
    from klepto_spark.sinks.journal import publish_renames
    jvm, P, fs, root = _hfs(spark, str(tmp_path))
    (tmp_path / "old0.parquet").write_bytes(b"pre-publish copy")
    (tmp_path / "n0.parquet").write_bytes(b"orphan")
    with pytest.raises(RuntimeError, match="boom"):
        publish_renames(
            jvm, fs, root, "_j.json", lambda s: P(root, s),
            staged=[P(root, "_stage/s0.parquet")],
            news=["n0.parquet"], olds=["old0.parquet"],
            lost_journal_msg="boom")
    assert (tmp_path / "old0.parquet").exists()
    assert not (tmp_path / "n0.parquet").exists()


def test_recover_outcomes_and_on_change(spark, tmp_path):
    from klepto_spark.sinks.journal import recover
    jvm, P, fs, root = _hfs(spark, str(tmp_path))
    calls = []
    kw = dict(journal_name="_j.json", stage_name="_stg",
              to_path=lambda s: P(root, s),
              on_change=lambda: calls.append(1))
    assert recover(jvm, fs, root, **kw) == "none"
    assert calls == []  # nothing changed, manifest callback not invoked

    # forward: all news present -> olds retired, stage + journal cleared
    (tmp_path / "old.parquet").write_bytes(b"o")
    (tmp_path / "new.parquet").write_bytes(b"n")
    (tmp_path / "_stg").mkdir()
    (tmp_path / "_j.json").write_text(json.dumps(
        {"olds": ["old.parquet"], "news": ["new.parquet"]}))
    assert recover(jvm, fs, root, **kw) == "forward"
    assert not (tmp_path / "old.parquet").exists()
    assert (tmp_path / "new.parquet").exists()
    assert not (tmp_path / "_stg").exists()
    assert not (tmp_path / "_j.json").exists()
    assert calls == [1]

    # back: any news missing -> partial news dropped, olds intact
    (tmp_path / "old.parquet").write_bytes(b"o")
    (tmp_path / "partial.parquet").write_bytes(b"p")
    (tmp_path / "_j.json").write_text(json.dumps(
        {"olds": ["old.parquet"],
         "news": ["partial.parquet", "never.parquet"]}))
    assert recover(jvm, fs, root, **kw) == "back"
    assert (tmp_path / "old.parquet").exists()
    assert not (tmp_path / "partial.parquet").exists()
    assert calls == [1, 1]


# ---------------------------------------------------------------------------
# Crash matrix over the three production call sites (VERDICT r08 #3)
# ---------------------------------------------------------------------------

def _setup_binpack(spark, tmp_path):
    """Plain parquet table; recovery entry = compact_small_files (its
    first act), target_mb=0 so the subsequent pack is a no-op."""
    d = tmp_path / "bt"
    target = d / "t.parquet"
    spark.range(0, 100).selectExpr("id", "id * 2 as v") \
        .repartition(3).write.parquet(str(target))

    def view():
        return sorted((r.id, r.v) for r in
                      spark.read.parquet(str(target)).collect())

    def recover_entry():
        from klepto_spark.sinks.layout import compact_small_files
        compact_small_files(spark, str(d), "t", target_mb=0)

    files = sorted(str(p) for p in target.glob("part-*.parquet"))
    return str(target), "_binpack.json", files, view, recover_entry, True


def _setup_vacuum(spark, tmp_path):
    """Merge-on-read table; recovery entry = vacuum_epochs within
    budget (recovers, then folds nothing)."""
    from klepto_spark.sinks import deletion_vectors as dv
    d = tmp_path / "vt"
    df = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)],
                               "id long, name string, v double")
    dv.merge_files_dv(df, str(d), "t", "parquet", ["id"])
    target = d / "t.parquet"

    def view():
        return sorted((r.id, r.name, r.v) for r in dv.read_files_dv(
            spark, str(d), "t", "parquet").collect())

    def recover_entry():
        dv.vacuum_epochs(spark, str(d), "t", "parquet", retain_epochs=5)

    files = sorted(str(p) for p in target.glob("part-*.parquet"))
    return str(target), "_binpack.json", files, view, recover_entry, True


def _setup_fold(spark, tmp_path):
    """Epoch-partitioned dedup index; recovery entry =
    compact_index_epochs at a horizon that folds nothing (lease 0 is
    set by the caller)."""
    from klepto_spark.streaming.dedup import (compact_index_epochs, minhash,
                                              process_epoch)
    idx = tmp_path / "fidx"
    pairs = tmp_path / "fpairs"
    schema = "doc_id bigint, text string"
    rows = [(i, f"doc body number {i} with shared words") for i in range(20)]
    process_epoch(minhash(), spark.createDataFrame(rows, schema), 0,
                  str(idx), str(pairs))

    def view():
        return sorted(map(tuple, spark.read.parquet(str(idx)).collect()))

    def recover_entry():
        compact_index_epochs(spark, str(idx), 1)

    files = sorted(str(p) for p in (idx / "ep=0").glob("*.parquet"))
    return str(idx), "_epochfold.json", files, view, recover_entry, False


_SITES = {"binpack": _setup_binpack, "vacuum": _setup_vacuum,
          "fold": _setup_fold}


@pytest.mark.parametrize("site", sorted(_SITES))
@pytest.mark.parametrize("crash", ["before_news", "after_news"])
def test_crash_matrix_converges(spark, tmp_path, monkeypatch, site, crash):
    """A publish killed BEFORE its news landed rolls back (olds intact);
    killed AFTER, it rolls forward (olds retired, news serve). Either
    way the readable view is unchanged and the journal clears. Runs
    through each site's own production recovery entry point."""
    monkeypatch.setenv("KLEPTO_EPOCHFOLD_LEASE_SEC", "0")  # stale lease
    root, journal, files, view, recover_entry, absolute = \
        _SITES[site](spark, tmp_path)
    expected = view()
    victim = files[0]
    rel_victim = os.path.relpath(victim, root)
    new_name = (f"{os.path.dirname(rel_victim)}/jx-crash.parquet"
                if os.path.dirname(rel_victim) else "jx-crash.parquet")
    if crash == "after_news":
        shutil.copy(victim, os.path.join(root, new_name))
    if absolute:
        olds, news = [victim], [os.path.join(root, new_name)]
    else:
        olds, news = [rel_victim], [new_name]
    with open(os.path.join(root, journal), "w") as fh:
        json.dump({"olds": olds, "news": news}, fh)

    recover_entry()

    assert not os.path.exists(os.path.join(root, journal))
    assert view() == expected
    if crash == "after_news":  # rolled forward: old retired, new serves
        assert not os.path.exists(victim)
        assert os.path.exists(os.path.join(root, new_name))
    else:  # rolled back: old intact, phantom new never landed
        assert os.path.exists(victim)
        assert not os.path.exists(os.path.join(root, new_name))


def test_fold_live_lease_refuses(spark, tmp_path):
    """The fold site is lease-gated: a YOUNG journal is a live
    concurrent fold and compaction refuses rather than racing it."""
    from klepto_spark.streaming.dedup import compact_index_epochs
    root, journal, files, view, recover_entry, _ = _setup_fold(
        spark, tmp_path)
    with open(os.path.join(root, journal), "w") as fh:
        json.dump({"olds": [], "news": ["never.parquet"]}, fh)
    with pytest.raises(RuntimeError, match="in flight"):
        compact_index_epochs(spark, root, 1)


# ---------------------------------------------------------------------------
# ADVICE r09 low: with ZERO olds (vacuum over an empty base) the olds give
# no roll-forward/roll-back signal — the news themselves decide.
# ---------------------------------------------------------------------------

def test_publish_renames_empty_olds_all_news_present_is_published(
        spark, tmp_path):
    """Empty olds + every new file present: a roll-BACK would have
    deleted the news it found, so the concurrent recovery rolled
    FORWARD — the publish is live, the news must stand."""
    from klepto_spark.sinks.journal import publish_renames
    jvm, P, fs, root = _hfs(spark, str(tmp_path))
    (tmp_path / "n0.parquet").write_bytes(b"the only copy")
    out = publish_renames(
        jvm, fs, root, "_j.json", lambda s: P(root, s),
        staged=[P(root, "_stage/s0.parquet")],  # already renamed earlier
        news=["n0.parquet"], olds=[],
        lost_journal_msg="boom")
    assert out == "published"
    assert (tmp_path / "n0.parquet").read_bytes() == b"the only copy"


def test_publish_renames_empty_olds_partial_news_rolls_back(
        spark, tmp_path):
    """Empty olds + a missing new file proves a roll-BACK deleted it:
    the files this fold landed afterwards are orphans — removed before
    raising, exactly like the nonempty-olds branch."""
    from klepto_spark.sinks.journal import publish_renames
    jvm, P, fs, root = _hfs(spark, str(tmp_path))
    (tmp_path / "_stage").mkdir()
    (tmp_path / "_stage" / "s0.parquet").write_bytes(b"first")
    (tmp_path / "_stage" / "s1.parquet").write_bytes(b"second")
    # the peer's roll-back ran BEFORE any rename landed (journal gone,
    # no news yet): after this fold renames s0 -> n0 it must see n1
    # still missing, recognise the roll-back, and remove its own
    # just-landed n0 as an orphan before raising
    with pytest.raises(RuntimeError, match="boom"):
        publish_renames(
            jvm, fs, root, "_j.json", lambda s: P(root, s),
            staged=[P(root, "_stage/s0.parquet"),
                    P(root, "_stage/s1.parquet")],
            news=["n0.parquet", "n1.parquet"], olds=[],
            lost_journal_msg="boom")
    assert not (tmp_path / "n0.parquet").exists()
    assert not (tmp_path / "n1.parquet").exists()
