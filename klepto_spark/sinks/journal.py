"""Shared journaled-publish protocol.

One implementation of the stage → journal → rename-in → retire-olds
publish used by three storage mutations that previously carried
near-twin private copies (a crash-safety fix in one did not reach the
others — VERDICT r08 #3):

* bin-pack compaction (``sinks/layout.py``),
* merge-on-read vacuum (``sinks/deletion_vectors.py``),
* streaming dedup-index epoch folds (``streaming/dedup.py``).

All three publish through :func:`klepto_spark.sinks.tablefs.publish_staged`
and converge through :func:`klepto_spark.sinks.tablefs.recover_publish`,
each with its own journal and stage names; the journal is a JSON sidecar
read and written through :mod:`klepto_spark.sinks.tablefs`, which
settles a file-sink table's bin-pack publish whenever a mutation opens
the table.

Protocol: stage the replacement files, write a ``{olds, news}`` journal,
rename the news into place, and only then delete the olds — olds retire
strictly AFTER every new file landed, so a crash at any point is
convergent via :func:`recover`:

* journal present + all news present → roll FORWARD (delete olds);
* journal present + any news missing → roll BACK (delete partial news).

Either way the journal and stage clear, and readers see duplicates at
worst, never a missing row.

The publish side re-checks the journal after every rename
(:func:`publish_renames`): if a concurrent recovery claimed the root
after its lease expired, the journal is gone mid-loop. Which way that
recovery converged decides ours — roll-forward deletes olds BEFORE the
journal, so any missing old proves the publish is already live and the
news must stand (returning ``"published"``); only when every old is
verifiably intact did the recovery roll back, making our landed files
orphans to remove before raising (ADVICE r08 high: the previous guard
deleted the news unconditionally, destroying BOTH copies after a
concurrent roll-forward).
"""
from __future__ import annotations

from typing import Callable, Optional

from klepto_spark.sinks.tablefs import drop, read_json, write_json

__all__ = ["read_plan", "write_plan", "recover", "publish_renames"]


def read_plan(jvm, fs, jp) -> dict:
    """Parse a ``{olds, news}`` journal at Hadoop path ``jp``."""
    return read_json(jvm, fs, jp)


def write_plan(fs, jp, olds: list[str], news: list[str]) -> None:
    """Write the ``{olds, news}`` journal (overwrites)."""
    write_json(fs, jp, {"olds": olds, "news": news})


def recover(jvm, fs, root, journal_name: str, stage_name: str,
            to_path: Callable[[str], object],
            on_change: Optional[Callable[[], None]] = None,
            clean_stage_without_journal: bool = False) -> str:
    """Converge a crashed journaled publish at ``root``.

    ``to_path`` maps a journal entry (relative name or absolute string,
    the caller's convention) to a Hadoop ``Path``. ``on_change`` runs
    once when a journal existed (either branch changed the table's file
    set — e.g. stand a min/max manifest down). Returns ``"none"``
    (no journal), ``"forward"`` or ``"back"``.
    """
    P = jvm.org.apache.hadoop.fs.Path
    jp = P(root, journal_name)
    stage = P(root, stage_name)
    if not fs.exists(jp):
        if clean_stage_without_journal:
            drop(fs, stage)
        return "none"
    plan = read_plan(jvm, fs, jp)
    news = [to_path(n) for n in plan["news"]]
    if news and all(fs.exists(p) for p in news):
        outcome = "forward"
        drop(fs, *(to_path(name) for name in plan["olds"]))
    else:
        outcome = "back"
        drop(fs, *news)
    drop(fs, stage)
    if on_change is not None:
        on_change()
    fs.delete(jp, False)
    return outcome


def publish_renames(jvm, fs, root, journal_name: str,
                    to_path: Callable[[str], object],
                    staged: list, news: list[str], olds: list[str],
                    lost_journal_msg: str) -> str:
    """Rename ``staged[i]`` → ``to_path(news[i])`` under an existing
    journal, re-checking the journal after each rename.

    Returns ``"renamed"`` on the normal path. If the journal disappears
    mid-loop (a concurrent recovery claimed the root after the lease
    expired), the olds decide the outcome: any old already gone means
    that recovery rolled FORWARD — the publish is live, the news stand,
    and this returns ``"published"``; all olds intact means it rolled
    BACK — this fold's landed files are orphans, removed here before
    raising ``RuntimeError(lost_journal_msg)``.
    """
    P = jvm.org.apache.hadoop.fs.Path
    jp = P(root, journal_name)
    for sp, n in zip(staged, news):
        fs.rename(sp, to_path(n))
        if not fs.exists(jp):
            if olds and any(not fs.exists(to_path(o)) for o in olds):
                # Roll-forward deletes olds before the journal: a
                # missing old proves every new file had landed and the
                # concurrent recovery completed THIS publish. The news
                # are the only copy now — leave them.
                return "published"
            if not olds and all(fs.exists(to_path(n2)) for n2 in news):
                # With ZERO olds (e.g. vacuum over an empty base) the
                # olds give no signal — but a roll-BACK deletes every
                # news it finds before clearing the journal, so all
                # news present proves the recovery rolled FORWARD (or
                # this loop out-renamed a roll-back that saw nothing,
                # which converges to the same published file set)
                # (ADVICE r09).
                return "published"
            drop(fs, *(to_path(n2) for n2 in news))
            raise RuntimeError(lost_journal_msg)
    return "renamed"
