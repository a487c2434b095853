"""Streaming deduplication for unbounded document feeds.

The batch dedup families (operators/dedup.py) assume a bounded corpus;
a training-data INGEST pipeline sees an unbounded stream and must decide
keep/drop per arriving document with bounded state. Two operators:

- :func:`dedup_exact_stream` — drop exact-content re-arrivals: fingerprint
  the content (md5, the same identity as batch ``exact_dedup``) and keep
  the FIRST arrival per fingerprint within the watermark.
- :func:`dedup_simhash_stream` — drop near-duplicate re-arrivals: the
  stateless per-row SimHash (:func:`operators.dedup.simhash_col`, bit-
  identical to the batch fingerprint) is the dedup identity, so hamming-0
  near-dups (reformatted copies, boilerplate variants) collapse too.

Both build on ``dropDuplicatesWithinWatermark``: state holds one entry
per distinct fingerprint seen inside the watermark horizon and is evicted
as event time advances — state is O(distinct docs per watermark window),
NOT O(stream history), which is what makes this safe on an unbounded
100 TB/day feed. The trade, shared with every watermarked dedup: a
duplicate arriving later than the watermark delay re-admits. Size the
delay to the feed's re-delivery horizon; use the batch families for
whole-corpus offline dedup.

Structured Streaming forbids an aggregation upstream of the stateful
dedup, which is why the fingerprints are stateless projections (md5 /
simhash_col), not the batch explode+groupBy shapes.

The at-rest twins (:func:`process_epoch` and :func:`stream_writer` over
:func:`minhash`, :func:`exact`, :func:`cdc`, :func:`semantic`, :func:`span`,
:func:`hll`, :func:`bloom` or :func:`cms`) remember the whole stream instead.
"""

from __future__ import annotations

import os as _os
import time as _time
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

from klepto_spark.operators import (bloom_portable as B, cms_portable as C,
                                    dedup as D, hll_portable as H,
                                    similarity as S, text as T)

FP_COL = "_fp"


def dedup_exact_stream(df: DataFrame, text_col: str = "text",
                       ts_col: str = "ts",
                       delay: str = "1 hour") -> DataFrame:
    """Keep the first arrival per exact content within the watermark."""
    return (df.withColumn(FP_COL, F.md5(F.col(text_col)))
            .withWatermark(ts_col, delay)
            .dropDuplicatesWithinWatermark([FP_COL])
            .drop(FP_COL))


def dedup_simhash_stream(df: DataFrame, text_col: str = "text",
                         ts_col: str = "ts", delay: str = "1 hour",
                         k: int = 4, bits: int = 64) -> DataFrame:
    """Keep the first arrival per SimHash within the watermark —
    hamming-0 near-duplicates (same fingerprint) collapse; the
    fingerprint rides along in ``simhash`` for downstream audit."""
    return (df.withColumn("simhash", D.simhash_col(F.col(text_col), k, bits))
            .withWatermark(ts_col, delay)
            .dropDuplicatesWithinWatermark(["simhash"]))


# ---------------------------------------------------------------------------
# Incremental-index twins: per micro-batch (foreachBatch), each at-rest
# family probes -- and folds into -- its index. Unlike the watermarked
# filters above this remembers the WHOLE accepted stream, not a time
# horizon, with per-batch cost that follows the batch (broadcast probe),
# never the index.
# ---------------------------------------------------------------------------


class Family(NamedTuple):
    """One at-rest family's streaming twin: its ``name`` and the ``scheme``
    every epoch dir of its index is stamped with (the batch writer's
    stamp), ``rows(batch)``, the index rows a batch commits, and its
    output — ``bootstrap(batch, rows)`` with no prior index, else
    ``append(batch, rows, prior)`` over the SORTED prior index paths."""
    name: str
    scheme: dict
    rows: Callable[[DataFrame], DataFrame]
    bootstrap: Callable[[DataFrame, DataFrame], DataFrame]
    append: Callable[[DataFrame, DataFrame, list[str]], DataFrame]


def process_epoch(family: Family, batch_df: DataFrame, epoch_id: int,
                  index_path: str, out_path: str) -> None:
    """One micro-batch of ``family``'s streaming twin, exposed so retry
    idempotence is directly testable: calling this twice with the same
    ``epoch_id`` (what a crash-recovered ``foreachBatch`` does) must
    leave the index and output exactly as a single call would — the
    same epoch probes the same index view (``_prior_index_paths`` pins
    ep < epoch_id) and replaces its own ``ep=<epoch_id>`` dirs."""
    if batch_df.isEmpty():
        # foreachBatch delivers empty micro-batches; writing nothing keeps
        # the replay contract (a retried empty epoch writes nothing too,
        # and no empty ep= dir pollutes the index listing)
        return
    prior = _prior_index_paths(batch_df.sparkSession, index_path, epoch_id)
    rows = family.rows(batch_df)
    out = (family.append(batch_df, rows, prior) if prior
           else family.bootstrap(batch_df, rows))
    # each commit replaces the epoch's own dir on retry, the index last;
    # a direct write (not partitionBy) leaves a schema-bearing file even
    # for zero rows, so the output stays readable while every epoch is
    # empty. The index dir carries the family's scheme stamp, which the
    # next probe of this epoch view checks (at its first entry).
    out.write.mode("overwrite").parquet(f"{out_path}/ep={epoch_id}")
    D.write_index(rows, f"{index_path}/ep={epoch_id}", family.name,
                  family.scheme)


def stream_writer(stream: DataFrame, family: Family, index_path: str,
                  out_path: str, checkpoint: str):
    """A configured ``DataStreamWriter``: call ``.start()`` (or add a
    trigger first) to run ``family`` over ``stream`` against — and into —
    the at-rest index at ``index_path``. Each batch's output appears
    under ``out_path`` partitioned by batch epoch."""
    return (stream.writeStream.foreachBatch(
        lambda batch_df, epoch_id: process_epoch(
            family, batch_df, int(epoch_id), index_path, out_path))
            .option("checkpointLocation", checkpoint))


def minhash(text_col: str = "text", key_col: str = "doc_id", k: int = 5,
            num_hashes: int = 16, bands: int = 4, max_bucket: int = 64,
            per_doc_cap: int | None = None) -> Family:
    """Near-dup pairs (>= one endpoint in the batch) against the band
    index (:func:`operators.dedup.minhash_append`); the batch commits
    its (key, band) rows."""
    return Family(
        "minhash", D._minhash_scheme(key_col, k, num_hashes, bands),
        rows=lambda batch: D.minhash_band_rows(
            batch, text_col, key_col, k, num_hashes, bands),
        bootstrap=lambda batch, _: D.minhash_lsh_pairs(
            batch, text_col, key_col, k, num_hashes, bands, max_bucket,
            per_doc_cap=per_doc_cap),
        append=lambda batch, _, prior: D.minhash_append(
            batch.sparkSession, prior, batch, text_col, key_col, k, num_hashes,
            bands, max_bucket, commit=False, per_doc_cap=per_doc_cap))


def exact(text_col: str = "text", key_col: str = "doc_id",
          prefix_words: int | None = None) -> Family:
    """Exact duplicate pairs (>= one endpoint in the batch) against the
    fingerprint index (:func:`operators.dedup.exact_append`); the batch
    commits its (key, fp) rows."""
    return Family(
        "exact", D._exact_scheme(key_col, prefix_words),
        rows=lambda batch: D.exact_index_rows(batch, text_col, key_col,
                                              prefix_words),
        bootstrap=lambda _, fp: (
            fp.withColumnRenamed(key_col, "a")
            .join(fp.withColumnRenamed(key_col, "b"), "fp")
            .filter(F.col("a") < F.col("b")).select("a", "b")),
        append=lambda batch, _, prior: D.exact_append(
            batch.sparkSession, prior, batch, text_col, key_col,
            prefix_words, commit=False))


def cdc(text_col: str = "text", key_col: str = "doc_id", divisor: int = 8,
        min_shared: int = 2, min_words: int = 3,
        max_bucket: int = 64) -> Family:
    """Shift-resistant CDC near-dup pairs (>= one endpoint in the batch,
    with shared-chunk agreement counts) against the chunk index
    (:func:`operators.dedup.cdc_append`); the batch commits its (key, h)
    chunk-hash rows."""
    return Family(
        "cdc", D._cdc_scheme(key_col, divisor, min_words),
        rows=lambda batch: D.cdc_index_rows(
            batch, text_col, key_col, divisor, min_words),
        bootstrap=lambda batch, _: D.cdc_near_dup_pairs(
            batch, text_col, key_col, divisor, min_shared, min_words,
            max_bucket),
        append=lambda batch, _, prior: D.cdc_append(
            batch.sparkSession, prior, batch, text_col, key_col, divisor,
            min_shared, min_words, max_bucket, commit=False))


def semantic(threshold: float, vec_col: str = "embedding",
             key_col: str = "vec_id", bits: int = 16,
             dim: int | None = None, max_bucket: int = 64) -> Family:
    """Verified cosine pairs (>= one endpoint in the batch) of an
    embedding stream against the signature index
    (:func:`operators.dedup.semantic_append`); the batch commits its
    (key, signature, vector) rows. With ``dim=None`` each batch resolves
    its own width, so the scheme stamp records no dim."""
    return Family(
        "semantic", D._semantic_scheme(key_col, bits, dim),
        rows=lambda batch: D.semantic_index_rows(
            batch, vec_col, key_col, bits, dim),
        bootstrap=lambda batch, _: S.cosine_similar_pairs(
            batch, threshold, vec_col, key_col, bits, dim, max_bucket),
        append=lambda batch, _, prior: D.semantic_append(
            batch.sparkSession, prior, batch, threshold, vec_col, key_col,
            bits, dim, max_bucket, commit=False))


def span(text_col: str = "text", key_col: str = "doc_id", k: int = 8,
         min_count: int = 2) -> Family:
    """Duplicated-span coverage (t18's signal) of each batch against
    everything that arrived AT OR BEFORE it — earlier epochs' stats are
    never restated when later copies arrive; the batch commits its
    (h, cnt) window-count rows. The index stores COUNTS that sum on
    read, so the ep= overwrite is load-bearing: it keeps a replayed
    batch from double-counting its own windows."""
    return Family(
        "span", T._span_scheme(k),
        rows=lambda batch: T._window_counts(
            T._window_grams(batch, text_col, key_col, k)[1]),
        bootstrap=lambda batch, _: T.dup_span_stats(
            batch, text_col, key_col, k, min_count),
        append=lambda batch, _, prior: T.span_append(
            batch.sparkSession, prior, batch, text_col, key_col, k,
            min_count, commit=False))


def hll(value_col: str, group_cols: list[str]) -> Family:
    """Running per-group distinct-count estimates (t06's portable HLL)
    over everything that arrived AT OR BEFORE the batch, bit-identical
    to :func:`hll_distinct_portable` over that union — register maxima
    over disjoint row sets are lossless. The batch commits its (group,
    bucket, rho) register rows. Register merge is MAX, which is
    idempotent: a replayed epoch could not double-count even without the
    epoch-pinned view."""
    return Family(
        "hll", H.SCHEME,
        rows=lambda batch: H.hll_registers(batch, value_col, group_cols),
        bootstrap=lambda _, regs: H._fold_estimate(regs, group_cols),
        append=lambda batch, _, prior: H.hll_append(
            batch.sparkSession, prior, batch, value_col, group_cols,
            commit=False))


def bloom(value_col: str, group_cols: list[str], m: int | None = None,
          k: int | None = None) -> Family:
    """Membership verdicts (t23's portable bits) of each batch value
    against everything that arrived STRICTLY BEFORE the batch, so first
    occurrences report maybe_member=false — bit-identical to
    ``bloom_probe`` over that prior union. The batch commits its
    (group, bloom_bit) rows. The merge is set UNION (distinct-on-read),
    which is idempotent: a replayed epoch cannot change the filter even
    without the epoch-pinned view."""
    m = m or B.M_BITS
    k = k or B.K_HASHES

    def verdicts(batch, bits, prior=()):
        prior_bits = (D.read_index(batch.sparkSession, prior, bits.columns,
                                   "bloom", B.scheme(m, k)).distinct()
                      if prior else bits.limit(0))
        return B.bloom_probe(prior_bits, batch, value_col, group_cols,
                             m=m, k=k)

    return Family("bloom", B.scheme(m, k), lambda batch: B.bloom_bits(
        batch, value_col, group_cols, m, k), verdicts, verdicts)


def cms(value_col: str, group_cols: list[str], w: int | None = None,
        d: int | None = None) -> Family:
    """Frequency estimates (t24's portable count-min counters) of each
    batch value against everything that arrived AT OR BEFORE the batch
    (own occurrences included), bit-identical to ``cms_probe`` over that
    union because counter addition over disjoint row sets is exact. The
    batch commits its (group, cm_row, cm_col, cnt) rows. Counter merge
    is SUM — the span index's hazard — so the ep= overwrite is
    load-bearing: a replayed epoch replaces its own counters instead of
    re-adding them."""
    w = w or C.W_COLS
    d = d or C.D_ROWS

    def probe(batch, counters):
        return C.cms_probe(counters, batch, value_col, group_cols, w=w, d=d)

    return Family(
        "cms", C.scheme(w, d),
        rows=lambda batch: C.cms_counters(batch, value_col, group_cols, w, d),
        bootstrap=lambda batch, counters: probe(
            batch, C.fold_counters(counters, group_cols)),
        append=lambda batch, _, prior: probe(batch, C.cms_append(
            batch.sparkSession, prior, batch, value_col, group_cols,
            commit=False, w=w, d=d)))


# ---------------------------------------------------------------------------
# Epoch compaction (VERDICT r07 #3): the foreachBatch twins append one
# ep=<batch> directory per micro-batch FOREVER -- a year of 1-minute
# batches is ~500k small parquet dirs every probe must list and read.
# compact_index_epochs folds committed epochs below a caller-supplied
# horizon into flat base files, journaled and lease-gated exactly like
# the table-store binpack (sources/catalog.py compact_small_files,
# sinks/deletion_vectors.py vacuum_epochs): a crash at ANY point leaves
# a journal that the next fold -- or the next probe, via the stale-
# journal check in _prior_index_paths -- converges forward or back.
# ---------------------------------------------------------------------------

_FOLD_JOURNAL = "_epochfold.json"
_FOLD_STAGE = "_epfoldstage"
#: journals younger than this are presumed a LIVE concurrent fold
FOLD_LEASE_SEC = 60.0


def _fold_lease() -> float:
    return float(_os.environ.get("KLEPTO_EPOCHFOLD_LEASE_SEC",
                                 FOLD_LEASE_SEC))


def _recover_fold(jvm, fs, root) -> None:
    """Converge a crashed fold. The journal lists old entries (flat base
    files + folded ep dirs) and the new base file names; olds are only
    deleted AFTER every new file landed, so the journal state decides:
    all news present -> roll forward (delete remaining olds); any news
    missing -> roll back (delete partial news, olds intact). Either way
    the journal and stage clear, and probe results are unchanged.
    Shared protocol: :mod:`klepto_spark.sinks.journal`; journal entries
    are names relative to the index root."""
    from klepto_spark.sinks.journal import recover
    P = jvm.org.apache.hadoop.fs.Path
    recover(jvm, fs, root, _FOLD_JOURNAL, _FOLD_STAGE,
            to_path=lambda s: P(root, s))


def _prior_index_paths(spark, index_path: str, epoch_id: int) -> list[str]:
    """The sorted index view epoch ``epoch_id`` probes: every flat base
    entry plus strictly EARLIER ep= dirs. Pinning ep < epoch_id makes a
    replay read the same index no matter what later epochs committed
    before the crash — deterministic retries, not just tolerated ones. A
    STALE fold journal (crashed fold) is converged first so the listing
    never mixes a partial fold's news with the olds they replace; a
    YOUNG journal is a live concurrent fold, left alone (olds serve)."""
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    root = P(index_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    jp = P(root, _FOLD_JOURNAL)
    if fs.exists(jp):
        age = _time.time() - fs.getFileStatus(jp).getModificationTime() / 1e3
        if age >= _fold_lease():
            _recover_fold(jvm, fs, root)
    return sorted(path for path, ep in _entries(fs, root).values()
                  if ep is None or ep < epoch_id)


def _entries(fs, root) -> dict[str, tuple[str, int | None]]:
    """Index entries by name, ``_`` bookkeeping skipped: (path, epoch of
    an ``ep=<n>`` dir, or None for a flat base entry)."""
    out = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("_"):
            try:
                ep = int(name[3:]) if name.startswith("ep=") else None
            except ValueError:
                ep = None
            out[name] = (str(st.getPath()), ep)
    return out


def compact_index_epochs(spark, index_path: str,
                         max_epoch_exclusive: int) -> int:
    """Fold committed ``ep=<batch>`` dirs below ``max_epoch_exclusive``
    into the OLDEST folded epoch's directory; returns epoch dirs folded.

    The fold target stays an ``ep=`` dir (never flat files at the root)
    so the index remains readable as one partitioned table — the mixed
    layout the batch-commit guard refuses is never created. The ``ep``
    value of folded rows becomes the oldest folded epoch: that column is
    the index's commit/probe mechanism, not data lineage, and every
    probing epoch e >= the horizon satisfies e > oldest-folded, so the
    folded rows stay in exactly the views that saw them before.

    ``max_epoch_exclusive`` must not exceed the stream's committed
    horizon (the checkpoint's last committed batch id + 1): a replay of
    an IN-FLIGHT epoch e >= the horizon probes the identical view after
    the fold — probe results are byte-identical (pytest-pinned). What
    changes is the file count: O(batches) small dirs become one bounded
    dir, the difference between a listing that takes milliseconds and
    one that dominates every probe at year-scale. Refolding rewrites
    the previous fold's rows (classic log-structured compaction cost) —
    amortise by raising the horizon in large steps.

    Journaled + lease-gated: a journal younger than
    ``KLEPTO_EPOCHFOLD_LEASE_SEC`` (default 60s) means a concurrent fold
    owns the root — this call raises instead of racing it. A stale
    journal is recovered (forward or back, decided by which files
    landed) before folding. Olds retire only after every new file is in
    place, so a crash at any point leaves duplicates at worst, never a
    missing epoch."""
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    root = P(index_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return 0
    jp = P(root, _FOLD_JOURNAL)
    if fs.exists(jp):
        age = _time.time() - fs.getFileStatus(jp).getModificationTime() / 1e3
        if age < _fold_lease():
            raise RuntimeError(
                f"epoch fold already in flight at {index_path!r} "
                f"(journal {age:.0f}s old < lease {_fold_lease():.0f}s); "
                "retry after the lease, or raise "
                "KLEPTO_EPOCHFOLD_LEASE_SEC if this journal is yours")
        _recover_fold(jvm, fs, root)
    # adopted flat base / _meta entries are not this fold's business
    folded = {ep: name for name, (_, ep) in _entries(fs, root).items()
              if ep is not None and ep < max_epoch_exclusive}
    if len(folded) < 2:
        return 0  # nothing to merge
    dest = folded[min(folded)]
    union = spark.read.parquet(
        *[str(P(root, folded[e])) for e in sorted(folded)])
    stage = P(root, _FOLD_STAGE)
    if fs.exists(stage):
        fs.delete(stage, True)
    # coalesce (no shuffle): each output task drains many small inputs;
    # the cap bounds the folded dir's file count independent of how
    # many epochs went in
    union.coalesce(min(len(folded), 32)).write.mode("overwrite").parquet(
        str(stage))
    staged = [st.getPath() for st in fs.listStatus(stage)
              if st.getPath().getName().endswith(".parquet")]
    # olds: every folded dir EXCEPT the destination, plus the
    # destination's own pre-fold data files (the fold files replace
    # them in place); news land inside the destination dir
    dest_files = [f"{dest}/{st.getPath().getName()}"
                  for st in fs.listStatus(P(root, dest))
                  if st.getPath().getName().endswith(".parquet")]
    olds = [folded[e] for e in sorted(folded) if folded[e] != dest]
    olds += dest_files
    news = [f"{dest}/fold-{max_epoch_exclusive}-{i}-{p.getName()}"
            for i, p in enumerate(staged)]
    from klepto_spark.sinks.journal import publish_renames, write_plan
    write_plan(fs, jp, olds, news)
    # Lease-expiry race guard: if the rename phase outlives the journal
    # lease (object-store copies, GC pause), a concurrent probe's
    # _recover_fold may converge the root while this loop keeps
    # renaming. The shared helper re-checks the journal after each
    # rename and reads the OLDS to decide which way the peer went:
    # roll-forward (olds gone) means the fold is already published and
    # the news must stand; roll-back (olds intact) means this fold's
    # landed files are orphans to remove before raising (ADVICE r08
    # high: deleting news after a peer's roll-forward destroyed both
    # copies).
    outcome = publish_renames(
        jvm, fs, root, _FOLD_JOURNAL, lambda s: P(root, s),
        staged, news, olds,
        lost_journal_msg=(
            f"compact_index_epochs: journal at {index_path!r} "
            "disappeared mid-publish (a concurrent recovery rolled the "
            "fold back after the lease expired); this fold's files were "
            "removed and the pre-fold layout stands — raise "
            "KLEPTO_EPOCHFOLD_LEASE_SEC above the worst-case publish "
            "time and re-run"))
    if outcome == "renamed":
        # converge from the post-rename state: all news present -> the
        # olds retire and the journal clears; anything less rolls back
        _recover_fold(jvm, fs, root)
    if not all(fs.exists(P(root, n)) for n in news):
        raise RuntimeError(
            f"compact_index_epochs: publish did not land at "
            f"{index_path!r} (rename failed); the pre-fold layout was "
            "kept — re-run compact_index_epochs")
    return len(folded)
