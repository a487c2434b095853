"""Command-line interface — the ``klepto`` UX on Spark.

Mirrors the reference's cobra commands (reference: cmd/root.go:31-45,
cmd/init.go:27-47, cmd/steal.go:40-135) minus ``update`` (pip distributes
this package; SURVEY §3.3 marks the self-updater as not portable).

    python -m klepto_spark init [--path .klepto.toml]
    python -m klepto_spark steal --from parquet:///data/src \\
        --to parquet:///data/out [--config .klepto.toml] \\
        [--concurrency N] [--data-only] [--permissive] [--seed S] \\
        [--join-strategy semi|inner]
    python -m klepto_spark steal-incremental --from DSN --to DSN \\
        --state marks.json --watermark TABLE=COLUMN [...] \\
        [--concurrency N] [--watermarked-only] [shared steal flags]
    python -m klepto_spark steal-cdc --from DSN --to DSN \\
        --state marks.json --cdc TABLE=MARK_COL:KEY[,KEY...] [...] \\
        [--tombstone TABLE=SQL_EXPR] [--sync-deletes] \\
        [--partition-buckets N] [--merge-on-read] [shared steal flags]

The three steal commands share ``--from --to --config --permissive
--seed --join-strategy``, one setup path and one JSON run report.
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import asdict
from pathlib import Path


def _cmd_init(args: argparse.Namespace) -> int:
    from klepto_spark.config import write_sample
    try:
        write_sample(args.path)
    except FileExistsError:
        print(f"refusing to overwrite existing {args.path}", file=sys.stderr)
        return 1
    print(f"wrote sample config to {args.path}")
    return 0


def _run_steal(args: argparse.Namespace, steal_fn, **kwargs) -> int:
    """The shared steal path: spec, session and source from the shared
    flags, one ``steal_fn`` run, and its JSON report."""
    from klepto_spark.config import Spec, load_spec
    from klepto_spark.session import get_spark
    from klepto_spark.sources.catalog import connect

    spec = load_spec(args.config) if args.config else Spec()
    app = f"klepto_spark_{args.command}".replace("-", "_")
    spark = get_spark(app_name=app)
    spark.sparkContext.setLogLevel("WARN")
    source = connect(spark, getattr(args, "from"))
    try:
        report = steal_fn(spec, source, args.to, strict=not args.permissive,
                          join_strategy=args.join_strategy, seed=args.seed,
                          **kwargs)
    except RuntimeError as exc:
        print(str(exc), file=sys.stderr)
        return 1
    # run report (reference logs total_time at cmd/steal.go:126-132)
    print(json.dumps({
        "tables": {t.table: {k: v for k, v in asdict(t).items()
                             if k != "table"}
                   for t in report.tables},
        "total_seconds": report.seconds,
        "ok": report.ok,
    }))
    return 0 if report.ok else 1


def _cmd_steal(args: argparse.Namespace) -> int:
    from klepto_spark.engine import steal
    return _run_steal(args, steal, concurrency=args.concurrency,
                      data_only=args.data_only)


def _cmd_steal_incremental(args: argparse.Namespace) -> int:
    from klepto_spark.incremental import steal_incremental

    watermarks = {}
    for item in args.watermark:
        try:
            table, col = item.split("=", 1)
        except ValueError:
            print(f"bad --watermark {item!r} (want table=column)",
                  file=sys.stderr)
            return 2
        watermarks[table] = col
    return _run_steal(args, steal_incremental, state_path=args.state,
                      watermarks=watermarks, concurrency=args.concurrency,
                      copy_others=not args.watermarked_only)


def _cmd_steal_cdc(args: argparse.Namespace) -> int:
    from klepto_spark.incremental import CdcTable, steal_cdc

    tables: dict[str, CdcTable] = {}
    for item in args.cdc:
        # TABLE=MARK_COL:KEY[,KEY...] — e.g. users=updated_at:id
        try:
            table, rest = item.split("=", 1)
            mark_col, keys = rest.split(":", 1)
            key_list = [k for k in keys.split(",") if k]
            if not key_list:
                raise ValueError
        except ValueError:
            print(f"bad --cdc {item!r} (want TABLE=MARK_COL:KEY[,KEY...])",
                  file=sys.stderr)
            return 2
        tables[table] = CdcTable(
            mark_col=mark_col, keys=key_list,
            tombstone=args.tombstone.get(table) if args.tombstone else None,
            sync_deletes=args.sync_deletes,
            partition_buckets=args.partition_buckets,
            merge_on_read=args.merge_on_read)
    # a --tombstone naming a table not under --cdc is a silent no-op
    # (soft deletes would merge as live rows forever) — fail loudly
    orphaned = set(args.tombstone or {}) - set(tables)
    if orphaned:
        print(f"--tombstone names tables not in --cdc: {sorted(orphaned)}",
              file=sys.stderr)
        return 2
    return _run_steal(args, steal_cdc, state_path=args.state, tables=tables)


def _cmd_compact(args: argparse.Namespace) -> int:
    """Fold a merge-on-read table's pending deletion-vector epochs into
    its base files (the operational knob behind
    ``steal-cdc --merge-on-read``'s auto-compaction)."""
    from klepto_spark.session import get_spark
    from klepto_spark.sinks import deletion_vectors as dv
    from klepto_spark.sources.dsn import file_path, route

    kind, fmt, dsn = route(getattr(args, "target"))
    if kind != "files":
        print(f"compact needs a file-sink dsn, got {args.target!r}",
              file=sys.stderr)
        return 2
    spark = get_spark(app_name="klepto_spark_compact")
    spark.sparkContext.setLogLevel("WARN")
    directory = file_path(dsn)
    from klepto_spark.sinks import positional_dv as pdv
    out = {}
    for table in args.table:
        entry = {}
        pending = dv.pending_epochs(spark, directory, table, fmt)
        # positional epochs fold FIRST in every path: the key-epoch fold
        # rewrites base files, which would turn pending positional
        # addresses into silent no-ops (lost deletes)
        rewritten = (pdv.compact_files_pdv(spark, directory, table, fmt)
                     if pdv.has_pending_pdv(spark, directory, table, fmt)
                     else 0)
        # then key epochs, so after this point every live row IS a base
        # row — required before --delete-where runs, whose predicate only
        # addresses base rows (a row living in a pending epoch would
        # escape the delete and be folded back in as live)
        retain = getattr(args, "retain_epochs", 0) or 0
        if retain and getattr(args, "delete_where", None):
            print("--retain-epochs cannot combine with --delete-where "
                  "(the physical delete needs a fully-settled base)",
                  file=sys.stderr)
            return 2
        folded = (dv.vacuum_epochs(spark, directory, table, fmt, retain)
                  if pending else 0)
        if getattr(args, "delete_where", None):
            # DELETE WHERE as a physical op: record positions against the
            # settled base, then rewrite just the hit files
            entry["positions_recorded"] = pdv.positional_delete(
                spark, directory, table, fmt, predicate=args.delete_where)
            rewritten += (
                pdv.compact_files_pdv(spark, directory, table, fmt)
                if pdv.has_pending_pdv(spark, directory, table, fmt)
                else 0)
        entry["files_rewritten"] = rewritten
        entry.update({"pending_epochs": len(pending), "folded": folded})
        out[table] = entry
    print(json.dumps({"tables": out, "ok": True}))
    return 0


def _cmd_optimize(args: argparse.Namespace) -> int:
    """OPTIMIZE: cluster a table's files so range predicates skip whole
    files (sinks/layout.py); atomic-swap publish."""
    from klepto_spark.session import get_spark
    from klepto_spark.sinks.layout import optimize_table
    from klepto_spark.sources.dsn import file_path, route

    kind, fmt, dsn = route(getattr(args, "target"))
    if kind != "files":
        print(f"optimize needs a file-sink dsn, got {args.target!r}",
              file=sys.stderr)
        return 2
    zcols = args.zorder_by.split(",") if args.zorder_by else None
    scols = args.sort_by.split(",") if args.sort_by else None
    if args.bin_pack and (zcols or scols):
        print("--bin-pack and --zorder-by/--sort-by are exclusive",
              file=sys.stderr)
        return 2
    spark = get_spark(app_name="klepto_spark_optimize")
    spark.sparkContext.setLogLevel("WARN")
    directory = file_path(dsn)
    out = {}
    for table in args.table:
        if args.bin_pack:
            from klepto_spark.sinks.layout import compact_small_files
            folded = compact_small_files(spark, directory, table, fmt,
                                         target_mb=args.target_mb)
            out[table] = {"small_files_folded": folded}
        else:
            n = optimize_table(spark, directory, table, fmt,
                               zorder_by=zcols, sort_by=scols,
                               n_files=args.files)
            out[table] = {"files": n,
                          "clustered_by": ",".join(zcols or scols)}
    print(json.dumps({"tables": out, "ok": True}))
    return 0


class _TombstoneAction(argparse.Action):
    """--tombstone TABLE=SQL_EXPR (repeatable) -> dict on the namespace."""

    def __call__(self, parser, namespace, value, option_string=None):
        d = getattr(namespace, self.dest, None) or {}
        try:
            table, expr = value.split("=", 1)
        except ValueError:
            parser.error(f"bad {option_string} {value!r} "
                         "(want TABLE=SQL_EXPR)")
        d[table] = expr
        setattr(namespace, self.dest, d)


def _cmd_snapshot(args: argparse.Namespace) -> int:
    """Export a merge-on-read table exactly as it stood after a given
    committed epoch (``FileCatalog.load_as_of``) — the audit/compliance
    read: reproduce what a past release shipped without having copied
    anything at the time."""
    from klepto_spark.session import get_spark
    from klepto_spark.sources.catalog import FileCatalog
    from klepto_spark.sources.dsn import file_path, route

    kind, fmt, dsn = route(args.source)
    if kind != "files":
        print(f"snapshot needs a file dsn, got {args.source!r}",
              file=sys.stderr)
        return 2
    okind, ofmt, odsn = route(args.out)
    if okind != "files":
        print(f"snapshot --out needs a file dsn, got {args.out!r}",
              file=sys.stderr)
        return 2
    spark = get_spark(app_name="klepto_spark_snapshot")
    spark.sparkContext.setLogLevel("WARN")
    cat = FileCatalog(spark, file_path(dsn), fmt=fmt)
    out = {}
    for table in args.table:
        try:
            df = cat.load_as_of(table, args.epoch)
        except ValueError as exc:
            print(str(exc), file=sys.stderr)
            return 3
        dest = str(Path(file_path(odsn)) / f"{table}.{ofmt}")
        df.write.mode("overwrite").format(ofmt).save(dest)
        out[table] = {"rows": spark.read.format(ofmt).load(dest).count(),
                      "epoch": args.epoch, "path": dest}
    print(json.dumps({"tables": out, "ok": True}))
    return 0


def _cmd_history(args: argparse.Namespace) -> int:
    """List a merge-on-read table's committed epochs and its time-travel
    floor — what ``snapshot --epoch`` can still serve."""
    from klepto_spark.session import get_spark
    from klepto_spark.sinks import deletion_vectors as dv
    from klepto_spark.sinks.tablefs import hadoop_fs, table_path
    from klepto_spark.sources.dsn import file_path, route

    kind, fmt, dsn = route(args.source)
    if kind != "files":
        print(f"history needs a file dsn, got {args.source!r}",
              file=sys.stderr)
        return 2
    spark = get_spark(app_name="klepto_spark_history")
    spark.sparkContext.setLogLevel("WARN")
    directory = file_path(dsn)
    out = {}
    for table in args.table:
        epochs = dv.pending_epochs(spark, directory, table, fmt)
        meta = dv.load_dv_meta(*hadoop_fs(
            spark, table_path(directory, table, fmt)))
        floor = (meta or {}).get("base_epoch", 0)
        if epochs:
            floor = max(floor, epochs[0]["id"] - 1)
        out[table] = {
            "floor": floor,
            "newest": epochs[-1]["id"] if epochs else floor,
            "epochs": [{"id": e["id"], "delta_rows": e["delta_rows"],
                        "dv_rows": e["dv_rows"]} for e in epochs],
        }
    print(json.dumps({"tables": out, "ok": True}))
    return 0


def _cmd_dedup_index(args: argparse.Namespace) -> int:
    """Build or incrementally probe/fold the at-rest dedup indexes — the
    CLI face of the exact/minhash/semantic incremental matrix
    (operators/dedup.py exact_append / minhash_append / semantic_append).
    ``build`` writes the corpus index once; each later ``append`` dedups
    a new batch against it at O(batch) cost, never re-reading the
    corpus, and (unless --no-commit) folds the batch in for the next
    run."""
    from klepto_spark.operators import dedup as D
    from klepto_spark.session import get_spark

    if args.action == "build" and not args.source:
        print("dedup-index build needs --source", file=sys.stderr)
        return 2
    if args.action == "append" and not args.batch:
        print("dedup-index append needs --batch", file=sys.stderr)
        return 2
    spark = get_spark(app_name="klepto_spark_dedup_index")
    spark.sparkContext.setLogLevel("WARN")
    mode, idx = args.mode, args.index
    # the family's parameters from the flags; its write stamps the scheme
    # they make at build and commits under it in append mode, and its
    # append refuses a scheme other than the stamped one (operators/
    # dedup.py write_index / read_index / commit_index)
    params = {
        "exact": dict(text_col=args.text, key_col=args.key,
                      prefix_words=args.prefix_words),
        "minhash": dict(text_col=args.text, key_col=args.key, k=args.k,
                        num_hashes=args.num_hashes, bands=args.bands),
        "semantic": dict(vec_col=args.vec, key_col=args.key, bits=args.bits,
                         dim=args.dim)}[mode]
    probe_params = {"exact": dict(max_group=args.max_group),
                    "minhash": dict(max_bucket=args.max_bucket),
                    "semantic": dict(threshold=args.threshold,
                                     max_bucket=args.max_bucket)}[mode]

    def write(df, m):
        getattr(D, f"{mode}_write_index")(df, idx, mode=m, **params)

    if args.action == "build":
        write(spark.read.parquet(args.source), "overwrite")
        n = spark.read.parquet(idx).count()
        print(json.dumps({"mode": mode, "index_rows": n, "ok": True}))
        return 0
    batch = spark.read.parquet(args.batch)
    commit = not args.no_commit
    # Probe with commit=False regardless of the flag: the fold must
    # happen AFTER the pairs output succeeds, or a failed --pairs-out
    # write leaves the index mutated and a retry double-folds the batch
    # (self-pairs + duplicated fingerprints forever).
    try:
        pairs = getattr(D, f"{mode}_append")(
            spark, idx, batch, commit=False, **params, **probe_params)
    except ValueError as exc:
        print(str(exc), file=sys.stderr)
        return 2
    if args.pairs_out:
        pairs.write.mode("overwrite").parquet(args.pairs_out)
        n = spark.read.parquet(args.pairs_out).count()
    else:
        n = pairs.count()
    if commit:
        # the batch is re-fingerprinted once — O(batch), never O(corpus)
        write(batch, "append")
    print(json.dumps({"mode": mode, "pairs": n, "committed": commit,
                      "ok": True}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="klepto_spark",
                                description="Steals and anonymises data, on Spark")
    sub = p.add_subparsers(dest="command", required=True)

    pi = sub.add_parser("init", help="create a sample pipeline config")
    pi.add_argument("--path", default=".klepto.toml")
    pi.set_defaults(fn=_cmd_init)

    # the flags every steal command shares (read by _run_steal)
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument(
        "--from", required=True, dest="from",
        help="source DSN (parquet://dir, csv://dir, mysql://…)")
    common.add_argument("--to", required=True,
                        help="target DSN (parquet://dir, os://stdout, …)")
    common.add_argument("--config", default=None, help="pipeline TOML")
    common.add_argument("--permissive", action="store_true",
                        help="log per-table failures instead of failing "
                             "the run")
    common.add_argument("--seed", default="klepto",
                        help="anonymisation determinism seed")
    common.add_argument("--join-strategy", choices=["semi", "inner"],
                        default="semi")

    ps = sub.add_parser("steal", parents=[common],
                        help="copy + anonymise source to target")
    ps.add_argument("--concurrency", type=int, default=None,
                    help="concurrent tables (default: CPU count)")
    ps.add_argument("--data-only", action="store_true",
                    help="skip the structure pass")
    ps.set_defaults(fn=_cmd_steal)

    pinc = sub.add_parser(
        "steal-incremental", parents=[common],
        help="delta copy: only rows past each table's high-water mark")
    pinc.add_argument("--state", required=True,
                      help="JSON file holding per-table high-water marks")
    pinc.add_argument("--watermark", action="append", required=True,
                      metavar="TABLE=COLUMN",
                      help="monotonic watermark column (repeatable)")
    pinc.add_argument("--concurrency", type=int, default=None)
    pinc.add_argument("--watermarked-only", action="store_true",
                      help="skip full copies of non-watermarked tables")
    pinc.set_defaults(fn=_cmd_steal_incremental)

    pcdc = sub.add_parser(
        "steal-cdc", parents=[common],
        help="CDC copy: update-bumped watermark + keyed latest-wins merge")
    pcdc.add_argument("--state", required=True,
                      help="JSON file holding per-table marks")
    pcdc.add_argument("--cdc", action="append", required=True,
                      metavar="TABLE=MARK_COL:KEY[,KEY...]",
                      help="CDC capture config per table (repeatable), "
                           "e.g. users=updated_at:id")
    pcdc.add_argument("--tombstone", action=_TombstoneAction, default=None,
                      metavar="TABLE=SQL_EXPR",
                      help="soft-delete marker expression (repeatable), "
                           "e.g. users='deleted_at IS NOT NULL'")
    pcdc.add_argument("--sync-deletes", action="store_true",
                      help="diff source/sink key sets to capture hard "
                           "deletes (keys-only scans)")
    pcdc.add_argument("--partition-buckets", type=int, default=None,
                      help="file sinks: bucket-partitioned layout; merges "
                           "rewrite only the delta's buckets")
    pcdc.add_argument("--merge-on-read", action="store_true",
                      help="file sinks: O(delta) merges via deletion-"
                           "vector epochs; reads resolve latest-wins and "
                           "compaction folds epochs into the base")
    pcdc.set_defaults(fn=_cmd_steal_cdc)

    pc = sub.add_parser(
        "compact",
        help="fold a merge-on-read table's deletion-vector epochs into "
             "its base files")
    pc.add_argument("--target", required=True,
                    help="file-sink dsn, e.g. parquet:///data/out")
    pc.add_argument("--table", action="append", required=True,
                    help="table name (repeatable)")
    pc.add_argument("--delete-where", dest="delete_where",
                    help="physical DELETE: record matching rows as "
                         "positional deletions, then rewrite only the "
                         "files that contain them (parquet tables)")
    pc.add_argument("--retain-epochs", dest="retain_epochs", type=int,
                    default=0,
                    help="keep the newest N epochs replayable for time "
                         "travel and fold only the older ones (default "
                         "0 = fold everything)")
    pc.set_defaults(fn=_cmd_compact)

    po = sub.add_parser(
        "optimize",
        help="rewrite a table clustered (z-order or sort) with a min/max "
             "file-skipping manifest, published by atomic swap")
    po.add_argument("--target", required=True,
                    help="file-sink dsn, e.g. parquet:///data/out")
    po.add_argument("--table", action="append", required=True)
    po.add_argument("--zorder-by", dest="zorder_by",
                    help="comma-separated columns for z-order clustering")
    po.add_argument("--sort-by", dest="sort_by",
                    help="comma-separated columns for sort clustering")
    po.add_argument("--files", type=int, default=32,
                    help="target file count (default 32)")
    po.add_argument("--bin-pack", dest="bin_pack", action="store_true",
                    help="fold the small-files tail instead of "
                         "re-clustering (healthy files untouched)")
    po.add_argument("--target-mb", dest="target_mb", type=int, default=128,
                    help="bin-pack target file size (default 128)")
    po.set_defaults(fn=_cmd_optimize)

    psn = sub.add_parser(
        "snapshot",
        help="export a merge-on-read table as of a committed epoch "
             "(time travel; refuses history compacted into the base)")
    psn.add_argument("--source", required=True,
                     help="file dsn of the CDC table directory")
    psn.add_argument("--table", action="append", required=True)
    psn.add_argument("--epoch", type=int, required=True,
                     help="committed epoch id (0 or the compaction "
                          "floor = base files alone)")
    psn.add_argument("--out", required=True,
                     help="file dsn to write the snapshot to")
    psn.set_defaults(fn=_cmd_snapshot)

    ph = sub.add_parser(
        "history",
        help="list a merge-on-read table's committed epochs and the "
             "time-travel floor")
    ph.add_argument("--source", required=True,
                    help="file dsn of the CDC table directory")
    ph.add_argument("--table", action="append", required=True)
    ph.set_defaults(fn=_cmd_history)

    pdx = sub.add_parser(
        "dedup-index",
        help="build / incrementally append the at-rest dedup indexes "
             "(exact fingerprints, minhash bands, semantic signatures)")
    pdx.add_argument("action", choices=["build", "append"])
    pdx.add_argument("--mode", required=True,
                     choices=["exact", "minhash", "semantic"])
    pdx.add_argument("--index", required=True,
                     help="index directory (parquet)")
    pdx.add_argument("--source", help="corpus parquet path (build)")
    pdx.add_argument("--batch", help="new-batch parquet path (append)")
    pdx.add_argument("--pairs-out", default=None,
                     help="write duplicate pairs here (append)")
    pdx.add_argument("--no-commit", action="store_true",
                     help="probe only; do not fold the batch in")
    pdx.add_argument("--key", default="doc_id")
    pdx.add_argument("--text", default="text")
    pdx.add_argument("--vec", default="embedding")
    pdx.add_argument("--prefix-words", type=int, default=None,
                     help="exact: fingerprint only the first N words")
    pdx.add_argument("--max-group", type=int, default=None,
                     help="exact: star-cap duplicate classes above N")
    pdx.add_argument("--k", type=int, default=5)
    pdx.add_argument("--num-hashes", type=int, default=16)
    pdx.add_argument("--bands", type=int, default=4)
    pdx.add_argument("--max-bucket", type=int, default=64)
    pdx.add_argument("--bits", type=int, default=16)
    pdx.add_argument("--dim", type=int, default=None)
    pdx.add_argument("--threshold", type=float, default=0.6,
                     help="semantic: cosine threshold")
    pdx.set_defaults(fn=_cmd_dedup_index)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
