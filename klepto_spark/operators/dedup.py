"""Deduplication operators (engine extension, M5).

Five families, each designed for the 100 TB regime:

- exact:       one hash-aggregate over a content fingerprint; the only
               shuffle is on the (high-cardinality, uniform) hash — no skew.
- minhash-LSH: shingle -> K minhashes -> B bands; candidate generation is a
               self-join on (band, signature) buckets, i.e. a shuffle on
               bucket keys rather than an O(n^2) cross join. K and B trade
               recall vs cost (standard LSH s-curve).
- simhash:     64-bit signed-bit-vote fingerprint; near-dups share the
               fingerprint (or differ in few bits); grouping is again one
               hash-aggregate.
- ngram-Jaccard: exact verification of candidate pairs (use after LSH).
- embedding-cosine: near-dup by vector similarity (see similarity.py).

All built-in expressions; arrays stay inside Tungsten. No Python in the
hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from klepto_spark.sinks.tablefs import hadoop_fs, read_json, sub, write_json


#: id(df) -> (df, numPartitions). The strong reference to ``df`` keeps the
#: object alive so a CPython id() can never be reused while cached (the
#: ADVICE-r06 rule); bounded FIFO. The probe itself — DataFrame.rdd —
#: triggers full physical planning + RDD materialisation in the JVM,
#: ~0.6 s of pure driver time per call in this sandbox; with the loader
#: memoising table handles, every fan_out over the same base table is the
#: same object, so the probe runs once per (session, table) instead of
#: once per query construction (optimization r14).
_NPART_CACHE: dict = {}
_NPART_CACHE_MAX = 128


def _num_partitions(df: DataFrame) -> int:
    hit = _NPART_CACHE.get(id(df))
    if hit is not None and hit[0] is df:
        return hit[1]
    n = df.rdd.getNumPartitions()
    while len(_NPART_CACHE) >= _NPART_CACHE_MAX:
        _NPART_CACHE.pop(next(iter(_NPART_CACHE)))
    _NPART_CACHE[id(df)] = (df, n)
    return n


def fan_out(df: DataFrame, key_col: str, target: int | None = None) -> DataFrame:
    """Spread a (possibly single-partition) input across the cluster before
    per-row-expensive work. Local parquet testdata arrives as ONE partition
    (single file, single row group) — without this, shingling/hashing runs
    on one core. The shuffle moves only the raw rows (cheap) and buys full
    parallelism for everything downstream; hash-partitioning by the doc key
    also pre-co-locates the later signature aggregation, which then needs
    no second shuffle.

    GATED on the input's actual partition count: a 100 TB scan already
    arrives in thousands of splits, and an unconditional repartition of
    well-partitioned input is a wasted full shuffle — skip when the input
    has at least half the target parallelism."""
    if target is None:
        target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if _num_partitions(df) >= max(2, target // 2):
        return df
    return df.repartition(target, F.col(key_col))


def exploded_shingles(df: DataFrame, text_col: str, key_col: str,
                      k: int) -> DataFrame:
    """(key, shingle) rows: explode a position sequence, then shingle with a
    plain substring projection. Deliberately NOT transform()/array-valued —
    higher-order functions run interpreted (outside whole-stage codegen) and
    dominated the profile; explode(sequence) + substring stays codegen'd.
    Emits the shingle MULTISET (no dedup) — min-based signatures are
    unaffected; set-based consumers dedup downstream."""
    low = F.lower(F.col(text_col))
    n = F.greatest(F.length(low) - F.lit(k - 1), F.lit(1))
    return (df
            .select(F.col(key_col), low.alias("_t"),
                    F.explode(F.sequence(F.lit(1), n)).alias("_i"))
            .select(F.col(key_col),
                    F.substring(F.col("_t"), F.col("_i"), F.lit(k)).alias("sh")))


def exact_dedup(df: DataFrame, text_col: str = "text",
                key_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min key) per exact content match.

    groupBy(md5) beats dropDuplicates([text]) at scale: the shuffle carries
    a 32-char hash, not the document body."""
    return (df
            .select(F.col(key_col), F.md5(F.col(text_col)).alias("fp"))
            .groupBy("fp")
            .agg(F.min(key_col).alias(key_col),
                 F.count(F.lit(1)).alias("n_dups")))


def char_shingles(col: Column | str, k: int = 5) -> Column:
    """Lowercased character k-shingles (distinct)."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(c)
    n = F.greatest(F.length(low) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(low, i, k)))


def minhash_signature_df(df: DataFrame, text_col: str = "text",
                         key_col: str = "doc_id", k: int = 5,
                         num_hashes: int = 16) -> DataFrame:
    """MinHash signatures as columns mh_0..mh_{n-1}: per hash function i,
    min over shingles of md5(i || shingle). md5-based so the DuckDB oracle
    can reproduce it exactly.

    Shape matters at scale: shingles EXPLODE to rows and all N minhashes
    reduce in ONE hash-aggregate (partial map-side combine, single shuffle
    on the doc key). The tempting alternative — array_min over transform()
    higher-order funcs per signature — re-evaluates the shingle array per
    hash function outside codegen: measured 300s vs ~2s on 500 docs."""
    exploded = exploded_shingles(fan_out(df, key_col), text_col, key_col, k)
    aggs = [F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"mh_{i}")
            for i in range(num_hashes)]
    return exploded.groupBy(key_col).agg(*aggs)


def capped_bucket_pairs(buckets: DataFrame, max_bucket: int,
                        dedup: bool = True) -> DataFrame:
    """Expand sorted-id buckets to (a, b) candidate pairs with a skew cap.

    Buckets of <= ``max_bucket`` members expand all-pairs (best recall for
    downstream verification). Larger buckets — giant true-duplicate classes,
    the one pathological LSH input — expand as a STAR from the smallest id
    instead: O(m) edges, not O(m^2), so a 100k-member class emits 10^5 pairs
    in one task rather than 10^10. Every member stays connected to the
    representative, so connected-components clustering recovers the full
    class by transitivity; only the redundant intra-class edges are elided.
    ``buckets`` must have an array column ``ids`` (sorted, distinct).
    ``dedup=False`` skips the final distinct when buckets are known
    disjoint (e.g. full-signature buckets) — saves a shuffle."""
    n = F.size("ids")
    all_pairs = F.flatten(F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.transform(
            F.slice("ids", i + 1, n - i),
            lambda other: F.struct(
                F.element_at("ids", i).alias("a"), other.alias("b")))))
    star = F.transform(
        F.slice("ids", 2, n - 1),
        lambda other: F.struct(F.element_at("ids", 1).alias("a"),
                               other.alias("b")))
    pair_structs = F.when(n <= max_bucket, all_pairs).otherwise(star)
    out = (buckets.select(F.explode(pair_structs).alias("p"))
           .select("p.a", "p.b"))
    return out.distinct() if dedup else out


def cap_pairs_per_doc(weighted: DataFrame, cap: int) -> DataFrame:
    """Bound candidate pairs to ~``cap`` per document, strongest first.

    ``weighted`` carries ``(a, b, w)`` with ``w`` = band agreement (how
    many LSH bands voted for the pair). Each pair is ranked from BOTH
    endpoints' perspectives (w desc, partner id asc) and kept when it is
    within the top-``cap`` of EITHER endpoint — so output size is
    <= 2·cap·n_docs (linear in the corpus) no matter how adversarial the
    duplicate structure, while a pair that matters to either doc
    survives. RECALL TRADE: a doc with more than ``cap`` genuine
    near-duplicates keeps only its strongest ``cap`` edges; connected-
    components clustering still recovers large classes transitively as
    long as the class's mutual-strongest graph is connected (the usual
    case — near-copies agree on most bands). Default OFF in the contract
    queries; turn on for adversarial mass-near-copy corpora
    (VERDICT r05 #5)."""
    from pyspark.sql.window import Window
    sides = weighted.select(
        F.explode(F.array(
            F.struct(F.col("a").alias("doc"), F.col("b").alias("other")),
            F.struct(F.col("b").alias("doc"), F.col("a").alias("other")),
        )).alias("s"), "w").select("s.doc", "s.other", "w")
    win = Window.partitionBy("doc").orderBy(F.desc("w"), F.asc("other"))
    kept = (sides.withColumn("rnk", F.row_number().over(win))
            .filter(F.col("rnk") <= cap)
            .select(F.least("doc", "other").alias("a"),
                    F.greatest("doc", "other").alias("b")).distinct())
    return kept


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      key_col: str = "doc_id", k: int = 5,
                      num_hashes: int = 16, bands: int = 4,
                      max_bucket: int = 64,
                      per_doc_cap: int | None = None) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    rows = num_hashes // bands minhashes concatenate into one band key;
    docs sharing any band key become a candidate pair. The expensive part
    is a self-join on band buckets — a key-partitioned shuffle that scales
    linearly with data (plus bucket-skew, which AQE's skew-join handles).
    Pathological buckets fall back to star expansion (see
    :func:`capped_bucket_pairs`). Verify candidates with
    :func:`ngram_jaccard_pairs` before acting.

    ``per_doc_cap``: bound candidates to ~cap per doc by band agreement
    (see :func:`cap_pairs_per_doc`) — the defence against mass-near-copy
    corpora where pair count grows quadratically in the duplicate-class
    size even though each bucket stays under ``max_bucket``. None (the
    default) keeps exact candidate semantics."""
    return _band_pairs(minhash_band_rows(df, text_col, key_col, k,
                                         num_hashes, bands),
                       key_col, max_bucket, per_doc_cap)


def _band_pairs(members: DataFrame, key_col: str, max_bucket: int,
                per_doc_cap: int | None) -> DataFrame:
    """(a, b) pairs of docs sharing a band among (key, band) ``members``.
    Bucket-local pair generation instead of a bucket self-join: one
    groupBy shuffle, no signature recompute, and the expansion stays
    inside each bucket, capped against giant true-dup classes. (The
    collect_set id array is O(m) per bucket — fine up to millions of
    members; beyond that, pre-split buckets by salting the band key.)"""
    buckets = (members.groupBy("band")
               .agg(F.array_sort(F.collect_set(key_col)).alias("ids"))
               .filter(F.size("ids") > 1))
    if per_doc_cap is None:
        return capped_bucket_pairs(buckets, max_bucket)
    # same shuffle the distinct() would pay, but keeping the vote count
    weighted = (capped_bucket_pairs(buckets, max_bucket, dedup=False)
                .groupBy("a", "b").agg(F.count(F.lit(1)).alias("w")))
    return cap_pairs_per_doc(weighted, per_doc_cap)


def minhash_band_rows(df: DataFrame, text_col: str = "text",
                      key_col: str = "doc_id", k: int = 5,
                      num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """(key, band) rows — one per document per band; the unit both the
    self-contained pair generator and the at-rest index share."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    sig = minhash_signature_df(df, text_col, key_col, k, num_hashes)
    band_cols = [
        F.concat_ws("|", F.lit(str(b)),
                    *[F.col(f"mh_{b * rows + j}") for j in range(rows)]).alias("band")
        for b in range(bands)
    ]
    return sig.select(key_col, F.explode(F.array(*band_cols)).alias("band"))


def _minhash_scheme(key_col: str, k: int, num_hashes: int, bands: int) -> dict:
    return {"key": key_col, "k": k, "num_hashes": num_hashes, "bands": bands}


def minhash_write_index(df: DataFrame, path: str, text_col: str = "text",
                        key_col: str = "doc_id", k: int = 5,
                        num_hashes: int = 16, bands: int = 4,
                        mode: str = "overwrite") -> None:
    """Persist the corpus's (key, band) rows — the at-rest LSH index that
    makes dedup INCREMENTAL: appending a batch later never re-shingles or
    re-hashes the existing corpus (cf. ``ivf_append`` for vectors)."""
    write_index(minhash_band_rows(df, text_col, key_col, k, num_hashes,
                                  bands), path, "minhash",
                _minhash_scheme(key_col, k, num_hashes, bands), mode)


def _flag_endpoints(pairs: DataFrame, keys: DataFrame) -> DataFrame:
    """``pairs`` with ``__fa`` / ``__fb`` set where endpoint a / b is in
    ``keys`` (one ``__nk`` column): two broadcast flag joins, so the pair
    set itself never shuffles."""
    return (pairs
            .join(F.broadcast(keys.withColumnRenamed("__nk", "a"))
                  .withColumn("__fa", F.lit(1)), "a", "left")
            .join(F.broadcast(keys.withColumnRenamed("__nk", "b"))
                  .withColumn("__fb", F.lit(1)), "b", "left"))


def _pairs_with_batch_endpoint(pairs: DataFrame,
                               new_keys: DataFrame) -> DataFrame:
    """Keep pairs with >= one endpoint in ``new_keys`` (the arriving
    batch's keys, as ``__nk``) — old–old pairs were already known when
    the index was built."""
    # re-select the INPUT column order: joining on "a" then "b" moves
    # the join keys to the front, and positional consumers (collect
    # tuples, unions) must see the caller's schema unchanged
    return (_flag_endpoints(pairs, new_keys)
            .filter(F.col("__fa").isNotNull() | F.col("__fb").isNotNull())
            .select(*pairs.columns))


def _touched_band_pairs(side: DataFrame, probe_rows: DataFrame, key_col: str,
                        max_bucket: int, per_doc_cap: int | None) -> DataFrame:
    """Band pairs among (key, band) ``probe_rows`` and the ``side`` rows
    they touch: ``side`` is scanned once through a broadcast semi-join on
    the probe's bands, never shuffled whole."""
    probe = probe_rows.select("band").distinct()
    touched = side.join(F.broadcast(probe), "band", "left_semi")
    return _band_pairs(touched.unionByName(probe_rows), key_col, max_bucket,
                       per_doc_cap)


def _cross_pairs(big: DataFrame, small: DataFrame, key_col: str,
                 max_bucket: int, per_doc_cap: int | None) -> DataFrame:
    """Band pairs across two disjoint-key sides, ``a`` from ``big``, ``b``
    from ``small`` (the probe side; callers persist it)."""
    pairs = _touched_band_pairs(big, small, key_col, max_bucket, per_doc_cap)
    # Orientation flags from the CACHED probe-side rows, not four fresh
    # corpus scans (VERDICT r15, ~0.7 s of d08's 3.0 s at sf0.1): every
    # endpoint sits in a bucket, so under disjoint keys "not in the small
    # side's keys" IS "big-side".
    keys = small.select(F.col(key_col).alias("__nk")).distinct()
    b_in = F.col("__fb").isNotNull()
    return (_flag_endpoints(pairs, keys)
            .filter(F.col("__fa").isNotNull() != b_in)
            .select(F.when(b_in, F.col("a")).otherwise(F.col("b")).alias("a"),
                    F.when(b_in, F.col("b")).otherwise(F.col("a")).alias("b")))


def minhash_append(spark, path: str, new_docs: DataFrame,
                   text_col: str = "text", key_col: str = "doc_id",
                   k: int = 5, num_hashes: int = 16, bands: int = 4,
                   max_bucket: int = 64, commit: bool = True,
                   per_doc_cap: int | None = None) -> DataFrame:
    """Dedup a NEW batch against an indexed corpus and (optionally) fold
    the batch into the index. Returns candidate pairs with at least one
    new-batch endpoint (old–old pairs were already known when the index
    was built).

    Scale shape: the new batch's bands are hashed once and BROADCAST;
    the index is scanned exactly once through that broadcast semi-join —
    no index shuffle, no corpus text scan, no signature recompute. Only
    the touched buckets (bounded by |new batch| × bands × bucket size)
    are collected and expanded, under the same star cap as the batch
    operator. With ``commit=True`` the new rows are appended to the
    index so the next batch sees them."""
    # Not persisted: the batch is re-hashed once by the commit write and
    # once when the caller evaluates the pairs — both O(batch), never
    # O(corpus), and no cache whose lifetime outlives this call.
    new_bands = minhash_band_rows(new_docs, text_col, key_col, k,
                                  num_hashes, bands)
    idx = read_index(spark, path, (key_col, "band"), "minhash",
                     _minhash_scheme(key_col, k, num_hashes, bands))
    pairs = _touched_band_pairs(idx, new_bands, key_col, max_bucket,
                                per_doc_cap)
    new_keys = new_bands.select(F.col(key_col).alias("__nk")).distinct()
    out = _pairs_with_batch_endpoint(pairs, new_keys).select("a", "b")
    if commit:
        commit_index(spark, path, new_bands, "minhash_append")
    return out


def _refuse_epoch_layout(spark, path: str, caller: str) -> None:
    """An index built by the streaming twin is epoch-partitioned
    (ep=<batch> dirs); appending FLAT files at its root would mix
    partitioned and unpartitioned layouts and break the next
    spark.read.parquet(root) partition discovery (ADVICE r06).
    Refuse and direct callers to the epoch-keyed path instead."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(root) and any(
            st.getPath().getName().startswith("ep=")
            for st in fs.listStatus(root)):
        raise ValueError(
            f"index at {path!r} is epoch-partitioned (ep= dirs, "
            "built by streaming.dedup); commit through "
            "streaming.dedup.process_epoch with the next epoch id, "
            f"or call {caller} with commit=False")


INDEX_META = "_dedupmeta.json"


def write_index_meta(spark, path: str, mode: str, params: dict) -> None:
    """Persist the fingerprint/LSH scheme an at-rest dedup index was
    built with (``_dedupmeta.json`` next to the index files — the ``_``
    prefix keeps parquet readers from touching it). Appends validate
    against it (:func:`check_index_meta`): probing an index with a
    different scheme silently produces zero/wrong pairs, and a committed
    append would mix two schemes in the same index forever (ADVICE r08)."""
    jvm, fs, root = hadoop_fs(spark, path)
    write_json(fs, sub(jvm, root, INDEX_META), {"mode": mode, **params})


def check_index_meta(spark, path: str, mode: str, params: dict,
                     required: tuple = ()) -> None:
    """Refuse an append whose scheme differs from the index's recorded
    build parameters. Indexes without a meta file (built before the meta
    existed, or assembled by hand) pass unchecked — the guard protects
    indexes this code built. A key named in ``required`` must also be
    PRESENT in the stored meta: a scheme parameter that changed meaning
    across versions (e.g. hll's rho word width) makes an old index
    stamped without it incompatible, and "key absent" must refuse like
    "key differs" (ADVICE r13)."""
    jvm, fs, root = hadoop_fs(spark, path)
    meta = read_json(jvm, fs, sub(jvm, root, INDEX_META))
    if meta is None:
        return
    want = {"mode": mode, **params}
    bad = {k: (meta.get(k), v) for k, v in want.items()
           if (k in meta and meta[k] != v)
           or (k in required and k not in meta)}
    if bad:
        detail = ", ".join(f"{k}: index={i!r} append={a!r}"
                           for k, (i, a) in sorted(bad.items()))
        raise ValueError(
            f"index at {path!r} was built with a different scheme "
            f"({detail}); pass the build-time parameters, or rebuild "
            "the index")


# The at-rest index protocol: every family (exact, minhash, semantic, cdc,
# span, hll, bloom, cms) builds, probes and commits its index through
# these three functions, so each guard exists once.


def write_index(rows: DataFrame, path: str, family: str, scheme: dict,
                mode: str = "overwrite", required: tuple = ()) -> None:
    """Write an at-rest index's rows at ``path`` and stamp the ``family``
    ``scheme`` they were built with. ``mode="append"`` is a commit: the
    scheme must match the recorded one (each key in ``required`` must be
    recorded, as in :func:`read_index`), the rows land through
    :func:`commit_index`, and the build-time stamp stays as it is.
    ``mode="ignore"`` skips the write where rows already exist, so it
    stamps an index another writer published (the derived store's
    staging-swap)."""
    spark = rows.sparkSession
    if mode == "append":
        check_index_meta(spark, path, family, scheme, required)
        commit_index(spark, path, rows, f"{family}_append")
        return
    rows.write.mode(mode).parquet(path)
    write_index_meta(spark, path, family, scheme)


def read_index(spark, path, cols, family: str, scheme: dict,
               required: tuple = ()) -> DataFrame:
    """The index rows at ``path`` projected to ``cols``, after refusing a
    ``scheme`` other than the recorded one. ``path`` is a root or a
    sorted path list (a streaming twin's epoch view, whose meta is read
    at its first entry). The projection tolerates epoch-partitioned
    layouts (ep= dirs add a partition column), and the parquet relation
    snapshots its file list here: a frame built on it keeps reading the
    PRE-commit index after a later :func:`commit_index`, with no
    driver-side row materialisation."""
    paths = list(path) if isinstance(path, (list, tuple)) else [path]
    check_index_meta(spark, paths[0], family, scheme, required)
    return spark.read.parquet(*paths).select(*cols)


def commit_index(spark, path, rows: DataFrame, caller: str) -> None:
    """Append ``rows`` to the index root ``path``. A path list (a pinned
    epoch view) and a root built by ``streaming.dedup.process_epoch``
    refuse: flat files there would land in every epoch's view."""
    if isinstance(path, (list, tuple)):
        raise ValueError("commit=True needs a single index root, "
                         "not a path list")
    _refuse_epoch_layout(spark, path, caller)
    rows.write.mode("append").parquet(path)


def exact_fingerprint(text_col: Column | str,
                      prefix_words: int | None = None) -> Column:
    """Content fingerprint for exact dedup: md5 of the full text, or —
    with ``prefix_words=k`` — md5 of the first k whitespace words (the
    prefix-canonicalisation used for crawl snapshots whose tails differ
    only in boilerplate/timestamps). The prefix form is what the d11
    contract query exercises; both are replayable in SQL."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if prefix_words is None:
        return F.md5(c)
    words = F.split(F.trim(c), r"\s+")
    return F.md5(F.concat_ws(" ", F.slice(words, 1, prefix_words)))


def exact_fingerprint_sql(text_col: str = "text",
                          prefix_words: int | None = None) -> str:
    """DuckDB twin of :func:`exact_fingerprint`. DuckDB list slices are
    END-INCLUSIVE (``[1:k]`` is k elements), unlike Python — ``[1:k+1]``
    would hash one extra word and silently diverge from Spark's
    ``F.slice(words, 1, k)`` on any pair differing at word k+1."""
    if prefix_words is None:
        return f"md5({text_col})"
    return (f"md5(array_to_string(string_split_regex(trim({text_col}), "
            f"'\\s+')[1:{prefix_words}], ' '))")


def _exact_scheme(key_col: str, prefix_words: int | None) -> dict:
    return {"key": key_col, "prefix_words": prefix_words}


def exact_index_rows(df: DataFrame, text_col: str = "text",
                     key_col: str = "doc_id",
                     prefix_words: int | None = None) -> DataFrame:
    """(key, fp) fingerprint rows — the exact index's row unit."""
    return df.select(F.col(key_col),
                     exact_fingerprint(text_col, prefix_words).alias("fp"))


def exact_write_index(df: DataFrame, path: str, text_col: str = "text",
                      key_col: str = "doc_id",
                      prefix_words: int | None = None,
                      mode: str = "overwrite") -> None:
    """Persist (key, fp) fingerprint rows — the at-rest EXACT-dedup index,
    completing the incremental matrix alongside ``minhash_write_index``
    (near-dup) and ``semantic_write_index`` (embeddings): appending a
    batch later never re-reads or re-hashes the existing corpus text."""
    write_index(exact_index_rows(df, text_col, key_col, prefix_words), path,
                "exact", _exact_scheme(key_col, prefix_words), mode)


def exact_append(spark, path: str, new_docs: DataFrame,
                 text_col: str = "text", key_col: str = "doc_id",
                 prefix_words: int | None = None,
                 commit: bool = True,
                 max_group: int | None = None) -> DataFrame:
    """Exact-dedup a NEW batch against an indexed corpus and (optionally)
    fold the batch's fingerprints into the index. Returns (a, b) duplicate
    pairs with at least one new-batch endpoint: every old–new match
    (a = index key, b = batch key) plus intra-batch matches (a < b).
    Old–old pairs were already known when the index was built.

    Scale shape — same posture as ``minhash_append``: the batch is
    fingerprinted once and its DISTINCT fps BROADCAST; the index is
    scanned exactly once through that broadcast semi-join (no index
    shuffle, no corpus text scan), and only the touched fingerprint
    groups join back against the batch. Exact matching needs no
    verification stage: the join on fp IS the verification.

    ``max_group`` is the adversarial-mass-dup guard (the exact twin of
    the LSH star cap): a true-duplicate class that keeps growing — empty
    documents, a boilerplate error page — emits |old|x|new| pairs per
    append, quadratic over the class's life. With ``max_group=C``, any
    fingerprint group whose touched membership exceeds C collapses to a
    STAR — each new member pairs only with the group's minimum key —
    bounding output at O(|new|) per group while preserving exactly the
    connectivity (and therefore the keep/drop decision) downstream
    clustering needs. Groups at or under C keep the full pair set.
    Default None preserves all pairs (the d11 oracle contract)."""
    new_fp = exact_index_rows(new_docs, text_col, key_col, prefix_words)
    idx = read_index(spark, path, (key_col, "fp"), "exact",
                     _exact_scheme(key_col, prefix_words))
    probe = new_fp.select("fp").distinct()
    touched_old = idx.join(F.broadcast(probe), "fp", "left_semi")
    # a != b: a re-run of an append whose commit landed re-contains its
    # own keys in the index — without the filter each would emit a
    # self-pair (x, x) (ADVICE r08). new_new enforces a < b already.
    old_new = (touched_old.withColumnRenamed(key_col, "a")
               .join(new_fp.withColumnRenamed(key_col, "b"), "fp")
               .filter(F.col("a") != F.col("b"))
               .select("a", "b", "fp"))
    nf2 = new_fp.withColumnRenamed(key_col, "b")
    new_new = (new_fp.withColumnRenamed(key_col, "a")
               .join(nf2, "fp")
               .filter(F.col("a") < F.col("b"))
               .select("a", "b", "fp"))
    all_pairs = old_new.unionByName(new_new)
    if max_group is None:
        out = all_pairs.select("a", "b")
    else:
        # group size = touched olds + batch members sharing the fp; the
        # count shuffles (fp, key) rows only — never text. A re-appended
        # key (present in the index AND the batch with the same fp)
        # must count ONCE — min(_new) folds the two rows and breaks the
        # old/new flag to False (the old copy), consistent with the
        # representative tie-break below (ADVICE r08 family: re-runs
        # must not inflate group sizes or duplicate star rows).
        members = (touched_old.select(key_col, "fp")
                   .withColumn("_new", F.lit(False))
                   .unionByName(new_fp.select(key_col, "fp")
                                .withColumn("_new", F.lit(True)))
                   .groupBy("fp", key_col)
                   .agg(F.min("_new").alias("_new")))
        # struct min carries the representative AND whether it is a
        # new-batch key (key ties between an old and a re-appended new
        # copy break to False — the old one, deterministically)
        sizes = (members.groupBy("fp")
                 .agg(F.count(F.lit(1)).alias("_gsz"),
                      F.min(F.struct(F.col(key_col).alias("k"),
                                     F.col("_new").alias("n")))
                      .alias("_rep")))
        flagged = all_pairs.join(F.broadcast(sizes), "fp")
        small = (flagged.filter(F.col("_gsz") <= max_group)
                 .select("a", "b"))
        # Star over ALL touched members, not just the batch: when a new
        # doc becomes the group's minimum key, the (new_rep, old_member)
        # pairs are what reconnect the group's HISTORICAL component
        # (anchored at the previous minimum) to the new representative —
        # pairing only new members would split one duplicate class in
        # two across appends. Old-old pairs (rep old AND member old)
        # stay excluded: they were connected when those members were
        # appended (inductively, to this same representative).
        big_fp = sizes.filter(F.col("_gsz") > max_group)
        star = (members.join(F.broadcast(big_fp), "fp")
                .filter(F.col(key_col) != F.col("_rep.k"))
                .filter(F.col("_new") | F.col("_rep.n"))
                .select(F.col("_rep.k").alias("a"),
                        F.col(key_col).alias("b")))
        out = small.unionByName(star)
    if commit:
        commit_index(spark, path, new_fp, "exact_append")
    return out


def simhash_df(df: DataFrame, text_col: str = "text",
               key_col: str = "doc_id", k: int = 4,
               bits: int = 64, hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash fingerprints (default 64-bit): each distinct shingle votes
    its hash bits; the fingerprint sign-aggregates votes per bit.

    Same scale shape as minhash_signature_df: explode shingles, ONE
    hash-aggregate with ``bits`` sum columns (map-side combine), then
    assemble the fingerprint from the vote signs — all codegen'd
    built-ins.

    hash_fn:
      'xxhash64' — fastest (JVM intrinsic); fingerprint is a signed LONG.
        No DuckDB twin, so cross-engine checks can't replay it.
      'md5hex'   — md5-nibble bit source; fingerprint is a 16-char HEX
        STRING. Slower, but both engines compute identical md5, making
        the whole operator value-checkable against SQL (the contract
        query uses this)."""
    exploded = (exploded_shingles(fan_out(df, key_col), text_col, key_col, k)
                .distinct())  # vote per distinct shingle, not per occurrence
    if hash_fn == "xxhash64":
        exploded = exploded.withColumn("h", F.xxhash64("sh"))
        aggs = [
            F.sum(F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1)
                  .otherwise(-1)).alias(f"v{b}")
            for b in range(bits)
        ]
        votes = exploded.groupBy(key_col).agg(*aggs)
        fingerprint = F.lit(0).cast("long")
        for b in range(bits):
            fingerprint = fingerprint.bitwiseOR(
                F.when(F.col(f"v{b}") > 0,
                       F.shiftleft(F.lit(1).cast("long"), b))
                .otherwise(F.lit(0).cast("long")))
        return votes.select(F.col(key_col), fingerprint.alias("simhash"))
    if hash_fn != "md5hex":
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    assert bits % 4 == 0
    exploded = exploded.withColumn("h", F.md5("sh"))
    # bit b = bit (3 - b%4) of hex nibble b//4 — big-endian within the
    # nibble so the fingerprint reads as the md5 prefix would.
    # Decode each hex char ONCE (16 nibbles), not once per BIT (64):
    # conv() routes through radix parsing per call and dominated the
    # d03 profile (optimization r14, guide §1.2 step 2). ascii
    # arithmetic reads the same lowercase-md5 digit exactly
    # ('0'-'9' -> 48..57, 'a'-'f' -> 97..102); the 64 votes then are
    # cheap shift/mask reads of the precomputed nibble columns, and
    # the projection drops sh/h before the aggregate (§2.3).
    # Single-F.expr builds throughout (optimization r14): 16 nibble
    # decodes + 64 vote aggregates + the 16-nibble fingerprint assembly
    # built Column-by-Column cost ~700 py4j round-trips of pure driver
    # time per construction; the SQL strings parse to the identical
    # trees in a handful of calls.
    nibs = [F.expr(
        f"(ascii(substring(h, {n + 1}, 1)) - "
        f"(CASE WHEN (ascii(substring(h, {n + 1}, 1)) >= 97) "
        "THEN 87 ELSE 48 END))").alias(f"_n{n}")
        for n in range(bits // 4)]
    exploded = exploded.select(key_col, *nibs)
    aggs = [F.expr(
        f"sum(CASE WHEN ((shiftright(_n{b // 4}, {3 - b % 4}) & 1) = 1) "
        "THEN 1 ELSE -1 END)").alias(f"v{b}")
        for b in range(bits)]
    votes = exploded.groupBy(key_col).agg(*aggs)
    nibbles = []
    for n in range(bits // 4):
        val = "0"
        for j in range(4):
            b = n * 4 + j
            val = (f"({val} + (CASE WHEN (v{b} > 0) "
                   f"THEN {1 << (3 - j)} ELSE 0 END))")
        nibbles.append(f"substring('0123456789abcdef', ({val} + 1), 1)")
    return votes.select(F.col(key_col),
                        F.expr("concat(" + ", ".join(nibbles) + ")")
                        .alias("simhash"))


def simhash_dedup(df: DataFrame, text_col: str = "text",
                  key_col: str = "doc_id", k: int = 4,
                  hash_fn: str = "xxhash64") -> DataFrame:
    """Group docs by identical SimHash (hamming-0 near-dups)."""
    return (simhash_df(df, text_col, key_col, k, hash_fn=hash_fn)
            .groupBy("simhash")
            .agg(F.min(key_col).alias(key_col), F.count(F.lit(1)).alias("n_dups")))


def simhash_dedup_sql(k: int = 4, bits: int = 64, table: str = "documents",
                      text_col: str = "text", key_col: str = "doc_id") -> str:
    """DuckDB oracle for simhash_dedup(hash_fn='md5hex'): identical md5
    nibble bit votes, identical hex fingerprint assembly."""
    assert bits % 4 == 0
    votes = []
    for b in range(bits):
        nib = (f"(strpos('0123456789abcdef', "
               f"substr(h, {b // 4 + 1}, 1)) - 1)")
        bit = f"(({nib} // {1 << (3 - b % 4)}) % 2)"
        votes.append(f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS v{b}")
    nibbles = []
    for n in range(bits // 4):
        val = " + ".join(
            f"(CASE WHEN v{n * 4 + j} > 0 THEN {1 << (3 - j)} ELSE 0 END)"
            for j in range(4))
        nibbles.append(f"substr('0123456789abcdef', ({val}) + 1, 1)")
    fp = "concat(" + ", ".join(nibbles) + ")"
    return f"""
WITH sh AS (
  SELECT {key_col}, unnest(list_distinct([substr(lower({text_col}), i, {k})
         FOR i IN range(1, greatest(length({text_col}) - {k - 1}, 1) + 1)])) AS s
  FROM {table}),
hs AS (SELECT {key_col}, md5(s) AS h FROM sh),
v AS (SELECT {key_col}, {", ".join(votes)} FROM hs GROUP BY {key_col})
SELECT {fp} AS simhash, MIN({key_col}) AS {key_col}, COUNT(*) AS n_dups
FROM v GROUP BY 1"""


#: persisted frames the returned Jaccard DataFrames close over; callers
#: running many large verifications in one session release them with
#: :func:`release_caches` once the results are materialised (ADVICE r05:
#: MEMORY_AND_DISK blocks otherwise live until session end)
_PINNED_CACHES: list = []


def release_caches() -> int:
    """Unpersist every cache pinned by :func:`ngram_jaccard_pairs` calls
    so far. Call AFTER the returned DataFrames have been written/
    collected — they recompute from scratch if used again afterwards.
    Returns the number of frames released."""
    n = 0
    while _PINNED_CACHES:
        _PINNED_CACHES.pop().unpersist()
        n += 1
    return n


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame,
                        text_col: str = "text", key_col: str = "doc_id",
                        k: int = 5, threshold: float = 0.8) -> DataFrame:
    """Exact Jaccard verification of candidate pairs: broadcast-joins the
    shingle sets onto the (small) candidate list, keeps pairs >= threshold.

    The candidate list and the shingle-set aggregate are persisted
    (consumed three times each); the returned DataFrame closes over both,
    so they stay pinned until :func:`release_caches` (or session end) —
    release between repeated large runs.

    **Scale crossover (VERDICT r11 #5)**: this verifier's cost is
    proportional to the CANDIDATE PAIR count, which grows with the true
    duplicate mass — the one measured >= linear sf1 trend in the suite
    (1.09x of 10x-linear uncapped vs 0.47x with
    ``minhash_lsh_pairs(per_doc_cap=8)``). The rule, mirroring the IVF/
    brute-force crossover: feed this an UNCAPPED candidate list only for
    verification/audit runs where exhaustive pair recall is the point;
    any recurring or composed pipeline should generate candidates with
    ``per_doc_cap`` set (~8), which bounds pairs per document and
    restores sublinear scaling while keeping every document represented.
    No composite recipe (c-family) calls this verifier transitively —
    they dedup via exact fingerprints, raw LSH pairs, or SemDeDup."""
    # Only shingle documents that appear in a candidate pair: a left-semi
    # join prunes the (typically tiny) candidate id set out of the corpus
    # before the expensive shingling — at 100 TB this is the difference
    # between re-scanning everything and touching a few thousand docs.
    # The candidate list is referenced three times (id extraction + final
    # join); persist it so the upstream LSH pipeline runs ONCE.
    pairs = pairs.persist()
    _PINNED_CACHES.append(pairs)
    ids = (pairs.select(F.explode(F.array("a", "b")).alias(key_col))
           .distinct())
    pruned = fan_out(df.join(ids, key_col, "left_semi"), key_col)
    # consumed three times below (size prune + both pair-join sides);
    # persisted so shingling+aggregation runs once (MEMORY_AND_DISK —
    # spills instead of failing when the candidate set is large)
    sh = (exploded_shingles(pruned, text_col, key_col, k)
          .groupBy(key_col)
          .agg(F.collect_set("sh").alias("sh"))).persist()
    _PINNED_CACHES.append(sh)
    # EXACT set-size prune before any shingle array ships into the pair
    # join: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so a pair whose size
    # ratio is under the threshold can never verify. Candidate-pair count
    # grows super-linearly with corpus size (the only super-linear trend
    # in the sf1 rehearsal), and this caps the expensive term — array
    # shipping + intersect — at the surviving pairs while the size join
    # carries one int per doc. The 1e-6 slack mirrors the round(., 6)
    # below: a pair whose true Jaccard rounds up to the threshold must
    # not be pruned by a bound that is a hair under it.
    sizes = sh.select(F.col(key_col), F.size("sh").alias("n"))
    survivors = (pairs
                 .join(sizes.toDF("a", "n_a"), "a")
                 .join(sizes.toDF("b", "n_b"), "b")
                 .filter(F.least("n_a", "n_b")
                         >= (threshold - 1e-6) * F.greatest("n_a", "n_b"))
                 .select("a", "b"))
    joined = (survivors
              .join(sh.withColumnRenamed(key_col, "a").withColumnRenamed("sh", "sh_a"), "a")
              .join(sh.withColumnRenamed(key_col, "b").withColumnRenamed("sh", "sh_b"), "b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter / F.greatest(union, F.lit(1))
    return (joined.select("a", "b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def cdc_near_dup_pairs(df: DataFrame, text_col: str = "text",
                       key_col: str = "doc_id", divisor: int = 8,
                       min_shared: int = 2, min_words: int = 3,
                       max_bucket: int = 64) -> DataFrame:
    """Shift-resistant near-duplicate pairs via content-defined chunking
    — the d-family twin of t17 (``text.cdc_shared_stats``), closing the
    recall hole fixed-shingle MinHash leaves: an insertion early in a
    near-copy moves every k-shingle after it, but CDC chunk boundaries
    are a function of LOCAL content (boundary after any word whose
    md5-prefix integer ``% divisor == 0``), so the untouched spans keep
    identical chunk hashes. Docs sharing >= ``min_shared`` DISTINCT
    chunk hashes become a pair — the CDC analogue of "docs sharing any
    LSH band", with agreement strength attached.

    Scale shape — same discipline as :func:`minhash_lsh_pairs`: chunking
    is array-side in one projection and only (key, hash) rows shuffle
    (the chunk text never moves); pair generation is bucket-local on the
    chunk hash with the :func:`capped_bucket_pairs` star cap, so a
    boilerplate chunk shared by 100k docs emits O(m) star edges, never
    O(m^2); the agreement count is one hash-aggregate on (a, b). No
    corpus self-join anywhere. ``min_words`` (default 3) drops
    stopword-grade 1-2-word chunks BEFORE hashing — without it, their
    buckets grow with the corpus (df >1000 by sf0.1) and everything
    star-caps; with it, bucket sizes stay O(true duplication). CAP
    TRADE (same as LSH): pairs elided inside a star-capped bucket lose
    that bucket's vote, so ``shared_chunks`` is exact only while
    buckets stay under ``max_bucket`` — connected-components clustering
    still recovers the class through the representative.

    Returns (a, b, shared_chunks) with a < b, ordered semantics exact vs
    the DuckDB twin (:func:`cdc_near_dup_pairs_sql`) for un-capped
    buckets."""
    chunks = cdc_index_rows(df, text_col, key_col, divisor, min_words)
    return (_chunk_weighted_pairs(chunks, key_col, max_bucket)
            .filter(F.col("shared_chunks") >= min_shared))


def _chunk_weighted_pairs(chunks: DataFrame, key_col: str,
                          max_bucket: int) -> DataFrame:
    """(a, b, shared_chunks) from distinct (key, h) rows: bucket-local
    pair generation on the chunk hash under the star cap. dedup=False
    keeps one row per (bucket, pair), so the groupBy — the same shuffle
    a distinct() would pay — yields the agreement count for free.
    Shared by the batch and append CDC operators."""
    buckets = (chunks.groupBy("h")
               .agg(F.array_sort(F.collect_set(key_col)).alias("ids"))
               .filter(F.size("ids") > 1))
    return (capped_bucket_pairs(buckets, max_bucket, dedup=False)
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("shared_chunks")))


def cdc_near_dup_pairs_sql(table_sql: str = "documents",
                           text_col: str = "text",
                           key_col: str = "doc_id", divisor: int = 8,
                           min_shared: int = 2, min_words: int = 3) -> str:
    """DuckDB oracle for :func:`cdc_near_dup_pairs`: exact all-pairs
    semantics (no star cap — the oracle corpus is small), same boundary
    rule via the bit-portable md5-prefix trick."""
    from klepto_spark.operators.text import cdc_chunk_rows_sql
    inner = cdc_chunk_rows_sql(table_sql, text_col, key_col, divisor,
                               min_words)
    return f"""
WITH __c AS (SELECT DISTINCT {key_col}, h FROM ({inner}))
SELECT x.{key_col} AS a, y.{key_col} AS b,
       CAST(count(*) AS BIGINT) AS shared_chunks
FROM __c x JOIN __c y ON x.h = y.h AND x.{key_col} < y.{key_col}
GROUP BY x.{key_col}, y.{key_col}
HAVING count(*) >= {min_shared}"""


def _cdc_scheme(key_col: str, divisor: int, min_words: int) -> dict:
    return {"key": key_col, "divisor": divisor, "min_words": min_words}


def cdc_index_rows(df: DataFrame, text_col: str = "text",
                   key_col: str = "doc_id", divisor: int = 8,
                   min_words: int = 3) -> DataFrame:
    """DISTINCT (key, h) chunk-hash rows — the CDC pair generator's and
    index's row unit: a chunk repeated WITHIN a doc must not inflate a
    pair's agreement count."""
    from klepto_spark.operators.text import cdc_chunk_rows
    return cdc_chunk_rows(df, text_col, key_col, divisor,
                          min_words).distinct()


def cdc_write_index(df: DataFrame, path: str, text_col: str = "text",
                    key_col: str = "doc_id", divisor: int = 8,
                    min_words: int = 3, mode: str = "overwrite") -> None:
    """Persist DISTINCT (key, h) CDC chunk-hash rows — the at-rest index
    that makes shift-resistant dedup INCREMENTAL, completing the
    at-rest matrix for the fourth dedup family (exact / minhash /
    semantic / cdc): appending a batch later never re-chunks or
    re-hashes the existing corpus."""
    write_index(cdc_index_rows(df, text_col, key_col, divisor, min_words),
                path, "cdc", _cdc_scheme(key_col, divisor, min_words), mode)


def cdc_append(spark, path, new_docs: DataFrame,
               text_col: str = "text", key_col: str = "doc_id",
               divisor: int = 8, min_shared: int = 2,
               min_words: int = 3, max_bucket: int = 64,
               commit: bool = True) -> DataFrame:
    """CDC near-dup a NEW batch against an indexed corpus and
    (optionally) fold the batch's chunk hashes into the index. Returns
    (a, b, shared_chunks) pairs with a < b and at least one new-batch
    endpoint — old–old pairs were already known when the index was
    built.

    Scale shape — the :func:`minhash_append` posture applied to chunk
    hashes: the batch is chunked once and its DISTINCT hashes BROADCAST;
    the index is scanned exactly once through that broadcast semi-join
    (no index shuffle, no corpus re-chunk). Agreement counts are EXACT
    for every returned pair despite the touched-buckets restriction: a
    shared chunk is by definition in the new document, so every bucket
    that could vote for a batch-endpoint pair IS touched. Giant buckets
    star-cap as in the batch operator."""
    new_chunks = cdc_index_rows(new_docs, text_col, key_col, divisor,
                                min_words)
    idx = read_index(spark, path, (key_col, "h"), "cdc",
                     _cdc_scheme(key_col, divisor, min_words))
    probe = new_chunks.select("h").distinct()
    touched_old = idx.join(F.broadcast(probe), "h", "left_semi")
    members = touched_old.unionByName(new_chunks)
    weighted = (_chunk_weighted_pairs(members, key_col, max_bucket)
                .filter(F.col("shared_chunks") >= min_shared))
    new_keys = new_chunks.select(F.col(key_col).alias("__nk")).distinct()
    out = _pairs_with_batch_endpoint(weighted, new_keys)
    if commit:
        commit_index(spark, path, new_chunks, "cdc_append")
    return out


def semantic_dedup(docs: DataFrame, emb: DataFrame, threshold: float,
                   bits: int = 16, dim: int | None = None,
                   doc_key: str = "doc_id", vec_key: str = "vec_id",
                   vec_col: str = "embedding",
                   max_bucket: int = 64) -> DataFrame:
    """Embedding-cosine near-duplicate removal over a document corpus.

    The sixth dedup family: documents whose embeddings are cosine-similar
    beyond ``threshold`` are duplicates; of each similar pair the larger-id
    document is dropped (the standard greedy keep-first rule — deterministic
    and order-free). Pairs come from :func:`similarity.cosine_similar_pairs`
    (random-hyperplane LSH buckets -> bucket-local candidates -> exact
    cosine verify), so no all-pairs join exists anywhere.

    Scale shape: the pair set is tiny relative to the corpus, so the final
    anti-join broadcasts the duplicate-id list — the corpus itself is
    touched by exactly one scan with no shuffle.  Documents without an
    embedding row survive by construction (they can't appear in a pair).
    """
    from klepto_spark.operators.similarity import cosine_similar_pairs
    pairs = cosine_similar_pairs(emb, threshold, vec_col=vec_col,
                                 key_col=vec_key, bits=bits, dim=dim,
                                 max_bucket=max_bucket)
    dups = pairs.select(F.col("b").alias(doc_key)).distinct()
    return docs.join(F.broadcast(dups), doc_key, "left_anti")


def semantic_dedup_sql(threshold: float, bits: int, dim: int,
                       doc_table: str = "documents",
                       emb_table: str = "embeddings",
                       doc_key: str = "doc_id", vec_key: str = "vec_id",
                       vec_col: str = "embedding",
                       max_bucket: int = 64,
                       cols: str = "doc_id, lang, source, n_chars") -> str:
    """DuckDB oracle for :func:`semantic_dedup`: replays the exact
    hyperplane-signature pair generation (similarity.similar_pairs_sql),
    then anti-joins the larger-id side of each pair out of the corpus."""
    from klepto_spark.operators.similarity import similar_pairs_sql
    pairs = similar_pairs_sql(threshold, bits, dim, table=emb_table,
                              vec_col=vec_col, key_col=vec_key,
                              max_bucket=max_bucket)
    return f"""
SELECT {cols} FROM {doc_table} d
WHERE d.{doc_key} NOT IN (SELECT b FROM ({pairs}) pq)
"""


def simhash_col(col: Column | str, k: int = 4, bits: int = 64) -> Column:
    """Per-row SimHash as ONE column expression — no explode, no groupBy.

    :func:`simhash_df` is the batch shape (explode + hash-aggregate:
    map-side combine, the cheapest distributed form). This is its
    STREAMING-SAFE twin: Structured Streaming forbids an aggregation
    before a stateful dedup, so the fingerprint must be a stateless
    projection. One ``aggregate`` pass over the distinct-shingle hashes
    accumulates a (count, per-bit-votes) struct and the ``finish`` lambda
    assembles the fingerprint from the materialised accumulator — bit
    votes and fingerprint each evaluated exactly once per row (per-bit
    re-aggregation over the array would re-scan the shingles ``bits``
    times, the interpreted-HOF trap :func:`minhash_signature_df`'s
    docstring measures at ~150x).

    Bit-identical to ``simhash_df(..., hash_fn='xxhash64')``: same
    distinct lowercased shingles, same xxhash64 bit votes, same
    majority rule (vote > 0 <=> 2*count_set > n), ties to 0."""
    c = F.col(col) if isinstance(col, str) else col
    hs = F.transform(char_shingles(c, k), lambda s: F.xxhash64(s))
    zero = F.struct(F.lit(0).cast("long").alias("n"),
                    F.array_repeat(F.lit(0).cast("long"), bits).alias("c"))

    def merge(acc, h):
        bit_votes = F.array(*[
            F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("long")
            for b in range(bits)])
        return F.struct(
            (acc["n"] + 1).alias("n"),
            F.zip_with(acc["c"], bit_votes, lambda a, v: a + v).alias("c"))

    def finish(acc):
        fp = F.lit(0).cast("long")
        for b in range(bits):
            fp = fp.bitwiseOR(
                F.when(F.element_at(acc["c"], b + 1) * 2 > acc["n"],
                       F.shiftleft(F.lit(1).cast("long"), b))
                .otherwise(F.lit(0).cast("long")))
        return fp

    return F.aggregate(hs, zero, merge, finish)


def cross_corpus_pairs(old: DataFrame, new: DataFrame,
                       text_col: str = "text", key_col: str = "doc_id",
                       k: int = 5, num_hashes: int = 16, bands: int = 4,
                       max_bucket: int = 64,
                       per_doc_cap: int | None = None) -> DataFrame:
    """Near-duplicate DOCUMENT pairs BETWEEN two corpora (train vs
    held-out/benchmark) — the document-level decontamination step beside
    :func:`~klepto_spark.operators.text` n-gram decontamination: a val
    doc that near-duplicates a train doc leaks the answer even when no
    exact n-gram overlaps.

    Scale shape mirrors :func:`minhash_append` without the at-rest
    index: the ``new`` side's bands broadcast as the probe (pass the
    smaller corpus as ``new``), the other side is scanned once through
    the semi-join, and only touched
    buckets (bounded by |new| x bands x bucket size) are collected and
    expanded under the same star cap as the intra-corpus operator —
    cost follows the SMALL side, never |old| x |new|. Returned pairs
    always have the ``old``-side key in ``a`` and the ``new``-side key
    in ``b``; intra-corpus duplicates are excluded (run
    :func:`minhash_lsh_pairs` per side for those).

    Requires disjoint key spaces, and nothing checks it. A key present in
    both corpora counts as a ``new``-side key, so its pairs are silently
    dropped or mis-oriented: a pair with another ``new`` key is dropped
    (even a real match of its ``old`` copy), and a pair with an
    ``old``-only key comes back with the shared key in ``b`` (even when
    the match was its ``old`` copy, an intra-``old`` pair reported as a
    cross pair). The shared key never pairs with itself.

    ``per_doc_cap``: bound candidates to ~cap per doc by band agreement
    (:func:`cap_pairs_per_doc`) before orientation — the mass-near-copy
    defence; None keeps exact candidate semantics."""
    ob = minhash_band_rows(old, text_col, key_col, k, num_hashes, bands)
    # the small side's band rows feed the probe AND the member union:
    # persist so its shingling + minhash signatures compute once
    # (|new| x bands rows — bounded by the probe side by contract,
    # released by release_caches). Modest at the d08 contract's 10%
    # split (~5% measured at sf0.1 — the big side's one scan dominates)
    # but the win scales with the probe side's share.
    nb = minhash_band_rows(new, text_col, key_col, k, num_hashes,
                           bands).persist()
    _PINNED_CACHES.append(nb)
    return _cross_pairs(ob, nb, key_col, max_bucket, per_doc_cap)


def cross_corpus_pairs_indexed(spark, path, train: DataFrame,
                               text_col: str = "text",
                               key_col: str = "doc_id",
                               k: int = 5, num_hashes: int = 16,
                               bands: int = 4, max_bucket: int = 64,
                               per_doc_cap: int | None = None) -> DataFrame:
    """:func:`cross_corpus_pairs` against an AT-REST held-out index
    (VERDICT r06 ask): decontamination recurs — every new training dump
    is checked against the SAME benchmark/held-out set — so the held-out
    side's band rows (:func:`minhash_write_index`) are computed once and
    stored; each run re-shingles only the train side.

    Returns exactly what ``cross_corpus_pairs(train, held_out)`` would
    (pytest-pinned): same touched-bucket membership (the probe semi-join
    keeps every index row whose band a train doc shares), same star cap,
    same orientation — ``a`` is the train key, ``b`` the held-out key.
    Requires disjoint key spaces, and nothing checks it: a key both in
    ``train`` and in the index is silently dropped or mis-oriented as in
    :func:`cross_corpus_pairs` with the index as the ``new`` side (its
    pairs with other index keys are dropped, its pairs with train-only
    keys come back with it in ``b``, and it never pairs with itself).

    Scale shape: the held-out index is the SMALL side; its distinct
    bands broadcast as the probe and its keys broadcast for the
    orientation flags. The 100 TB train corpus is scanned once, never
    shuffled beyond its own band aggregation. ``path`` may be a list of
    paths (e.g. the epoch dirs of a streaming-built index)."""
    # the index rows feed FOUR consumers (probe bands, member union, and
    # both orientation-flag joins): persist so the parquet is read and
    # decoded once (bounded by the held-out side's size, released via
    # release_caches — the d08 nb pattern)
    ib = read_index(spark, path, (key_col, "band"), "minhash",
                    _minhash_scheme(key_col, k, num_hashes, bands)).persist()
    _PINNED_CACHES.append(ib)
    tb = minhash_band_rows(train, text_col, key_col, k, num_hashes, bands)
    return _cross_pairs(tb, ib, key_col, max_bucket, per_doc_cap)


# ---------------------------------------------------------------------------
# Incremental SEMANTIC dedup at rest: the embedding twin of
# minhash_write_index / minhash_append (VERDICT r06 ask). The index row is
# (key, rh-signature, unit-cost double vector); appending a batch probes
# only the touched signature buckets and never rescans or re-embeds the
# corpus at rest.
# ---------------------------------------------------------------------------


def _semantic_scheme(key_col: str, bits: int, dim: int | None) -> dict:
    # no dim from an empty build: any width indexes zero rows alike
    return {"key": key_col, "bits": bits, **({"dim": dim} if dim else {})}


def semantic_index_rows(emb: DataFrame, vec_col: str = "embedding",
                        key_col: str = "vec_id", bits: int = 16,
                        dim: int | None = None) -> DataFrame:
    """The semantic index's (key, signature, vector) rows — exposed so
    the managed derived store (sinks/derived.py) can build and publish
    the index itself."""
    from klepto_spark.operators.similarity import probe_dim, rh_signature
    if dim is None:
        # None on an empty frame: any width signs zero rows identically
        dim = probe_dim(emb, vec_col) or 1
    from klepto_spark.operators.similarity import _arr_sql
    v = F.col(vec_col).cast("array<double>")
    return emb.select(F.col(key_col),
                      rh_signature(_arr_sql(vec_col), bits, dim)
                      .alias("sig"),
                      v.alias("v"))


def semantic_write_index(emb: DataFrame, path: str,
                         vec_col: str = "embedding",
                         key_col: str = "vec_id", bits: int = 16,
                         dim: int | None = None,
                         mode: str = "overwrite") -> None:
    """Persist the corpus's (key, signature, vector) rows — the at-rest
    random-hyperplane LSH index that makes SEMANTIC dedup incremental.
    The vector is stored alongside the signature because the verify step
    needs it: unlike MinHash bands, LSH-bucket agreement alone is not
    the dedup identity — exact cosine confirms each candidate."""
    from klepto_spark.operators.similarity import probe_dim
    if dim is None:
        dim = probe_dim(emb, vec_col)
    write_index(semantic_index_rows(emb, vec_col, key_col, bits, dim), path,
                "semantic", _semantic_scheme(key_col, bits, dim), mode)


def semantic_append(spark, path, new_emb: DataFrame, threshold: float,
                    vec_col: str = "embedding", key_col: str = "vec_id",
                    bits: int = 16, dim: int | None = None,
                    max_bucket: int = 64, commit: bool = True) -> DataFrame:
    """Semantic-dedup a NEW embedding batch against an indexed corpus and
    (optionally) fold the batch in. Returns verified cosine pairs
    ``(a, b, cosine >= threshold)`` with at least one new-batch endpoint
    — exactly :func:`~klepto_spark.operators.similarity.
    cosine_similar_pairs` over (corpus ∪ batch) restricted to pairs
    touching the batch (pytest-pinned), because the probe semi-join
    keeps EVERY index row in a touched signature bucket, so bucket
    membership — and hence the star cap — matches the full recompute.

    Scale shape mirrors :func:`minhash_append`: the batch's distinct
    signatures broadcast as the probe; the index is scanned once through
    that semi-join (no index shuffle, no re-embedding, no signature
    recompute); only touched buckets expand, and the verify join reads
    vectors from the index rows themselves — the original corpus table
    is never opened."""
    from klepto_spark.operators.similarity import (
        cosine, empty_pair_frame, probe_dim)
    if dim is None:
        dim = probe_dim(new_emb, vec_col)
        if dim is None:
            # empty micro-batch (foreachBatch delivers these — ADVICE
            # r07): no new pairs, nothing to fold into the index
            return empty_pair_frame(new_emb, key_col)
    nb = semantic_index_rows(fan_out(new_emb, key_col), vec_col, key_col,
                             bits, dim)
    idx = read_index(spark, path, (key_col, "sig", "v"), "semantic",
                     _semantic_scheme(key_col, bits, dim))
    probe = nb.select("sig").distinct()
    touched = idx.join(F.broadcast(probe), "sig", "left_semi")
    # consumed three times below (bucket expansion + both verify-join
    # vector sides): persist so the index semi-scan AND the batch's
    # dim x bits signature projection run ONCE for the expensive union
    # instead of per consumer (measured at sf0.1: 3.0 s -> 2.1 s median,
    # same rows; persisting nb itself on top measured no further gain —
    # the remaining nb consumers are a sig-distinct and a key-distinct
    # over the batch, both trivial). The cached frame is touched-buckets
    # + batch sized — bounded by the probe, not the corpus
    # (MEMORY_AND_DISK, LRU-evictable, released by release_caches like
    # the Jaccard verifier's pins).
    members = touched.unionByName(nb).persist()
    _PINNED_CACHES.append(members)
    buckets = (members.groupBy("sig")
               .agg(F.array_sort(F.collect_set(key_col)).alias("ids"))
               .filter(F.size("ids") > 1))
    # full-signature buckets are disjoint -> pairs already unique
    cand = capped_bucket_pairs(buckets, max_bucket, dedup=False)
    new_keys = nb.select(F.col(key_col).alias("__nk")).distinct()
    flagged = _pairs_with_batch_endpoint(cand, new_keys)
    vecs = members.select(F.col(key_col), F.col("v"))
    joined = (flagged
              .join(vecs.withColumnRenamed(key_col, "a")
                    .withColumnRenamed("v", "va"), "a")
              .join(vecs.withColumnRenamed(key_col, "b")
                    .withColumnRenamed("v", "vb"), "b"))
    out = (joined
           .select("a", "b",
                   F.round(cosine(F.col("va"), F.col("vb")), 6)
                   .alias("cosine"))
           .filter(F.col("cosine") >= threshold))
    if commit:
        commit_index(spark, path, nb, "semantic_append")
    return out


def semdedup(docs: DataFrame, emb: DataFrame,
             centroids: list[list[float]], threshold: float,
             doc_key: str = "doc_id", vec_key: str = "vec_id",
             vec_col: str = "embedding",
             max_cluster: int = 64) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup with k-means
    clusters as the candidate buckets — the SEVENTH dedup family and
    the trained-codebook twin of :func:`semantic_dedup` (d06, whose
    hyperplane buckets are data-oblivious). Within each cluster, pairs
    whose exact cosine reaches ``threshold`` mark the larger key a
    duplicate; the corpus anti-joins the dropped ids out. The paper's
    pruning is exactly this keep-one-per-similar-group rule applied
    per cluster.

    Scale shape: pairs come from
    ``similarity.cluster_similar_pairs`` (assignment is one codegen'd
    projection; only (cluster, key) rows shuffle; giant clusters
    star-cap), and the duplicate-id list broadcasts into the anti-join
    — the corpus is touched by exactly one scan. Documents without an
    embedding row survive by construction."""
    from klepto_spark.operators.similarity import cluster_similar_pairs
    pairs = cluster_similar_pairs(emb, centroids, threshold,
                                  vec_col=vec_col, key_col=vec_key,
                                  max_cluster=max_cluster)
    dups = pairs.select(F.col("b").alias(doc_key)).distinct()
    return docs.join(F.broadcast(dups), doc_key, "left_anti")


def semdedup_sql(centroids: list[list[float]], threshold: float,
                 doc_table: str = "documents",
                 emb_table: str = "embeddings",
                 doc_key: str = "doc_id", vec_key: str = "vec_id",
                 vec_col: str = "embedding", max_cluster: int = 64,
                 cols: str = "doc_id, lang, source, n_chars") -> str:
    """DuckDB oracle for :func:`semdedup`: replays the exact centroid
    assignment + cluster-local pair generation
    (similarity.cluster_pairs_sql), then anti-joins the larger-id side
    of each pair out of the corpus."""
    from klepto_spark.operators.similarity import cluster_pairs_sql
    pairs = cluster_pairs_sql(centroids, threshold, table=emb_table,
                              vec_col=vec_col, key_col=vec_key,
                              max_cluster=max_cluster)
    return f"""
SELECT {cols} FROM {doc_table} d
WHERE d.{doc_key} NOT IN (SELECT b FROM ({pairs}) pq)
"""
