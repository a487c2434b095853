"""Round-14 operator tests: grouped top-k without a window sort (a40)
and the skew pattern's value-invisibility (a39)."""

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from klepto_spark.operators.topk import grouped_topk


def _window_topk(df, k):
    """The reference semantics: row_number over the window idiom."""
    w = (Window.partitionBy("g")
         .orderBy(F.desc("v"), F.asc("tie")))
    return (df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("g", F.col("rank").cast("int"), "tie", "v"))


def test_grouped_topk_matches_window_semantics(spark):
    """The aggregate-based plan must return EXACTLY what the window
    idiom returns — same rows, same ranks — over a corpus with
    duplicate order values (tie-break exercised) and uneven groups."""
    rows = [(g, i, float((i * 7) % 13)) for g in range(50)
            for i in range(g % 9 + 1)]
    df = spark.createDataFrame(rows, "g int, tie int, v double")
    got = sorted(map(tuple, grouped_topk(
        df, ["g"], "v", 3, tie_cols=["tie"]).collect()))
    want = sorted(map(tuple, _window_topk(df, 3).collect()))
    assert got == want


def test_grouped_topk_ties_and_small_groups(spark):
    """All-equal values rank purely by the tiebreaker; a group smaller
    than k returns all its rows and never pads."""
    df = spark.createDataFrame(
        [("a", 3, 1.0), ("a", 1, 1.0), ("a", 2, 1.0), ("b", 9, 5.0)],
        "g string, tie int, v double")
    out = {(r["g"], r["rank"]): r["tie"]
           for r in grouped_topk(df, ["g"], "v", 2,
                                 tie_cols=["tie"]).collect()}
    assert out == {("a", 1): 1, ("a", 2): 2, ("b", 1): 9}


def test_grouped_topk_layout_independent(spark):
    """Result is a pure function of the data — repartitioning the input
    cannot change rows or ranks (collect_list order is absorbed by the
    in-aggregate array_sort)."""
    rows = [(i % 40, i, float((i * 31) % 17)) for i in range(2000)]
    df = spark.createDataFrame(rows, "g int, tie int, v double")
    a = sorted(map(tuple, grouped_topk(
        df.repartition(1), ["g"], "v", 5, tie_cols=["tie"]).collect()))
    b = sorted(map(tuple, grouped_topk(
        df.repartition(17, "tie"), ["g"], "v", 5,
        tie_cols=["tie"]).collect()))
    assert a == b


def test_skewed_hot_key_salting_invisible(spark, sf_dir):
    """a39's defining contract: the salted two-phase plan returns
    byte-identical values to the plain groupBy + join it replaces."""
    import __spark_entry__ as entry
    got = sorted(map(tuple, entry.q_skewed_hot_key(
        spark, sf_dir).collect()))
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select(F.when(F.col("user_id") % 10 < 7, F.lit(0))
                  .otherwise(F.col("user_id")).cast("long")
                  .alias("hot_key"), "value"))
    dim = (spark.read.parquet(f"{sf_dir}/customer.parquet")
           .select(F.col("c_custkey").alias("hot_key"),
                   F.col("c_nationkey").alias("nation_key")))
    plain = (ev.join(dim, "hot_key")
             .groupBy("hot_key", "nation_key")
             .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                  F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("total_value"),
                  F.max("value").alias("max_value"))
             .orderBy("hot_key"))
    assert got == sorted(map(tuple, plain.collect()))


# ---------------------------------------------------------------------------
# d15: exact-threshold Jaccard via prefix filtering (operators/prefixjoin.py)
# ---------------------------------------------------------------------------

import itertools
import re as _re

from klepto_spark.operators.prefixjoin import jaccard_prefix_join


def _py_shingles(text, w=3):
    """Independent pure-Python truth for the word-shingle set — mirrors
    the engine rule: <w words emit the whole text as one shingle."""
    ws = _re.split(r"\s+", text.strip().lower())
    if len(ws) < w:
        return {" ".join(ws)}
    return {" ".join(ws[i:i + w]) for i in range(len(ws) - w + 1)}


def _py_truth(docs, tau=0.8, w=3):
    """Brute-force all-pairs truth, no pruning anywhere."""
    sets = {d: _py_shingles(t, w) for d, t in docs}
    out = []
    for (a, sa), (b, sb) in itertools.combinations(sorted(sets.items()), 2):
        i = len(sa & sb)
        u = len(sa | sb)
        j = i / max(u, 1)
        if round(j, 6) >= tau - 1e-12:
            out.append((a, b, j))
    return sorted(out)


def _corpus(spark):
    """Engineered corpus: exact dup (J=1), a pair at EXACTLY J=0.8
    (11 words differing in the last -> 8 shared / 10 union, dyadic so
    both engines round it identically and the inclusive boundary is
    pinned), a just-under pair (7/9 = 0.778), short/empty edge docs,
    and unrelated filler."""
    w11 = " ".join(f"w{i}" for i in range(11))
    w11b = " ".join(f"w{i}" for i in range(10)) + " zz"
    w10 = " ".join(f"w{i}" for i in range(10))
    w10b = " ".join(f"w{i}" for i in range(9)) + " zz"
    rows = [(1, w11), (2, w11b),          # J = 8/10 = 0.8 exactly
            (3, w10), (4, w10b),          # J = 7/9 ~ 0.778 — excluded
            (5, "same doc twice"), (6, "same doc twice"),   # J = 1
            (7, ""), (8, "one"), (9, "two words"),          # edges
            (10, "two words"),            # short-doc exact pair, J = 1
            (11, "totally unrelated filler text about nothing shared"),
            (12, "another disjoint document with its own vocabulary")]
    return rows, spark.createDataFrame(rows, "doc_id int, text string")


def test_prefix_join_equals_brute_force(spark):
    """Completeness AND exactness vs an engine-independent truth: the
    returned pair set is exactly every pair at J >= tau — including the
    inclusive J = 0.8 boundary — and values match to 1e-9."""
    rows, df = _corpus(spark)
    got = sorted((r.a, r.b, r.jaccard)
                 for r in jaccard_prefix_join(df).collect())
    want = _py_truth(rows)
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_, _, g), (_, _, t) in zip(got, want):
        assert abs(g - t) < 1.1e-6       # got is round(.,6), t is raw
    assert (1, 2, 0.8) in got            # the engineered boundary pair
    assert all(p[:2] != (3, 4) for p in got)   # just-under stays out
    assert (5, 6, 1.0) in got and (9, 10, 1.0) in got


def test_prefix_join_corpus_brute_force(spark, sf_dir):
    """Same completeness claim on the real documents table — the truth
    recomputed in Python from the collected corpus (small at test SF),
    so neither Spark's pruning nor the DuckDB oracle's is trusted."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    got = sorted((r.a, r.b, r.jaccard)
                 for r in jaccard_prefix_join(docs).collect())
    want = _py_truth(rows)
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_, _, g), (_, _, t) in zip(got, want):
        assert abs(g - t) < 1.1e-6       # got is round(.,6), t is raw


def test_prefix_join_threshold_monotone(spark):
    """Raising tau can only shrink the pair set, and every returned
    jaccard respects its own threshold — the prefix/size prunes
    re-derive from tau, so this exercises them at several lengths."""
    rows, df = _corpus(spark)
    prev = None
    for tau in (0.5, 0.8, 0.95):
        pairs = {(r.a, r.b) for r in
                 jaccard_prefix_join(df, threshold=tau).collect()}
        truth = {(a, b) for a, b, _ in _py_truth(rows, tau=tau)}
        assert pairs == truth, (tau, pairs ^ truth)
        if prev is not None:
            assert pairs <= prev
        prev = pairs


# ---------------------------------------------------------------------------
# t24: portable count-min sketch (operators/cms_portable.py)
# ---------------------------------------------------------------------------

import duckdb
import pytest

from klepto_spark.operators import cms_portable as C
from klepto_spark.operators.dedup import write_index_meta

# small geometry for the hand tests: w=32 forces real collisions so the
# overestimate branch is exercised, d=4 lets min-over-rows repair them
CM_SMALL = dict(w=32, d=4)

_FREQS = {"apple": 50, "banana": 20, "cherry": 5, "kiwi": 1}


def _stream(spark):
    rows = [(t,) for t, n in _FREQS.items() for _ in range(n)]
    return spark.createDataFrame(rows, "token string")


def _probe(spark):
    vals = [*_FREQS, "absent1", "absent2"]
    return spark.createDataFrame([(v,) for v in vals], "token string")


def test_cms_never_underestimates(spark):
    """The defining guarantee at a collision-forcing geometry: the
    estimate is >= the true count for EVERY probe (each occurrence
    incremented all d of its cells; min cannot dip below any of
    them)."""
    counters = C.cms_counters(_stream(spark), "token", **CM_SMALL)
    got = {r["token"]: r["est_count"]
           for r in C.cms_probe(counters, _probe(spark), "token",
                                **CM_SMALL).collect()}
    for t, n in _FREQS.items():
        assert got[t] >= n, (t, got[t], n)
    assert got["absent1"] >= 0 and got["absent2"] >= 0


def test_cms_exact_at_roomy_geometry(spark):
    """At the default geometry (w=1024 >> distinct values) the
    deterministic md5 columns collide nowhere in this stream, so the
    estimate IS the true count — pinning the arithmetic, not just the
    inequality."""
    counters = C.cms_counters(_stream(spark), "token")
    got = {r["token"]: r["est_count"]
           for r in C.cms_probe(counters, _probe(spark),
                                "token").collect()}
    assert got == {**_FREQS, "absent1": 0, "absent2": 0}


def test_cms_matches_duckdb_bit_identically(spark):
    """The portability contract: DuckDB computes the SAME counter
    matrix and the SAME min-over-rows estimates — exact integers, no
    float surface — at the collision-forcing geometry."""
    got = sorted(map(tuple, C.cms_probe(
        C.cms_counters(_stream(spark), "token", **CM_SMALL),
        _probe(spark), "token", **CM_SMALL).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE tk (token VARCHAR)")
    con.executemany("INSERT INTO tk VALUES (?)",
                    [(t,) for t, n in _FREQS.items() for _ in range(n)])
    con.execute("CREATE TABLE pv (token VARCHAR)")
    con.executemany("INSERT INTO pv VALUES (?)",
                    [(v,) for v in [*_FREQS, "absent1", "absent2"]])
    want = sorted(map(tuple, con.execute(C.probe_oracle_sql(
        "SELECT token FROM tk", "SELECT token FROM pv", "token",
        **CM_SMALL)).fetchall()))
    assert got == want


def test_cms_layout_independent(spark):
    """Counters must not depend on partitioning: a repartitioned
    stream folds to the identical matrix."""
    a = sorted(map(tuple, C.cms_counters(
        _stream(spark), "token", **CM_SMALL).collect()))
    b = sorted(map(tuple, C.cms_counters(
        _stream(spark).repartition(7), "token", **CM_SMALL).collect()))
    assert a == b


def test_cms_append_equals_full_recompute(spark, tmp_path):
    """The at-rest contract: the folded (index ∪ batch) counters are
    row-identical to a full recompute (counter addition is exact), and
    a committed append is visible to the next read after sum-on-read."""
    old = _stream(spark)
    new = spark.createDataFrame(
        [("apple",)] * 10 + [("durian",)] * 3, "token string")
    path = str(tmp_path / "cms_idx")
    C.cms_write(old, "token", [], path, **CM_SMALL)

    combined = C.cms_append(spark, path, new, "token", [], commit=False,
                            **CM_SMALL)
    full = C.cms_counters(old.unionByName(new), "token", **CM_SMALL)
    assert (sorted(map(tuple, combined.collect()))
            == sorted(map(tuple, full.collect())))

    C.cms_append(spark, path, new, "token", [], commit=True, **CM_SMALL)
    after = C.fold_counters(spark.read.parquet(path))
    assert (sorted(map(tuple, after.collect()))
            == sorted(map(tuple, full.collect())))


def test_cms_append_refuses_mismatched_or_missing_scheme(spark, tmp_path):
    """Geometry drift refuses — and so does a REQUIRED param absent
    from the stored meta (the r13 ADVICE rule: pre-scheme indexes must
    refuse, not silently merge)."""
    vals = _stream(spark)
    path = str(tmp_path / "cms_idx")
    C.cms_write(vals, "token", [], path, **CM_SMALL)
    write_index_meta(spark, path, "cms", {"w": 64, "d": 4})
    with pytest.raises(ValueError, match="different scheme"):
        C.cms_append(spark, path, vals, "token", [], **CM_SMALL)
    write_index_meta(spark, path, "cms", {"w": 32})   # d missing
    with pytest.raises(ValueError, match="different scheme|missing"):
        C.cms_append(spark, path, vals, "token", [], **CM_SMALL)


def test_streaming_cms_estimates_and_replay(spark, tmp_path):
    """Two micro-batches through process_epoch(cms()): epoch estimates
    cover everything at-or-before the batch (own occurrences included),
    bit-identical to cms_probe over that union; the non-idempotent sum
    is exactly why the ep= overwrite protocol is load-bearing — an
    out-of-order REPLAY of epoch 0 must leave both the index and every
    estimate byte-identical."""
    from klepto_spark.streaming.dedup import cms, process_epoch
    idx = str(tmp_path / "idx")
    est = str(tmp_path / "est")
    df1 = _stream(spark)                       # apple 50, banana 20, ...
    df2 = spark.createDataFrame(
        [("apple",)] * 10 + [("durian",)] * 3, "token string")
    family = cms("token", [], CM_SMALL["w"], CM_SMALL["d"])
    process_epoch(family, df1, 0, idx, est)
    process_epoch(family, df2, 1, idx, est)

    ep1 = {r["token"]: r["est_count"]
           for r in spark.read.parquet(f"{est}/ep=1").collect()}
    want = {r["token"]: r["est_count"] for r in C.cms_probe(
        C.cms_counters(df1.unionByName(df2), "token", **CM_SMALL),
        df2, "token", **CM_SMALL).collect()}
    assert ep1 == want
    assert ep1["apple"] >= 60 and ep1["durian"] >= 3

    before_idx = sorted(map(tuple, C.fold_counters(
        spark.read.parquet(idx).select("cm_row", "cm_col", "cnt"))
        .collect()))
    # replay epoch 0 AFTER epoch 1 committed: the pinned prior view
    # (ep < 0 = nothing) and the dir overwrite make it a no-op
    process_epoch(family, df1, 0, idx, est)
    after_idx = sorted(map(tuple, C.fold_counters(
        spark.read.parquet(idx).select("cm_row", "cm_col", "cnt"))
        .collect()))
    assert before_idx == after_idx
    ep0 = {r["token"]: r["est_count"]
           for r in spark.read.parquet(f"{est}/ep=0").collect()}
    assert ep0 == {r["token"]: r["est_count"] for r in C.cms_probe(
        C.cms_counters(df1, "token", **CM_SMALL), df1, "token",
        **CM_SMALL).collect()}


# ---------------------------------------------------------------------------
# Optimization r14: single-F.expr builds of the unrolled constant
# expressions must be EXACTLY the Column-by-Column trees they replaced
# ---------------------------------------------------------------------------

def test_expr_builders_match_column_builders(spark):
    """The SQL-text builders (dot/cosine/norm/rh/argmin/sq-dist) exist
    purely to cut py4j round-trips; any value drift — a mis-parsed
    literal, a re-associated sum — would silently move LSH buckets or
    k-boundaries. Pin bit-exact equality against the original Column
    forms on adversarial vectors (negatives, tiny exponents, exact
    zeros)."""
    from klepto_spark.operators import similarity as S

    rows = [([0.1, -2.5e-7, 3.0, -4.25],),
            ([0.0, -1.0, 0.0, 1e-5],),
            ([1e-300, -1.7976e308, 0.3000000000000001, 2.0],)]
    df = spark.createDataFrame(rows, "v array<float>")
    q = [0.25, -1.5, 1e-3, 7.0]
    cents = [[0.1, 0.2, 0.3, 0.4], [-1.0, 0.5, 0.0, 2.0]]
    vc = F.col("v").cast("array<double>")
    vs = S._arr_sql("v")

    pairs = [
        (S.dot_const(vc, q), F.expr(S.dot_expr(vs, q))),
        (S.norm_unrolled(vc, 4), F.expr(S.norm_expr(vs, 4))),
        (S.cosine_const(vc, q), F.expr(S.cosine_expr(vs, q))),
        (S.rh_signature(vc, bits=4, dim=4), S.rh_signature(vs, 4, 4)),
        (S._sq_dist_unrolled(vc, cents[0], 4),
         F.expr(S.sq_dist_expr(vs, cents[0]))),
        ((F.array_position(
            F.array(*[S._sq_dist_unrolled(vc, c, 4) for c in cents]),
            F.array_min(F.array(*[S._sq_dist_unrolled(vc, c, 4)
                                  for c in cents]))) - 1).cast("int"),
         F.expr(S.argmin_expr(vs, cents))),
    ]
    sel = df.select(*[p.alias(f"a{i}") for i, (p, _) in enumerate(pairs)],
                    *[e.alias(f"b{i}") for i, (_, e) in enumerate(pairs)])
    for r in sel.collect():
        for i in range(len(pairs)):
            a, b = r[f"a{i}"], r[f"b{i}"]
            if isinstance(a, float):
                import math as _m
                assert (a == b or (_m.isnan(a) and _m.isnan(b))), (i, a, b)
            else:
                assert a == b, (i, a, b)


def test_stopword_hits_expr_matches_column(spark):
    """stopword_hits' one-parse F.expr build (string col) must equal the
    Column-by-Column build bit for bit, including the padded-boundary
    replace chain and the per-word length arithmetic."""
    from klepto_spark.operators.text import LANG_STOPWORDS, stopword_hits
    rows = [("the cat and the hat, of course; it is that!",),
            ("der und der, das ist nicht: ein zu?",),
            ("no stopwords here",), ("",), ("the the the the",)]
    df = spark.createDataFrame(rows, "text string")
    cols = []
    for lang in sorted(LANG_STOPWORDS):
        cols.append(stopword_hits("text", lang).alias(f"e_{lang}"))
        cols.append(stopword_hits(F.col("text"), lang).alias(f"c_{lang}"))
    for r in df.select(*cols).collect():
        for lang in sorted(LANG_STOPWORDS):
            assert r[f"e_{lang}"] == r[f"c_{lang}"], (lang, dict(r.asDict()))


# ---------------------------------------------------------------------------
# Optimization r14 (round 2 of the session): scalar element casts in the
# unrolled builders — the array-cast-per-occurrence form busted the JVM's
# 64 KB method limit on the 64-dim cosine (janino "Code grows beyond
# 64 KB"), silently degrading s01/s08 to interpreted eval, and paid a
# whole-array conversion per TERM per row.
# ---------------------------------------------------------------------------

def test_elem_expr_rewrites_cast_and_slice():
    """_elem_expr rewrites the _arr_sql wrapper (and its PQ slice form)
    to a scalar element cast; anything else passes through untouched."""
    from klepto_spark.operators import similarity as S
    frag = S._arr_sql("emb")
    assert S._elem_expr(frag, 3) == "CAST(element_at(`emb`, 3) AS DOUBLE)"
    sl = f"slice({frag}, 9, 8)"
    # element 2 of slice(arr, 9, 8) is element 10 of arr
    assert S._elem_expr(sl, 2) == "CAST(element_at(`emb`, 10) AS DOUBLE)"
    # an index past the declared slice length keeps the literal form
    # (same out-of-bounds behaviour as before the rewrite)
    assert S._elem_expr(sl, 9) == f"element_at({sl}, 9)"
    # non-_arr_sql fragments are untouched
    assert S._elem_expr("array(1.0D)", 1) == "element_at(array(1.0D), 1)"


def test_unrolled_builders_emit_no_array_cast():
    """The expensive form must never reappear: a 64-dim cosine or
    squared-distance tree over an _arr_sql fragment contains zero
    array<double> casts (128+ of them is what broke codegen)."""
    from klepto_spark.operators import similarity as S
    frag = S._arr_sql("embedding")
    q = [0.015625 * (j - 32) for j in range(64)]
    assert "array<double>" not in S.cosine_expr(frag, q)
    assert "array<double>" not in S.sq_dist_expr(frag, q)


def test_slice_elem_rewrite_matches_slice_values(spark):
    """The PQ subspace rewrite (index arithmetic over the raw array) is
    value-identical to element_at over the materialised slice, including
    float->double widening and nulls."""
    from klepto_spark.operators import similarity as S
    rows = [([0.1, -2.5e-7, 3.0, -4.25, 1e-300, 7.5],),
            ([0.0, -1.0, None, 1e-5, 2.0, -0.0],)]
    df = spark.createDataFrame(rows, "v array<float>")
    frag = f"slice({S._arr_sql('v')}, 3, 4)"
    cols = []
    for j in range(1, 5):
        cols.append(F.expr(S._elem_expr(frag, j)).alias(f"n{j}"))
        cols.append(F.expr(f"element_at({frag}, {j})").alias(f"o{j}"))
    for r in df.select(*cols).collect():
        for j in range(1, 5):
            assert r[f"n{j}"] == r[f"o{j}"] or (
                r[f"n{j}"] is None and r[f"o{j}"] is None), (j, r)


def test_with_lang_id_matches_lang_id(spark):
    """The stacked-projection lang_id must equal the single-Column fold
    exactly — same scores, same 'und' default, same first-max tie-break
    (crafted ties: equal de/en scores must pick 'de', list order)."""
    from klepto_spark.operators.text import lang_id, with_lang_id
    rows = [(1, "the cat and the hat of it is that"),
            (2, "der hund und die katze das ist nicht ein zu"),
            (3, "xyzzy plugh"),          # zero scores -> und
            (4, "und the"),              # 1-1 tie -> first in sorted order
            (5, ""), (6, "el la de que los es una por"),
            (7, "le la et les des est une que")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["l"] for r in
         df.select("doc_id", lang_id("text").alias("l")).collect()}
    b = {r["doc_id"]: r["lang_pred"] for r in
         with_lang_id(df, "text").select("doc_id", "lang_pred").collect()}
    assert a == b, (a, b)
    # the padded text and scores must materialise as their own projects
    # (the whole point): three Project nodes between scan and output
    plan = with_lang_id(df, "text")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Project") >= 2, plan
