"""Similarity search over embedding columns (engine extension, M5).

Two paths:

- brute-force cosine top-k: exact baseline. The query vector broadcasts as a
  literal; the scan is a single narrow map + TakeOrderedAndProject — at
  100 TB this is scan-bound and embarrassingly parallel, no shuffle.
- LSH-bucketed ANN (random hyperplane / SimHash-for-vectors): probe only the
  bucket(s) matching the query signature — turns full scans into partition-
  prunable lookups when the table is written bucketed/partitioned by
  signature. The scale path for repeated queries.

Vector math uses built-in higher-order functions (zip_with/aggregate), which
run inside Tungsten; for very wide vectors a pandas_udf dot product can be
swapped in, but at 128-dim the built-ins win by avoiding Arrow transfer.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame, functions as F


# ---------------------------------------------------------------------------
# Spark-SQL text builders for the unrolled constant expressions
# (optimization r14). Building a 64-term dot product Column-by-Column costs
# hundreds of py4j round-trips PER CALL (~1 ms each in this sandbox; the
# s04-s07 codebook trees reached several SECONDS of driver time per query
# construction). Rendering the identical expression as ONE SQL string and
# parsing it with a single F.expr() moves the whole tree across the
# boundary in one round-trip. Exactness: the strings mirror the Column
# builders token for token — same element_at calls, same explicit
# parenthesisation (SQL + is left-associative, matching the Column fold),
# and double literals use the `<repr>D` suffix, which Spark parses with
# Double.parseDouble — the same bits Python's repr round-trips (pinned by
# tests/test_round14_ops.py::test_expr_builders_match_column_builders).
# ---------------------------------------------------------------------------

def _d(x: float) -> str:
    """A Spark-SQL DOUBLE literal with the exact bits of ``x``.

    Non-finite values render as CAST('...' AS DOUBLE) — 'inf'/'nan'
    repr text is not parseable SQL, and the historical Column path
    (F.lit) accepted them (ADVICE r14)."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _arr_sql(col: str) -> str:
    """SQL fragment casting a named column to array<double> — what every
    call site previously built as F.col(c).cast('array<double>')."""
    return f"cast(`{col}` as array<double>)"


#: The exact shape _arr_sql emits. When an element access targets this
#: wrapper, cast the ELEMENT, not the array: codegen inlines a full
#: array-conversion loop (~100 lines + an allocation per row) for EVERY
#: occurrence of the array cast, so a 64-dim cosine (128 occurrences
#: across dot + norm) pushed the fused WholeStageCodegen method past the
#: JVM's 64 KB bytecode limit — janino "Code grows beyond 64 KB", whole
#: stage silently falling back to interpreted eval (observed on
#: s01/s08). CAST(element_at(col, j) AS DOUBLE) is the same value
#: (float->double widening is exact for every float) in ~5 lines of
#: codegen with no allocation.
_ARR_CAST_RE = re.compile(r"^cast\((`[^`]+`) as array<double>\)$")

#: Same wrapper under a contiguous slice (the PQ subspace fragments).
#: element j of slice(arr, start, n) IS element start+j-1 of arr for any
#: in-bounds access — identical value and identical out-of-bounds
#: behaviour for the guarded shapes that emit it (pq_encode CASE-guards
#: on size(arr) = m*sub, so every evaluated access is in-bounds), while
#: skipping a per-occurrence array conversion AND a slice allocation.
_SLICE_CAST_RE = re.compile(
    r"^slice\(cast\((`[^`]+`) as array<double>\), (\d+), (\d+)\)$")


def _elem_expr(v_sql: str, j: int) -> str:
    """SQL for element ``j`` (1-based) of the fragment, as a DOUBLE."""
    m = _ARR_CAST_RE.match(v_sql)
    if m:
        return f"CAST(element_at({m.group(1)}, {j}) AS DOUBLE)"
    m = _SLICE_CAST_RE.match(v_sql)
    if m and j <= int(m.group(3)):
        return (f"CAST(element_at({m.group(1)}, "
                f"{int(m.group(2)) + j - 1}) AS DOUBLE)")
    return f"element_at({v_sql}, {j})"


def dot_expr(v_sql: str, q: list[float]) -> str:
    """SQL text of :func:`dot_const` over the fragment ``v_sql``."""
    return " + ".join(
        f"({_elem_expr(v_sql, j + 1)} * {_d(q[j])})"
        for j in range(len(q)))


def norm_expr(v_sql: str, dim: int) -> str:
    """SQL text of :func:`norm_unrolled`."""
    terms = " + ".join(
        f"({_elem_expr(v_sql, j + 1)} * {_elem_expr(v_sql, j + 1)})"
        for j in range(dim))
    return f"SQRT({terms})"


def cosine_expr(v_sql: str, q: list[float]) -> str:
    """SQL text of :func:`cosine_const` (query norm folded at plan time
    with the same left-to-right float64 accumulation)."""
    acc = 0.0
    for x in q:
        acc += float(x) * float(x)
    return (f"({dot_expr(v_sql, q)}) / "
            f"({norm_expr(v_sql, len(q))} * {_d(math.sqrt(acc))})")


def dot(a: Column, b: Column) -> Column:
    """Row-vector x row-vector dot product (fold; interpreted — fine for
    small candidate sets, use the *_const variants for scans)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def dot_const(v: Column | str, q: list[float]) -> Column:
    """Row-vector x plan-time-constant dot product, UNROLLED into plain
    arithmetic: higher-order folds run interpreted (no whole-stage codegen),
    which dominated scan profiles; an element_at sum chain stays codegen'd.
    Left-associated in ascending index order — bit-identical to the fold.

    Pass ``v`` as a SQL fragment (string) to build the tree in ONE
    F.expr round-trip instead of ~3 py4j calls per term (see the
    *_expr builders above); a Column keeps the per-term path."""
    if isinstance(v, str):
        return F.expr(dot_expr(v, q))
    terms = [F.element_at(v, j + 1) * float(q[j]) for j in range(len(q))]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def norm_unrolled(v: Column | str, dim: int) -> Column:
    if isinstance(v, str):
        return F.expr(norm_expr(v, dim))
    terms = [F.element_at(v, j + 1) * F.element_at(v, j + 1)
             for j in range(dim)]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return F.sqrt(out)


def cosine_const(v: Column | str, q: list[float]) -> Column:
    """cosine(row vector, constant vector) — codegen-friendly unrolled form;
    the query norm is folded at plan time (same ascending-order float64
    arithmetic, so values match the in-engine computation exactly).
    String ``v`` = SQL fragment -> single-F.expr build (see dot_const)."""
    if isinstance(v, str):
        return F.expr(cosine_expr(v, q))
    # plain left-to-right sum (not fsum): must match the engine's fold order
    acc = 0.0
    for x in q:
        acc += float(x) * float(x)
    return dot_const(v, q) / (norm_unrolled(v, len(q)) * math.sqrt(acc))


def brute_force_topk(df: DataFrame, query: list[float],
                     vec_col: str = "embedding", key_col: str = "vec_id",
                     k: int = 10) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    Emits (key, score); compiles to scan -> project -> TakeOrderedAndProject
    (verified in tests) — no global sort, no shuffle of vectors."""
    from klepto_spark.operators.dedup import fan_out
    score = cosine_const(_arr_sql(vec_col), query)
    return (fan_out(df, key_col)
            .select(F.col(key_col), F.round(score, 6).alias("score"))
            .orderBy(F.desc("score"), F.col(key_col))
            .limit(k))


def cosine_similar_pairs(df: DataFrame, threshold: float,
                         vec_col: str = "embedding", key_col: str = "vec_id",
                         bits: int = 16, dim: int | None = None,
                         max_bucket: int = 64) -> DataFrame:
    """Embedding near-duplicate pairs: LSH-bucket then verify.

    Random-hyperplane signatures bucket the vectors; candidate pairs expand
    bucket-locally (one groupBy shuffle, no self-join, signatures computed
    once, giant buckets star-capped — see dedup.capped_bucket_pairs), then
    the small candidate list broadcast-joins the vectors back for exact
    cosine verification — same scale shape as dedup.minhash_lsh_pairs.

    Pass ``dim`` explicitly when known — it is a plan-time constant, and
    the fallback probe costs one extra (1-row) job."""
    from klepto_spark.operators.dedup import capped_bucket_pairs, fan_out
    spread = fan_out(df, key_col)
    if dim is None:
        dim = probe_dim(df, vec_col)  # plan-time probe (1 row)
        if dim is None:
            # empty frame (a streaming bootstrap batch can be empty —
            # ADVICE r07): no pairs, but keep the (a, b, cosine) schema
            return empty_pair_frame(df, key_col)
    sig = rh_signature(_arr_sql(vec_col), bits, dim=dim)
    with_sig = spread.select(F.col(key_col), sig.alias("sig"))
    buckets = (with_sig.groupBy("sig")
               .agg(F.array_sort(F.collect_set(key_col)).alias("ids"))
               .filter(F.size("ids") > 1))
    # Full-signature buckets are disjoint -> pairs already unique, skip
    # the distinct shuffle.
    cand = capped_bucket_pairs(buckets, max_bucket, dedup=False)
    vecs = spread.select(F.col(key_col), F.col(vec_col).cast("array<double>")
                         .alias("v"))
    joined = (cand
              .join(vecs.withColumnRenamed(key_col, "a")
                    .withColumnRenamed("v", "va"), "a")
              .join(vecs.withColumnRenamed(key_col, "b")
                    .withColumnRenamed("v", "vb"), "b"))
    score = cosine(F.col("va"), F.col("vb"))
    return (joined.select("a", "b", F.round(score, 6).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def probe_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector width from the first non-null row; ``None`` when the frame
    is empty (or all-null) — streaming callers see empty micro-batches,
    and an unguarded ``first()[0]`` raised TypeError there (ADVICE r07)."""
    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    return None if row is None else len(row[0])


def empty_pair_frame(df: DataFrame, key_col: str) -> DataFrame:
    """A zero-row (a, b, cosine) frame with ``a``/``b`` typed like
    ``key_col`` — what the pair operators return for an empty input."""
    return (df.select(F.col(key_col).alias("a"), F.col(key_col).alias("b"),
                      F.lit(0.0).cast("double").alias("cosine"))
            .limit(0))


def _hyperplane(bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane (seeded by bit index) —
    no RNG state to ship to executors.

    The per-bit term changes the sinusoid's FREQUENCY, not just its phase:
    phase-only seeding (sin(a*bit + f*j)) produces planes that are near-
    parallel shifts of one another (pairwise |cos| ~0.99), collapsing the
    signature to ~1 effective bit. With per-bit frequencies the planes are
    near-orthogonal (measured pairwise |cos| < 0.09 at dim=64)."""
    vals = [math.sin((j + 1) * (17.23 + 7.61 * bit) + 0.9 * bit)
            for j in range(dim)]
    n = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / n for v in vals]


def rh_signature(vec: Column | str, bits: int = 16, dim: int = 64) -> Column:
    """Random-hyperplane LSH signature as a bits-length bitstring; ``dim``
    must match the vector length (hyperplanes are unrolled at plan time).
    String ``vec`` = SQL fragment -> single-F.expr build (see dot_const)."""
    if isinstance(vec, str):
        cases = ", ".join(
            f"CASE WHEN ({dot_expr(vec, _hyperplane(b, dim))}) >= 0 "
            "THEN '1' ELSE '0' END"
            for b in range(bits))
        return F.expr(f"concat({cases})")
    parts = []
    for b in range(bits):
        plane = _hyperplane(b, dim)
        parts.append(F.when(dot_const(vec, plane) >= 0, F.lit("1"))
                     .otherwise(F.lit("0")))
    return F.concat(*parts)


def rh_signature_sql(vec_expr: str, bits: int, dim: int) -> str:
    """ANSI-SQL twin of :func:`rh_signature` (DuckDB oracle).

    The hyperplanes are deterministic plan-time constants, so the signature
    is expressible as literal arithmetic: per bit, an unrolled left-
    associated double dot product — the exact evaluation order Spark's
    ``dot_const`` emits, so the sign (and hence the bucket) is bit-identical
    across engines. Python float repr round-trips to the same IEEE double in
    both parsers."""
    cases = []
    for b in range(bits):
        plane = _hyperplane(b, dim)
        s = " + ".join(f"{vec_expr}[{j + 1}] * {plane[j]!r}"
                       for j in range(dim))
        cases.append(f"CASE WHEN ({s}) >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(cases) + ")"


def similar_pairs_sql(threshold: float, bits: int, dim: int,
                      table: str = "embeddings", vec_col: str = "embedding",
                      key_col: str = "vec_id", max_bucket: int = 64) -> str:
    """DuckDB oracle for :func:`cosine_similar_pairs`: same buckets (exact
    signature arithmetic), same a<b pair expansion with the same star cap
    on oversize buckets, same round-6 cosine filter. Choose ``threshold``
    in a gap of the candidate cosine distribution so the float round cannot
    flip membership."""
    sig = rh_signature_sql("v", bits, dim)
    return f"""
WITH e AS (SELECT {key_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}),
sig AS (SELECT {key_col}, v, {sig} AS sig FROM e),
st AS (SELECT sig, count(*) AS n, min({key_col}) AS mn FROM sig GROUP BY sig)
SELECT l.{key_col} AS a, r.{key_col} AS b,
       round(list_cosine_similarity(l.v, r.v), 6) AS cosine
FROM sig l JOIN sig r ON l.sig = r.sig AND l.{key_col} < r.{key_col}
JOIN st s ON s.sig = l.sig
WHERE (s.n <= {max_bucket} OR l.{key_col} = s.mn)
  AND round(list_cosine_similarity(l.v, r.v), 6) >= {threshold}
"""


# Above this many unrolled distance terms, generated Java exceeds janino's
# method limits: compilation fails and the job silently drops to
# interpreted mode (~100x slower, measured at k=8 x dim=64).
_CODEGEN_TERM_BUDGET = 512

# Cap on float64 elements a vectorised-UDF temporary may allocate per
# chunk (~256 MB): the subtract-square distance forms build an
# (n, k, dim) broadcast temporary, which at k=1024 x dim=768 x a 10k-row
# Arrow batch would be ~63 GB in one allocation without row chunking.
_BATCH_TEMP_ELEMS = 32 * 1024 * 1024


def _row_chunks(n_rows: int, per_row_elems: int):
    step = max(1, _BATCH_TEMP_ELEMS // max(1, per_row_elems))
    for s in range(0, n_rows, step):
        yield s, min(n_rows, s + step)


def _valid_matrix(rows: list, dim: int):
    """(V, mask): float64 matrix of the VALID rows and their positions.
    NULL rows and wrong-dimension rows are masked out instead of
    crashing the UDF — the expression paths these helpers replace
    propagated NULL, so callers see the same drop-the-row semantics."""
    import numpy as np
    # fast path: every row present with the right shape (the normal
    # case) — one C-level conversion, no per-row Python
    try:
        V = np.asarray(rows, dtype=np.float64)
        if V.ndim == 2 and V.shape[1] == dim:
            finite = np.isfinite(V).all(axis=1)
            if finite.all():
                return V, finite
            return V[finite], finite
    except (TypeError, ValueError):
        pass
    mask = np.fromiter((r is not None and len(r) == dim for r in rows),
                       dtype=bool, count=len(rows))
    valid = [rows[i] for i in np.nonzero(mask)[0]]
    try:
        V = (np.asarray(valid, dtype=np.float64) if valid
             else np.empty((0, dim)))
    except (TypeError, ValueError):  # NULL elements arriving as None
        keep = [all(x is not None for x in r) for r in valid]
        idx = np.nonzero(mask)[0]
        mask[idx[~np.asarray(keep, dtype=bool)]] = False
        valid = [v for v, k in zip(valid, keep) if k]
        V = (np.asarray(valid, dtype=np.float64) if valid
             else np.empty((0, dim)))
    if len(V):
        # NULL elements usually arrive as NaN through Arrow; a NaN (or
        # inf) row would win/lose argmin arbitrarily — mask it instead
        finite = np.isfinite(V).all(axis=1)
        if not finite.all():
            mask[np.nonzero(mask)[0][~finite]] = False
            V = V[finite]
    return V, mask


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding", key_col: str = "vec_id") -> DataFrame:
    """IVF coarse quantisation: assign each vector to its nearest centroid
    (first minimum on ties).

    Small k x dim stays pure expression (codegen'd, oracle-replayable):
    distances build ONE array column, argmin = array_position(array_min)
    — each distance appears exactly once (a when-chain would re-embed
    every previous distance per branch, exploding combinatorially).
    Past the codegen budget it switches to an Arrow-vectorised pandas
    UDF: numpy argmin over |v|^2 - 2 V.C^T + |c|^2 — the only form that
    scales to hundreds of centroids.

    At scale, write the output partitioned by ``cluster`` so ANN queries
    prune to the probed clusters' files only."""
    return df.select(F.col(key_col),
                     _argmin_cluster(_arr_sql(vec_col),
                                     centroids).alias("cluster"))


def _argmin_cluster(v: Column, centroids: list[list[float]]) -> Column:
    # The argmin form inlines the distance ARRAY twice (array_position +
    # array_min), so the generated method carries 2*k*dim terms — at
    # k*dim = 512 janino refuses the method and the stage silently runs
    # INTERPRETED with no codegen at all (measured: 9.8 s vs 1.7 s on
    # 5k rows x 8x64). Budget the doubled size, and send the mid range
    # to the SUBTRACT-SQUARE Arrow kernel (the ivf_topk precedent):
    # ((v-c)^2).sum tracks the unrolled fold / DuckDB oracle to
    # summation order only — below any measured assignment margin.
    # The expanded BLAS form (|v|^2 - 2VC^T + |c|^2) stays the
    # hundreds-of-centroids path; its last-ulp drift vs the oracle is
    # why it never serves oracle-checked constants.
    terms = len(centroids) * len(centroids[0])
    if 2 * terms <= _CODEGEN_TERM_BUDGET:
        if isinstance(v, str):  # one-F.expr build (optimization r14)
            return F.expr(argmin_expr(v, centroids))
        ds = F.array(*[_sq_dist_unrolled(v, cent, len(cent))
                       for cent in centroids])
        return (F.array_position(ds, F.array_min(ds)) - 1).cast("int")
    if isinstance(v, str):
        v = F.expr(v)
    if terms <= 8 * _CODEGEN_TERM_BUDGET:
        return _argmin_sq_pandas(centroids)(v)
    return _argmin_pandas(centroids)(v)


def _argmin_pandas(centroids: list[list[float]]):
    """Vectorised nearest-centroid: one BLAS matmul per Arrow batch.
    Ties keep the first minimum (np.argmin), matching the expression
    path's semantics — though the expanded-form float arithmetic can
    differ in the last ulp from the subtract-square form on near-exact
    ties, so oracle-checked paths stay under the codegen budget."""
    import numpy as np
    import pandas as pd  # noqa: F401 — resolves the UDF's type hints
    from pyspark.sql.functions import pandas_udf
    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    dim = C.shape[1]

    def assign(vs):
        rows = vs.tolist()
        V, mask = _valid_matrix(rows, dim)
        d = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c2[None, :]
        codes = np.argmin(d, axis=1) if len(V) else np.empty(0, dtype=int)
        if mask.all():
            return pd.Series(codes.astype(np.int32))
        out = [None] * len(rows)
        for pos, c in zip(np.nonzero(mask)[0], codes):
            out[pos] = int(c)
        return pd.Series(out, dtype="object")

    assign.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return pandas_udf(assign, "int")


def sq_dist_list_sql(centroids: list[list[float]], vec: str = "v",
                     offset: int = 0) -> str:
    """The unrolled squared-distance LIST as DuckDB SQL — THE
    exactness-critical expression every assignment oracle shares:
    terms left-associated in element order, bit-identical to
    ``_sq_dist_unrolled``'s fold (0.0 + t1 == t1 in IEEE). One
    definition so the oracle call sites (IVF, IVF-PQ subspaces,
    SemDeDup clusters, cluster-stratified sampling) can never drift
    apart in float formatting, associativity or indexing."""
    dists = []
    for cent in centroids:
        terms = " + ".join(
            f"({vec}[{offset + j + 1}] - {float(cent[j])!r})"
            f" * ({vec}[{offset + j + 1}] - {float(cent[j])!r})"
            for j in range(len(cent)))
        dists.append(f"({terms})")
    return "[" + ", ".join(dists) + "]"


def _nearest_clusters(query: list[float], centroids: list[list[float]],
                      n_probe: int) -> list[int]:
    def dist(c1, c2):
        return sum((x - y) ** 2 for x, y in zip(c1, c2))
    return sorted(range(len(centroids)),
                  key=lambda i: dist(centroids[i], query))[:n_probe]


def ivf_topk(df: DataFrame, query: list[float], centroids: list[list[float]],
             n_probe: int = 2, vec_col: str = "embedding",
             key_col: str = "vec_id", k: int = 10) -> DataFrame:
    """IVF ANN over an in-flight DataFrame: score only vectors in the
    n_probe nearest clusters. This form still SCANS everything (the
    assignment must be computed); for repeated queries build the at-rest
    index with :func:`ivf_write_index` so the scan itself prunes."""
    probed = _nearest_clusters(query, centroids, n_probe)
    c = F.col(vec_col).cast("array<double>")
    # The assignment is a pure projection of the row — compute it inline
    # and filter, ONE scan with zero joins (the previous form built a
    # second DataFrame and semi-joined it back: two scans + a join).
    # The argmin goes through the Arrow-vectorised path even when k*dim
    # fits the codegen budget: fused with the cosine scoring it shares a
    # whole-stage-codegen method, and the COMBINED tree blows janino's
    # 64KB method limit — the stage silently drops to interpreted mode
    # (measured: 8.6 s vs 1.4 s on 100k rows). The UDF splits the stage,
    # so the scoring side keeps codegen.
    # No filter on the assignment: a filter over the UDF-derived column
    # collapses through the projection and re-evaluates the Arrow UDF in
    # a second ArrowEvalPython node (measured 2x). Instead the score is
    # guarded in the SAME projection — rows outside the probed clusters
    # (and invalid vectors, whose assignment is NULL) get a NULL score,
    # sort after every real score, and are dropped above the limit, which
    # is a pushdown barrier. Identical result to filter-first. fan_out
    # runs BEFORE the UDF so the assignment itself is spread too.
    from klepto_spark.operators.dedup import fan_out
    cluster = _argmin_sq_pandas(centroids)(c)
    score = cosine_const(_arr_sql(vec_col), query)
    guarded = F.when(cluster.isin([int(p) for p in probed]),
                     F.round(score, 6))
    return (fan_out(df, key_col)
            .select(F.col(key_col), guarded.alias("score"))
            .orderBy(F.desc_nulls_last("score"), F.col(key_col))
            .limit(k)
            .filter(F.col("score").isNotNull()))


def _argmin_sq_pandas(centroids: list[list[float]]):
    """Vectorised nearest-centroid in the SAME subtract-square form as
    ``_sq_dist_unrolled`` ((v-c)^2 summed) so values track the expression
    path / DuckDB oracle to summation order only — below any measured
    assignment margin. Ties keep the first minimum (np.argmin), matching
    both."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    C = np.asarray(centroids, dtype=np.float64)          # (k, dim)
    k, dim = C.shape

    def assign(vs):
        rows = vs.tolist()
        V, mask = _valid_matrix(rows, dim)
        codes = np.empty(len(V), dtype=np.int64)
        for s, e in _row_chunks(len(V), k * dim):
            d = ((V[s:e, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            codes[s:e] = np.argmin(d, axis=1)
        if mask.all():
            return pd.Series(codes.astype(np.int32))
        out = [None] * len(rows)
        for pos, c in zip(np.nonzero(mask)[0], codes):
            out[pos] = int(c)
        return pd.Series(out, dtype="object")

    assign.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return pandas_udf(assign, "int")


def kmeans_fit(df: DataFrame, k: int, vec_col: str = "embedding",
               key_col: str = "vec_id", max_iter: int = 10,
               tol: float = 1e-4, dim: int | None = None) -> list[list[float]]:
    """Train IVF centroids: Lloyd's k-means as DataFrame aggregations.

    Each iteration is ONE job: the assignment expression (codegen'd
    unrolled distances, same arithmetic as ivf_assign) feeds a
    groupBy(cluster) with per-dimension avg — map-side combine, a shuffle
    of k×dim partial sums, never raw vectors. Centroids (k×dim doubles)
    are the only driver-side state, so the loop scales to any corpus the
    scan scales to.

    Deterministic: init takes the k vectors with the smallest keys;
    identical inputs give identical centroids on any cluster layout.
    Empty clusters keep their previous centroid. Stops early when the max
    centroid shift drops below ``tol``."""
    v = F.col(vec_col).cast("array<double>")
    # training reads the corpus ONCE: the projected (key, vector) frame
    # persists across Lloyd rounds (MEMORY_AND_DISK — spills rather than
    # fails), so init, dim probe, and every iteration hit the cache
    # instead of re-running the scan + projection max_iter times
    proj = df.select(F.col(key_col).alias("_k"), v.alias("v")).persist()
    try:
        if dim is None:
            dim = len(proj.select("v").first()[0])
        init = (proj.orderBy("_k").limit(k).select("v").collect())
        cents = [list(r["v"]) for r in init]
        if len(cents) < k:
            raise ValueError(
                f"need at least k={k} vectors, got {len(cents)}")

        base = proj.select("v")
        for _ in range(max_iter):
            # always the pandas path: every iteration re-plans with fresh
            # centroid constants, so the expression form pays a
            # multi-second codegen COMPILE per round — the opaque UDF
            # doesn't
            cluster = _argmin_pandas(cents)(F.col("v"))
            agg = (base.select(cluster.alias("cluster"), "v")
                   .groupBy("cluster")
                   .agg(*[F.avg(F.element_at("v", j + 1)).alias(f"c{j}")
                          for j in range(dim)])
                   .collect())
            new_cents = list(cents)  # empty clusters keep prev centroid
            for row in agg:
                new_cents[row["cluster"]] = [row[f"c{j}"]
                                             for j in range(dim)]
            shift = max(
                max(abs(a - b) for a, b in zip(old, new))
                for old, new in zip(cents, new_cents))
            cents = new_cents
            if shift < tol:
                break
        return cents
    finally:
        proj.unpersist()


def _sq_dist_unrolled(v: Column, cent: list[float], dim: int) -> Column:
    terms = [(F.element_at(v, j + 1) - float(cent[j]))
             * (F.element_at(v, j + 1) - float(cent[j]))
             for j in range(dim)]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def sq_dist_expr(v_sql: str, cent: list[float]) -> str:
    """SQL text of :func:`_sq_dist_unrolled` (same subtract-square terms,
    left-associated) — the one-round-trip build (optimization r14)."""
    return " + ".join(
        f"(({_elem_expr(v_sql, j + 1)} - {_d(cent[j])}) * "
        f"({_elem_expr(v_sql, j + 1)} - {_d(cent[j])}))"
        for j in range(len(cent)))


def argmin_expr(v_sql: str, centroids: list[list[float]]) -> str:
    """SQL text of the expression-path argmin in :func:`_argmin_cluster`
    — the distance array is inlined twice (array_position + array_min),
    exactly like the Column form, so codegen budgeting is unchanged."""
    ds = ("array(" + ", ".join(f"({sq_dist_expr(v_sql, cent)})"
                               for cent in centroids) + ")")
    return f"CAST((array_position({ds}, array_min({ds})) - 1) AS INT)"


def ivf_topk_sql(query: list[float], centroids: list[list[float]],
                 n_probe: int = 2, k: int = 10, table: str = "embeddings",
                 vec_col: str = "embedding", key_col: str = "vec_id") -> str:
    """DuckDB oracle for :func:`ivf_topk`. The distance expressions unroll
    left-associated in element order — bit-identical to the zip_with/
    aggregate fold (0.0 + t1 == t1 in IEEE), so cluster argmin agrees
    exactly; ties keep the first minimum on both engines (strict < in
    ivf_assign, list_position finds the first match). Choose centroids
    with clear assignment margins and a k-boundary score gap (both
    measured for the contract constants)."""
    ds = sq_dist_list_sql(centroids)
    qlit = "[" + ", ".join(repr(float(x)) for x in query) + "]"
    probed = ", ".join(str(p) for p in
                       _nearest_clusters(query, centroids, n_probe))
    return f"""
WITH e AS (SELECT {key_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}),
a AS (SELECT {key_col}, v, {ds} AS ds FROM e),
c AS (SELECT {key_col}, v, list_position(ds, list_min(ds)) - 1 AS cluster FROM a)
SELECT {key_col}, round(list_cosine_similarity(v, {qlit}), 6) AS score
FROM c WHERE cluster IN ({probed})
ORDER BY score DESC, {key_col} LIMIT {k}
"""


def ivf_write_index(df: DataFrame, centroids: list[list[float]], path: str,
                    vec_col: str = "embedding", key_col: str = "vec_id",
                    mode: str = "overwrite") -> None:
    """Materialise the IVF index at rest: vectors hive-partitioned by
    cluster id, so probes read ONLY the probed clusters' files (partition
    pruning at the scan — the 100 TB path: n_probe/n_clusters of the data
    ever leaves storage).

    The pre-write repartition on cluster gives each output directory one
    writer task (no small-files explosion from every task writing every
    cluster); AQE coalescing keeps tiny clusters from over-splitting."""
    assigned = ivf_assign(df, centroids, vec_col, key_col)
    (df.join(assigned, key_col)
       .repartition(F.col("cluster"))
       .write.mode(mode).partitionBy("cluster").parquet(path))


def ivf_probe_index(spark, path: str, query: list[float],
                    centroids: list[list[float]], n_probe: int = 2,
                    vec_col: str = "embedding", key_col: str = "vec_id",
                    k: int = 10) -> DataFrame:
    """Query an at-rest IVF index: the cluster filter is a partition
    predicate, so the parquet scan's PartitionFilters prunes unprobed
    clusters before any IO (plan-asserted in tests/test_plans.py)."""
    probed = _nearest_clusters(query, centroids, n_probe)
    scan = (spark.read.parquet(path)
            .filter(F.col("cluster").isin(probed)))
    return brute_force_topk(scan, query, vec_col, key_col, k)


def ivf_stats(spark, path: str) -> DataFrame:
    """Cluster-size histogram of an at-rest index — the drift signal.
    Reads ONLY the partition column (no vector IO): a metadata-priced
    check that tells you when one cluster has gone hot (probe cost is
    proportional to the largest probed cluster) or the assignment no
    longer matches the data distribution."""
    return (spark.read.parquet(path)
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_vectors"))
            .orderBy("cluster"))


def ivf_retrain(spark, path: str, k: int, out_path: str,
                vec_col: str = "embedding", key_col: str = "vec_id",
                max_iter: int = 10,
                dim: int | None = None) -> list[list[float]]:
    """Re-train centroids on the CURRENT index contents and rewrite the
    index partitioned by the new assignment. This is the maintenance
    answer to drift and hot clusters alike: k-means splits dense regions
    by construction, so a hot cluster becomes several (raise ``k`` to
    split further). Writes to ``out_path`` (swap directories to publish —
    the file-sink staging pattern) and returns the new centroids, which
    the caller must persist for probing."""
    current = spark.read.parquet(path).drop("cluster")
    cents = kmeans_fit(current, k, vec_col, key_col,
                       max_iter=max_iter, dim=dim)
    ivf_write_index(current, cents, out_path, vec_col, key_col)
    return cents


def ivf_append(df: DataFrame, centroids: list[list[float]], path: str,
               vec_col: str = "embedding", key_col: str = "vec_id") -> None:
    """Incremental index ingest: assign ONLY the new vectors to their
    nearest existing centroid and append them to the matching cluster
    partitions — the steady-state write path between retrains. Existing
    partition files are never read or rewritten (dynamic partition
    append touches only the clusters the batch lands in); probes see the
    new vectors immediately because pruning is directory-based. Pair
    with :func:`ivf_stats` + :func:`ivf_retrain` when drift accumulates
    (appends never move old vectors, so centroid quality decays with
    distribution shift — the standard IVF maintenance contract)."""
    ivf_write_index(df, centroids, path, vec_col, key_col, mode="append")


# ---------------------------------------------------------------------------
# Pre-normalised embeddings at rest
# ---------------------------------------------------------------------------

def normalise_embeddings(df: DataFrame, dim: int,
                         vec_col: str = "embedding",
                         norm_col: str = "vec_norm") -> DataFrame:
    """Store unit vectors + the original norm once, at write time.

    Cosine against a unit-normalised query then degenerates to a pure dot
    product: every later search drops ``dim`` multiplies + a sqrt PER ROW
    (the row-norm term), which at query-per-day × 100 TB scan volume is
    the dominant repeated cost. Zero vectors stay zero with norm 0 (no
    NaNs downstream)."""
    # one-F.expr build (optimization r14): the unit array re-embeds the
    # norm expression per element exactly as the Column form did — same
    # tree, one py4j round-trip instead of ~5*dim
    v = _arr_sql(vec_col)
    n = norm_expr(v, dim)
    unit = "array(" + ", ".join(
        f"CASE WHEN ({n} = 0.0D) THEN 0.0D "
        f"ELSE ({_elem_expr(v, j + 1)} / {n}) END"
        for j in range(dim)) + ")"
    return (df.withColumn(norm_col, F.expr(n))
            .withColumn(vec_col, F.expr(unit)))


# ---------------------------------------------------------------------------
# Product quantisation (PQ): compressed vectors + asymmetric-distance search
# ---------------------------------------------------------------------------

def pq_train(df: DataFrame, m: int, k: int = 16,
             vec_col: str = "embedding", key_col: str = "vec_id",
             max_iter: int = 8,
             dim: int | None = None) -> list[list[list[float]]]:
    """Train PQ codebooks: split each vector into ``m`` contiguous
    subvectors and run k-means (``k`` codes) independently per subspace.
    Returns m codebooks of k centroids each.

    Deterministic (inherits kmeans_fit's smallest-key init). Storage
    math: dim float64 (8·dim bytes) compresses to m code bytes — 64× at
    dim=64, m=8 — which is what lets a 100 TB embedding corpus's codes
    fit a fraction of the scan budget (or memory) while the full vectors
    stay at rest for reranking."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    v = F.col(vec_col).cast("array<double>")
    books = []
    for i in range(m):
        part = df.select(F.col(key_col),
                         F.slice(v, i * sub + 1, sub).alias(vec_col))
        books.append(kmeans_fit(part, k, vec_col, key_col,
                                max_iter=max_iter, dim=sub))
    return books


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding",
              key_col: str = "vec_id") -> DataFrame:
    """(key, codes array<int>): each subvector's nearest-centroid index.
    Pure projection (argmin per subspace, same machinery as ivf_assign) —
    no shuffle; write the result once, search the codes forever.

    The codegen budget applies to the TOTAL m*k*sub term count, not per
    subspace: m per-subspace trees that each fit the budget still sum to
    a multi-thousand-node projection whose driver-side analysis + janino
    compile dominated the whole query (16 s measured at m=8, k=16,
    dim=64 on ~100k rows). Past the budget, ONE Arrow-vectorised pandas
    UDF encodes all subspaces per batch."""
    v = F.col(vec_col).cast("array<double>")
    vs = _arr_sql(vec_col)
    sub = len(codebooks[0][0])
    m = len(codebooks)
    k = len(codebooks[0])
    if m * k * sub <= _CODEGEN_TERM_BUDGET:
        # one-F.expr build (optimization r14): identical tree to the
        # Column form — per-subspace argmin over an inline slice, the
        # validity CASE guarding the array
        codes = ", ".join(
            argmin_expr(f"slice({vs}, {i * sub + 1}, {sub})", book)
            for i, book in enumerate(codebooks))
        # Invalid vectors (NULL / wrong dim / non-finite) must yield a NULL
        # CODES ARRAY, matching the pandas path — an array OF nulls is not
        # itself NULL, and under ANSI mode element_at(lut, NULL) does not
        # propagate NULL, so downstream ADC would score garbage instead of
        # dropping the row.
        valid = (f"((({vs} IS NOT NULL) AND (size({vs}) = {m * sub})) "
                 f"AND (NOT exists({vs}, x -> (((x IS NULL) OR isnan(x)) "
                 f"OR (abs(x) = CAST('Infinity' AS DOUBLE))))))")
        return df.select(F.col(key_col),
                         F.expr(f"CASE WHEN {valid} THEN array({codes}) "
                                "END").alias("codes"))
    return df.select(F.col(key_col),
                     _pq_encode_pandas(codebooks)(v).alias("codes"))


def _pq_encode_pandas(codebooks: list[list[list[float]]]):
    """All-subspace PQ encode in one vectorised pass per Arrow batch.

    Distances use the SAME subtract-square form as ``_sq_dist_unrolled``
    ((v-c)^2 summed), not the expanded |v|^2-2vc+|c|^2 identity, so the
    values differ from the expression path only by summation order (numpy
    pairwise vs left-associated) — below any real assignment margin.
    Ties keep the first minimum (np.argmin), matching both the expression
    path and the DuckDB oracle's list_position."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    C = np.asarray(codebooks, dtype=np.float64)     # (m, k, sub)
    m, k, sub = C.shape

    def encode(vs):
        rows = vs.tolist()
        V, mask = _valid_matrix(rows, m * sub)
        codes = np.empty((len(V), m), dtype=np.int32)
        for s, e in _row_chunks(len(V), m * k * sub):
            Vs = V[s:e].reshape(e - s, m, 1, sub)
            d = ((Vs - C[None, :, :, :]) ** 2).sum(axis=3)
            codes[s:e] = np.argmin(d, axis=2)
        if mask.all():
            return pd.Series(list(codes))
        out = [None] * len(rows)
        for pos, row in zip(np.nonzero(mask)[0], codes):
            out[pos] = row
        return pd.Series(out, dtype="object")

    encode.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return pandas_udf(encode, "array<int>")


def pq_topk(codes_df: DataFrame, query: list[float],
            codebooks: list[list[list[float]]],
            key_col: str = "vec_id", k: int = 10) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC): the query stays
    uncompressed; per subspace a k-entry lookup table of exact
    query-to-centroid squared distances is built driver-side and embedded
    as an array literal, so the per-row score is m element_at lookups +
    adds — no vector math against rows at all. Scan cost is O(m) per row
    over 1-byte codes: the cheapest first pass at corpus scale, with
    exact rerank of the survivors as the standard follow-up."""
    sub = len(codebooks[0][0])
    m = len(codebooks)
    if len(query) != m * sub:
        raise ValueError(f"query dim {len(query)} != {m}x{sub}")
    score_terms = []
    for i, book in enumerate(codebooks):
        q_i = query[i * sub:(i + 1) * sub]
        table = [sum((float(a) - float(b)) ** 2 for a, b in zip(q_i, cent))
                 for cent in book]
        lut = "array(" + ", ".join(_d(d) for d in table) + ")"
        score_terms.append(
            f"(element_at({lut}, (element_at(`codes`, {i + 1}) + 1)))")
    # one-F.expr build (optimization r14): same lookup chain, one parse
    dist = F.expr(" + ".join(score_terms))
    # NULL codes (the NULL-safe encoders' drop-the-row marker for
    # NULL/wrong-dim/NaN vectors) must not rank. Two traps: (a) a pre-sort
    # filter(codes IS NOT NULL) collapses through the projection and
    # re-evaluates the Arrow encode UDF in a second ArrowEvalPython node
    # (measured 2x on s05); (b) under ANSI mode element_at(lut, NULL) does
    # NOT propagate NULL, so the raw ADC sum scores garbage for NULL codes.
    # So: guard the score in the SAME projection (no extra UDF eval), sort
    # NULLs after every valid row, and drop them above the limit — the
    # limit is a pushdown barrier, so the filter touches <= k rows and the
    # result is identical to filter-first.
    dist = F.when(F.col("codes").isNotNull(), dist)
    return (codes_df
            .select(F.col(key_col), F.round(dist, 6).alias("sq_dist"))
            .orderBy(F.asc_nulls_last("sq_dist"), F.col(key_col))
            .limit(k)
            .filter(F.col("sq_dist").isNotNull()))


def pq_topk_sql(query: list[float], codebooks: list[list[list[float]]],
                k: int = 10, table: str = "embeddings",
                vec_col: str = "embedding", key_col: str = "vec_id") -> str:
    """DuckDB oracle for :func:`pq_encode` + :func:`pq_topk`.

    Encode replays exactly: per subspace an unrolled left-associated
    squared-distance list (same arithmetic as ``_sq_dist_unrolled``) and a
    first-minimum argmin (``list_position(ds, list_min(ds))`` = Spark's
    ``array_position(ds, array_min(ds))``). The ADC lookup tables are
    driver-computed Python doubles embedded as literals in BOTH engines, so
    the final score is bit-identical; ties at the k-boundary break on
    ``key_col`` in both ORDER BYs."""
    sub = len(codebooks[0][0])
    m = len(codebooks)
    if len(query) != m * sub:
        raise ValueError(f"query dim {len(query)} != {m}x{sub}")
    ds_cols, code_cols, luts = [], [], []
    for i, book in enumerate(codebooks):
        ds_cols.append(sq_dist_list_sql(book, offset=i * sub)
                       + f" AS ds{i}")
        code_cols.append(f"list_position(ds{i}, list_min(ds{i})) AS c{i}")
        q_i = query[i * sub:(i + 1) * sub]
        table_i = [sum((float(a) - float(b)) ** 2 for a, b in zip(q_i, cent))
                   for cent in book]
        # CAST: a bare decimal-literal list parses as DECIMAL[] in DuckDB;
        # repr doubles round-trip exactly through the decimal->double cast
        luts.append("CAST([" + ", ".join(repr(d) for d in table_i)
                    + "] AS DOUBLE[])")
    # list_position is 1-based = Spark's element_at(lut, code + 1)
    score = " + ".join(f"{luts[i]}[c{i}]" for i in range(m))
    return f"""
WITH e AS (SELECT {key_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}),
d AS (SELECT {key_col}, {", ".join(ds_cols)} FROM e),
c AS (SELECT {key_col}, {", ".join(code_cols)} FROM d)
SELECT {key_col}, round({score}, 6) AS sq_dist
FROM c ORDER BY sq_dist ASC, {key_col} LIMIT {k}
"""


def pq_topk_reranked(codes_df: DataFrame, vectors_df: DataFrame,
                     query: list[float],
                     codebooks: list[list[list[float]]],
                     vec_col: str = "embedding", key_col: str = "vec_id",
                     k: int = 10, n_candidates: int = 50) -> DataFrame:
    """Two-stage ANN, the standard production shape: ADC over the
    compressed codes shortlists ``n_candidates`` rows (cheap O(m) byte
    lookups across the whole corpus), then EXACT cosine reranks only the
    shortlist against the full at-rest vectors.

    The shortlist is tiny by construction, so it broadcast-joins into the
    vector table — the full vectors are scanned once with a broadcast
    hash semi-filter, never shuffled; per-row exact math happens on
    n_candidates rows instead of the corpus. Recall is tunable by
    ``n_candidates`` (quantisation error bounds how far a true top-k row
    can fall in ADC order)."""
    cand = (pq_topk(codes_df, query, codebooks, key_col, k=n_candidates)
            .select(key_col))
    subset = vectors_df.join(F.broadcast(cand), key_col)
    return brute_force_topk(subset, query, vec_col, key_col, k)


def pq_rerank_sql(query: list[float], codebooks: list[list[list[float]]],
                  k: int = 10, n_candidates: int = 50,
                  table: str = "embeddings", vec_col: str = "embedding",
                  key_col: str = "vec_id") -> str:
    """DuckDB oracle for :func:`pq_topk_reranked`: the ADC shortlist is
    :func:`pq_topk_sql` verbatim (bit-identical codes + LUT scores, same
    (sq_dist, key) tie-break), and the rerank replays brute_force_topk's
    round-6 cosine with the same (score desc, key) ordering."""
    adc = pq_topk_sql(query, codebooks, k=n_candidates, table=table,
                      vec_col=vec_col, key_col=key_col)
    qlit = "[" + ", ".join(repr(float(x)) for x in query) + "]"
    return f"""
WITH shortlist AS ({adc})
SELECT t.{key_col},
       round(list_cosine_similarity(CAST(t.{vec_col} AS DOUBLE[]), {qlit}), 6)
         AS score
FROM {table} t JOIN shortlist s ON t.{key_col} = s.{key_col}
ORDER BY score DESC, t.{key_col} LIMIT {k}
"""


# ---------------------------------------------------------------------------
# IVF-PQ: the combined at-rest index (coarse pruning + compressed scan)
# ---------------------------------------------------------------------------

def ivfpq_train(df: DataFrame, n_clusters: int, m: int, k: int = 16,
                vec_col: str = "embedding", key_col: str = "vec_id",
                sample_n: int = 10_000, kmeans_iter: int = 4,
                dim: int | None = None):
    """Train the two quantisers of an IVF-PQ index: coarse centroids
    (distributed k-means over the corpus) and PQ codebooks over the
    RESIDUALS v − centroid(v) (classic IVF-PQ: residuals are what the
    codes must represent once the coarse id is known, which is why the
    same code budget buys far more precision than encoding raw vectors).

    Residual codebooks train driver-side on a bounded deterministic
    sample (smallest keys), like :func:`opq_train` — small dense
    problem; all corpus-scale passes stay distributed."""
    import numpy as np
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cents = kmeans_fit(df, n_clusters, vec_col, key_col,
                       max_iter=kmeans_iter, dim=dim)
    C = np.asarray(cents, dtype=np.float64)
    rows = (df.orderBy(key_col).limit(sample_n)
            .select(F.col(vec_col).cast("array<double>").alias("v"))
            .collect())
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    if len(X) < k:
        raise ValueError(
            f"training sample has {len(X)} rows < k={k} codebook entries; "
            f"raise sample_n or lower k")
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    R = X - C[np.argmin(d, axis=1)]
    books = []
    for i in range(m):
        part = R[:, i * sub:(i + 1) * sub]
        B = part[:k].copy()
        for _ in range(kmeans_iter):
            dd = ((part[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(dd, axis=1)
            for c in range(k):
                mask = a == c
                if mask.any():
                    B[c] = part[mask].mean(axis=0)
        books.append([[float(x) for x in row] for row in B])
    return cents, books


def _ivfpq_encode_pandas(centroids, codebooks):
    """One Arrow pass: coarse-assign, then PQ-encode the residual.
    Returns struct<cluster:int, codes:array<int>>."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    C = np.asarray(centroids, dtype=np.float64)
    B = np.asarray(codebooks, dtype=np.float64)      # (m, k, sub)
    m, k, sub = B.shape
    n_cl, dim = C.shape

    def encode(vs):
        rows = vs.tolist()
        V, mask = _valid_matrix(rows, dim)
        cl = np.empty(len(V), dtype=np.int64)
        codes = np.empty((len(V), m), dtype=np.int32)
        per_row = max(n_cl * dim, m * k * sub)
        for s, e in _row_chunks(len(V), per_row):
            d = ((V[s:e, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            cl[s:e] = np.argmin(d, axis=1)
            Rs = (V[s:e] - C[cl[s:e]]).reshape(e - s, m, 1, sub)
            dd = ((Rs - B[None, :, :, :]) ** 2).sum(axis=3)
            codes[s:e] = np.argmin(dd, axis=2)
        if mask.all():
            return pd.DataFrame({"cluster": cl.astype(np.int32),
                                 "codes": list(codes)})
        out_cl = [None] * len(rows)
        out_codes = [None] * len(rows)
        for i, pos in enumerate(np.nonzero(mask)[0]):
            out_cl[pos] = int(cl[i])
            out_codes[pos] = codes[i]
        return pd.DataFrame({"cluster": pd.Series(out_cl, dtype="object"),
                             "codes": pd.Series(out_codes, dtype="object")})

    encode.__annotations__ = {"vs": pd.Series, "return": pd.DataFrame}
    return pandas_udf(encode, "cluster int, codes array<int>")


def ivfpq_write_index(df: DataFrame, centroids, codebooks, path: str,
                      vec_col: str = "embedding", key_col: str = "vec_id",
                      mode: str = "overwrite") -> None:
    """Materialise the IVF-PQ index: rows hive-partitioned by coarse
    cluster, each carrying (key, full vector, residual PQ codes). A
    search then (1) PRUNES partitions to the probed clusters, (2) scans
    only the m-byte codes for ADC, (3) reranks the shortlist against the
    full vectors ALREADY IN those rows — no joins anywhere. This is the
    100 TB ANN shape: IO ∝ probed fraction, per-row cost ∝ m lookups."""
    enc = _ivfpq_encode_pandas(centroids, codebooks)
    v = F.col(vec_col).cast("array<double>")
    out = (df.select(F.col(key_col), v.alias(vec_col))
           .withColumn("_e", enc(F.col(vec_col)))
           .select(key_col, vec_col,
                   F.col("_e.cluster").alias("cluster"),
                   F.col("_e.codes").alias("codes")))
    (out.repartition(F.col("cluster"))
        .write.mode(mode).partitionBy("cluster").parquet(path))


def ivfpq_search(spark, path: str, query: list[float], centroids,
                 codebooks, n_probe: int = 2, k: int = 10,
                 n_candidates: int = 50, vec_col: str = "embedding",
                 key_col: str = "vec_id") -> DataFrame:
    """Search the at-rest IVF-PQ index. Per probed cluster the ADC
    lookup tables are built from the RESIDUAL query (query − centroid),
    embedded as plan-time literals over that cluster's pruned scan; the
    per-cluster candidate streams union, the best ``n_candidates`` by
    ADC survive (TakeOrderedAndProject — vectors ride along, no join),
    and exact cosine reranks them."""
    probed = _nearest_clusters(query, centroids, n_probe)
    sub = len(codebooks[0][0])
    m = len(codebooks)
    parts = []
    for c in probed:
        rq = [float(q) - float(cc) for q, cc in zip(query, centroids[c])]
        terms = []
        for i, book in enumerate(codebooks):
            q_i = rq[i * sub:(i + 1) * sub]
            lut = F.array(*[
                F.lit(sum((a - float(b)) ** 2 for a, b in zip(q_i, cent)))
                for cent in book])
            terms.append(F.element_at(
                lut, F.element_at(F.col("codes"), i + 1) + 1))
        adc = terms[0]
        for t in terms[1:]:
            adc = adc + t
        scan = (spark.read.parquet(path)
                .filter(F.col("cluster") == int(c))
                .select(F.col(key_col), F.col(vec_col), adc.alias("adc")))
        parts.append(scan)
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionByName(p)
    # rows with NULL codes carry a NULL cluster and never enter the probed
    # partitions, but keep the ordering NULL-proof regardless
    shortlist = (cand.orderBy(F.asc_nulls_last("adc"), F.col(key_col))
                 .limit(n_candidates))
    score = cosine_const(_arr_sql(vec_col), query)
    return (shortlist
            .select(F.col(key_col), F.round(score, 6).alias("score"))
            .orderBy(F.desc("score"), F.col(key_col))
            .limit(k))


def ivfpq_topk(df: DataFrame, query: list[float], centroids,
               codebooks, n_probe: int = 2, k: int = 10,
               n_candidates: int = 50, vec_col: str = "embedding",
               key_col: str = "vec_id") -> DataFrame:
    """In-flight IVF-PQ (no at-rest index): ONE scan computes coarse
    cluster + residual codes (Arrow pass), prunes to the probed
    clusters, scores by ADC with per-cluster residual lookup tables
    (a CASE over n_probe plan-time LUT arrays — cheap), shortlists
    ``n_candidates`` with the vectors riding along (no joins), and
    exact-cosine reranks. The at-rest :func:`ivfpq_write_index` /
    :func:`ivfpq_search` pair is the production shape (partition
    pruning); this form exists for ad-hoc queries and is fully
    replayable in SQL (:func:`ivfpq_topk_sql`)."""
    probed = _nearest_clusters(query, centroids, n_probe)
    sub = len(codebooks[0][0])
    m = len(codebooks)
    v = F.col(vec_col).cast("array<double>")
    enc = _ivfpq_encode_pandas(centroids, codebooks)
    # No filter on the probed clusters here: a filter over a UDF-derived
    # column collapses through the projection and re-evaluates the Arrow
    # encode UDF in a second ArrowEvalPython node (measured 2x on s06).
    # Instead, rows outside the probed clusters fall through the no-ELSE
    # CASE below to a NULL ADC, sort after every valid row, and are
    # dropped above the limit — identical to filter-first pruning.
    base = (df.select(F.col(key_col), v.alias(vec_col))
            .withColumn("_e", enc(F.col(vec_col)))
            .select(key_col, vec_col,
                    F.col("_e.cluster").alias("cluster"),
                    F.col("_e.codes").alias("codes")))
    terms = []
    for i, book in enumerate(codebooks):
        branches = []
        for c in probed:
            rq_i = [float(q) - float(cc) for q, cc in zip(
                query[i * sub:(i + 1) * sub],
                centroids[c][i * sub:(i + 1) * sub])]
            lut = "array(" + ", ".join(
                _d(sum((a - float(b)) ** 2 for a, b in zip(rq_i, cent)))
                for cent in book) + ")"
            hit = f"element_at({lut}, (element_at(`codes`, {i + 1}) + 1))"
            branches.append(f"WHEN (`cluster` = {int(c)}) THEN {hit}")
        terms.append("(CASE " + " ".join(branches) + " END)")
    # one-F.expr build (optimization r14): same no-ELSE CASE per subspace
    adc = F.expr(" + ".join(terms))
    shortlist = (base.select(F.col(key_col), F.col(vec_col),
                             adc.alias("adc"))
                 .orderBy(F.asc_nulls_last("adc"), F.col(key_col))
                 .limit(n_candidates)
                 .filter(F.col("adc").isNotNull()))
    score = cosine_const(_arr_sql(vec_col), query)
    return (shortlist
            .select(F.col(key_col), F.round(score, 6).alias("score"))
            .orderBy(F.desc("score"), F.col(key_col))
            .limit(k))


def ivfpq_topk_sql(query: list[float], centroids, codebooks,
                   n_probe: int = 2, k: int = 10, n_candidates: int = 50,
                   table: str = "embeddings", vec_col: str = "embedding",
                   key_col: str = "vec_id") -> str:
    """DuckDB oracle for :func:`ivfpq_topk`. Every stage replays:

    - coarse argmin: the same unrolled subtract-square distances as
      :func:`ivf_topk_sql` (first-minimum ties both engines);
    - residual encode: per (cluster, subspace) an unrolled distance
      list over ``(v[j] - centroid_j) - codebook_j`` — TWO separate
      subtractions in that order, matching the numpy encode's
      ``(V - C[cluster]) - B`` evaluation, so the values differ only by
      summation order (below the contract constants' margins, measured);
    - ADC: per-cluster lookup tables are driver-side Python doubles
      embedded as literals in BOTH engines; the (adc, key) shortlist
      boundary is bit-identical;
    - rerank: round-6 cosine with (score desc, key) ordering."""
    probed = _nearest_clusters(query, centroids, n_probe)
    sub = len(codebooks[0][0])
    m = len(codebooks)
    coarse = []
    for cent in centroids:
        t = " + ".join(
            f"(v[{j + 1}] - {float(cent[j])!r}) * (v[{j + 1}] - {float(cent[j])!r})"
            for j in range(len(cent)))
        coarse.append(f"({t})")
    ds = "[" + ", ".join(coarse) + "]"
    code_cols, adc_terms = [], []
    for i, book in enumerate(codebooks):
        branches = []
        for c in probed:
            dists = []
            for cent in book:
                t = " + ".join(
                    f"((v[{i * sub + j + 1}] - {float(centroids[c][i * sub + j])!r})"
                    f" - {float(cent[j])!r})"
                    f" * ((v[{i * sub + j + 1}] - {float(centroids[c][i * sub + j])!r})"
                    f" - {float(cent[j])!r})"
                    for j in range(sub))
                dists.append(f"({t})")
            dl = "[" + ", ".join(dists) + "]"
            branches.append(
                f"WHEN {c} THEN list_position({dl}, list_min({dl})) - 1")
        code_cols.append(f"(CASE cluster {' '.join(branches)} END) AS c{i}")
        lut_branches = []
        for c in probed:
            rq_i = [float(q) - float(cc) for q, cc in zip(
                query[i * sub:(i + 1) * sub],
                centroids[c][i * sub:(i + 1) * sub])]
            table_i = [sum((a - float(b)) ** 2 for a, b in zip(rq_i, cent))
                       for cent in book]
            lut = ("CAST([" + ", ".join(repr(d) for d in table_i)
                   + "] AS DOUBLE[])")
            lut_branches.append(f"WHEN {c} THEN {lut}[c{i} + 1]")
        adc_terms.append(f"(CASE cluster {' '.join(lut_branches)} END)")
    qlit = "[" + ", ".join(repr(float(x)) for x in query) + "]"
    probed_in = ", ".join(str(int(c)) for c in probed)
    return f"""
WITH e AS (SELECT {key_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}),
a AS (SELECT {key_col}, v, {ds} AS ds FROM e),
cl AS (SELECT {key_col}, v, list_position(ds, list_min(ds)) - 1 AS cluster
       FROM a),
pr AS (SELECT * FROM cl WHERE cluster IN ({probed_in})),
co AS (SELECT {key_col}, v, cluster, {", ".join(code_cols)} FROM pr),
sl AS (SELECT {key_col}, v, {" + ".join(adc_terms)} AS adc FROM co
       ORDER BY adc ASC, {key_col} LIMIT {n_candidates})
SELECT {key_col}, round(list_cosine_similarity(v, {qlit}), 6) AS score
FROM sl ORDER BY score DESC, {key_col} LIMIT {k}
"""


# ---------------------------------------------------------------------------
# OPQ: learned rotation before product quantisation
# ---------------------------------------------------------------------------

def opq_train(df: DataFrame, m: int, k: int = 16,
              vec_col: str = "embedding", key_col: str = "vec_id",
              sample_n: int = 10_000, iters: int = 5,
              kmeans_iter: int = 4, dim: int | None = None):
    """Train an OPQ rotation + PQ codebooks (Ge et al., "Optimized
    Product Quantization", CVPR 2013 — non-parametric variant):
    alternate (1) PQ codebooks on the rotated sample and (2) the
    orthogonal Procrustes solve R = UVᵀ from the SVD of X̂ᵀX, which
    minimises ‖XR − X̂‖ over rotations. Subspace decorrelation typically
    cuts quantisation error vs plain PQ on correlated embeddings.

    The optimisation runs DRIVER-SIDE on a bounded deterministic sample
    (smallest ``sample_n`` keys — ≤ sample_n×dim doubles, ~5 MB at the
    defaults): rotation learning is a small dense-linear-algebra problem;
    the corpus-scale work (encode/search) stays distributed. Returns
    ``(R, codebooks)`` where R is dim×dim (applied as v·R)."""
    import numpy as np
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rows = (df.orderBy(key_col).limit(sample_n)
            .select(F.col(vec_col).cast("array<double>").alias("v"))
            .collect())
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    if len(X) < k:
        raise ValueError(
            f"training sample has {len(X)} rows < k={k} codebook entries; "
            f"raise sample_n or lower k")
    R = np.eye(dim)

    def _fit_books(Z):
        books = []
        for i in range(m):
            part = Z[:, i * sub:(i + 1) * sub]
            # deterministic k-means: init from the first k sample rows
            # (sample order is key order), Lloyd's with first-min ties
            C = part[:k].copy()
            for _ in range(kmeans_iter):
                d = ((part[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                a = np.argmin(d, axis=1)
                for c in range(k):
                    mask = a == c
                    if mask.any():
                        C[c] = part[mask].mean(axis=0)
            books.append(C)
        return books

    for _ in range(iters):
        Z = X @ R
        books = _fit_books(Z)
        # reconstruct each rotated vector from its nearest codes
        Xhat = np.empty_like(Z)
        for i in range(m):
            part = Z[:, i * sub:(i + 1) * sub]
            C = books[i]
            d = ((part[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            Xhat[:, i * sub:(i + 1) * sub] = C[np.argmin(d, axis=1)]
        U, _, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
    books = _fit_books(X @ R)
    return ([[float(x) for x in row] for row in R],
            [[[float(x) for x in cent] for cent in C] for C in books])


def opq_encode(df: DataFrame, rotation: list[list[float]],
               codebooks: list[list[list[float]]],
               vec_col: str = "embedding",
               key_col: str = "vec_id") -> DataFrame:
    """Rotate then PQ-encode, in ONE Arrow pass (the rotation is a dense
    matmul per batch — fusing it with the encode avoids materialising a
    rotated vector column). Same no-shuffle projection shape as
    :func:`pq_encode`."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    Rm = np.asarray(rotation, dtype=np.float64)
    C = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = C.shape

    def encode(vs):
        rows = vs.tolist()
        V, mask = _valid_matrix(rows, m * sub)
        V = V @ Rm
        codes = np.empty((len(V), m), dtype=np.int32)
        for s, e in _row_chunks(len(V), m * k * sub):
            Vs = V[s:e].reshape(e - s, m, 1, sub)
            d = ((Vs - C[None, :, :, :]) ** 2).sum(axis=3)
            codes[s:e] = np.argmin(d, axis=2)
        if mask.all():
            return pd.Series(list(codes))
        out = [None] * len(rows)
        for pos, row in zip(np.nonzero(mask)[0], codes):
            out[pos] = row
        return pd.Series(out, dtype="object")

    encode.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    v = F.col(vec_col).cast("array<double>")
    return df.select(F.col(key_col), pandas_udf(encode, "array<int>")(v)
                     .alias("codes"))


def opq_topk(codes_df: DataFrame, query: list[float],
             rotation: list[list[float]],
             codebooks: list[list[list[float]]],
             key_col: str = "vec_id", k: int = 10) -> DataFrame:
    """ADC top-k in the rotated space: rotation preserves distances, so
    rotating the QUERY driver-side (dim² flops, once) makes the stored
    codes directly searchable — scan cost identical to :func:`pq_topk`."""
    rq = _mat_vec(rotation, query, transpose=True)
    return pq_topk(codes_df, rq, codebooks, key_col=key_col, k=k)


def _mat_vec(rotation: list[list[float]], vec: list[float],
             transpose: bool = False) -> list[float]:
    n = len(rotation)
    if transpose:  # v·R = (Rᵀ·v)ᵀ — match opq_encode's V @ R orientation
        return [sum(rotation[i][j] * float(vec[i]) for i in range(n))
                for j in range(n)]
    return [sum(rotation[i][j] * float(vec[j]) for j in range(n))
            for i in range(n)]


def opq_quantisation_error(df: DataFrame, rotation, codebooks,
                           vec_col: str = "embedding",
                           key_col: str = "vec_id") -> float:
    """Mean squared reconstruction error of the OPQ code assignment over
    ``df`` — the training objective, exposed for drift monitoring and
    for verifying OPQ ≤ plain-PQ error (tests). One distributed pass."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    Rm = np.asarray(rotation, dtype=np.float64)
    C = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = C.shape

    def err(vs):
        rows = vs.tolist()
        V, mask = _valid_matrix(rows, m * sub)
        V = V @ Rm
        es = np.empty(len(V))
        for s, e in _row_chunks(len(V), m * k * sub):
            Vs = V[s:e].reshape(e - s, m, 1, sub)
            d = ((Vs - C[None, :, :, :]) ** 2).sum(axis=3)
            es[s:e] = d.min(axis=2).sum(axis=1)
        if mask.all():
            return pd.Series(es)
        out = [None] * len(rows)
        for pos, val in zip(np.nonzero(mask)[0], es):
            out[pos] = float(val)
        return pd.Series(out, dtype="object")

    err.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    v = F.col(vec_col).cast("array<double>")
    # avg() skips the NULLs masked rows produce -> error over valid rows
    row = (df.select(pandas_udf(err, "double")(v).alias("e"))
           .agg(F.avg("e").alias("mse")).first())
    return float(row["mse"])


def topk_prenormalised(df: DataFrame, query: list[float],
                       vec_col: str = "embedding", key_col: str = "vec_id",
                       k: int = 10) -> DataFrame:
    """Cosine top-k over pre-normalised vectors: score = dot(unit_row,
    unit_query) — no per-row norm, no sqrt, same TakeOrderedAndProject
    shape as brute_force_topk. The query is normalised driver-side."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query)) or 1.0
    unit_q = [float(x) / qn for x in query]
    return (df.select(F.col(key_col),
                      F.round(dot_const(_arr_sql(vec_col), unit_q), 6)
                      .alias("score"))
            .orderBy(F.desc("score"), F.col(key_col))
            .limit(k))


def givens_rotation(dim: int, angle_fn=None) -> list[list[float]]:
    """Deterministic block-diagonal Givens rotation: independent 2x2
    rotations over coordinate pairs (2b, 2b+1). Orthogonal by
    construction, and — the property the OPQ contract query needs — each
    rotated element is a TWO-term expression, so the DuckDB oracle
    replays it as literal arithmetic (a dense rotation would be a
    64-term sum per element whose summation order couldn't be pinned
    against BLAS). ``angle_fn(b)`` maps block index to angle; the default
    is a mild deterministic sinusoid."""
    if dim % 2:
        raise ValueError(f"dim {dim} must be even for paired blocks")
    if angle_fn is None:
        angle_fn = lambda b: 0.3 * math.sin(1.3 * (b + 1))  # noqa: E731
    R = [[0.0] * dim for _ in range(dim)]
    for b in range(dim // 2):
        c, s = math.cos(angle_fn(b)), math.sin(angle_fn(b))
        i, j = 2 * b, 2 * b + 1
        R[i][i], R[i][j] = c, s
        R[j][i], R[j][j] = -s, c
    return R


def opq_topk_sql(query: list[float], rotation: list[list[float]],
                 codebooks: list[list[list[float]]], k: int = 10,
                 table: str = "embeddings", vec_col: str = "embedding",
                 key_col: str = "vec_id") -> str:
    """DuckDB oracle for :func:`opq_encode` + :func:`opq_topk` with a
    BLOCK-DIAGONAL rotation (:func:`givens_rotation`).

    The rotated vector is spliced into :func:`pq_topk_sql` as a list
    expression — per element exactly two products and one add/subtract,
    the same arithmetic the numpy ``V @ R`` path performs (the block's
    off-pair coefficients are exact zeros, so numpy's summation order
    cannot change the rounded result; the one FMA-vs-separate-rounding
    ulp lives far below the contract constants' assignment margins).
    The query is rotated driver-side in Python, matching
    :func:`opq_topk`'s ``_mat_vec``."""
    dim = len(rotation)
    for b in range(dim // 2):
        i, j = 2 * b, 2 * b + 1
        for x in range(dim):
            if x not in (i, j) and (rotation[i][x] or rotation[x][i]):
                raise ValueError("opq_topk_sql needs a block-diagonal "
                                 "rotation (givens_rotation)")
    elems = []
    for x in range(dim):
        b = x // 2
        i, j = 2 * b, 2 * b + 1
        vi = f"CAST({vec_col}[{i + 1}] AS DOUBLE)"
        vj = f"CAST({vec_col}[{j + 1}] AS DOUBLE)"
        if x == i:  # (V @ R)[i] = v_i * R[i][i] + v_j * R[j][i]
            elems.append(f"({vi} * {rotation[i][i]!r} + "
                         f"{vj} * {rotation[j][i]!r})")
        else:       # (V @ R)[j] = v_i * R[i][j] + v_j * R[j][j]
            elems.append(f"({vi} * {rotation[i][j]!r} + "
                         f"{vj} * {rotation[j][j]!r})")
    rotated = "[" + ", ".join(elems) + "]"
    rq = _mat_vec(rotation, query, transpose=True)
    return pq_topk_sql(rq, codebooks, k=k, table=table,
                       vec_col=rotated, key_col=key_col)


# ---------------------------------------------------------------------------
# MMR diversity re-ranking (VERDICT r08 #7 / ROADMAP candidate #4)
# ---------------------------------------------------------------------------

def mmr_rerank(spark, shortlist: DataFrame, query: list[float], k: int,
               lam: float = 0.5, vec_col: str = "embedding",
               key_col: str = "vec_id",
               max_shortlist: int = 10_000) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking of an ANN shortlist
    (Carbonell & Goldstein 1998): greedily pick the candidate maximising
    ``lam * cos(query, d) - (1 - lam) * max cos(d, selected)`` — high
    relevance AND far from everything already chosen. ``lam=1`` is plain
    top-k; smaller values trade relevance for diversity (a retrieval
    result of k near-identical chunks wastes its context budget).

    Scale shape: the greedy argmax is inherently SEQUENTIAL over k steps
    (each pick changes every survivor's penalty), so it runs driver-side
    over the SHORTLIST — never the corpus. The distributed work is
    producing the shortlist (brute_force_topk / ivf_probe_index /
    pq_topk_reranked — one pruned corpus scan); MMR then costs
    O(M^2 * dim) numpy on M <= max_shortlist rows, independent of corpus
    size — the same bounded-collect posture as the PQ/OPQ trainers.
    ``max_shortlist`` is the guard: exceeding it raises rather than
    silently collecting a corpus.

    Oracle contract (closed round 12): the greedy loop DOES have a SQL
    twin — a DuckDB RECURSIVE CTE replays the selection step by step
    over the same shortlist (__spark_entry__._s12_oracle), each
    iteration LATERAL-picking the argmax with the identical
    ascending-key tie-break; the construction margins pinned in
    tests/test_score_margins.py keep the ~1e-15 numpy-vs-DuckDB
    summation-order deltas away from every selection boundary.

    Returns (key, score, mmr_score, rank): cosine to the query, the MMR
    objective at selection time, and the 1-based selection order.
    Deterministic: ties break on ascending key."""
    import numpy as np
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    rows = (shortlist.select(key_col, vec_col)
            .limit(max_shortlist + 1).collect())
    if len(rows) > max_shortlist:
        raise ValueError(
            f"mmr_rerank shortlist exceeds max_shortlist="
            f"{max_shortlist}: rerank a SHORTLIST (topk output), not a "
            "corpus — or raise the guard explicitly")
    rows.sort(key=lambda r: r[key_col])
    keys = [r[key_col] for r in rows]
    v = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    q = np.asarray(query, dtype=np.float64)
    vn = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)
    rel = vn @ qn                      # cosine(query, d) per candidate
    sims = vn @ vn.T                   # candidate-candidate cosines
    selected: list[int] = []
    penalty = np.zeros(len(rows))      # max cos(d, selected) so far
    alive = np.ones(len(rows), dtype=bool)
    out = []
    while alive.any() and len(selected) < k:
        obj = lam * rel - (1.0 - lam) * penalty
        obj[~alive] = -np.inf
        i = int(np.argmax(obj))        # first hit wins = smallest key
        alive[i] = False
        selected.append(i)
        penalty = np.maximum(penalty, sims[:, i])
        out.append((keys[i], round(float(rel[i]), 6),
                    round(float(obj[i]), 6), len(selected)))
    # the key's type comes from the SHORTLIST schema — string doc ids
    # are as legitimate as long vec ids (VERDICT r09 #4)
    from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                                   StructType)
    key_field = shortlist.schema[key_col]
    return spark.createDataFrame(out, StructType([
        StructField(key_col, key_field.dataType, key_field.nullable),
        StructField("score", DoubleType(), False),
        StructField("mmr_score", DoubleType(), False),
        StructField("rank", IntegerType(), False)]))


def topk_mmr(df: DataFrame, query: list[float], k: int,
             shortlist_n: int | None = None, lam: float = 0.5,
             vec_col: str = "embedding",
             key_col: str = "vec_id") -> DataFrame:
    """Diversified top-k: one pruned corpus scan shortlists
    ``shortlist_n`` (default 4k) candidates by plain cosine
    (scan -> project -> TakeOrderedAndProject, no vector shuffle), then
    :func:`mmr_rerank` greedily diversifies down to k."""
    n = shortlist_n if shortlist_n is not None else 4 * k
    if n < k:
        raise ValueError(f"shortlist_n ({n}) must be >= k ({k})")
    short = brute_force_topk(df, query, vec_col, key_col, k=n)
    vecs = df.select(F.col(key_col),
                     F.col(vec_col).cast("array<double>").alias(vec_col))
    # the shortlist is tiny by construction: broadcast it into the
    # vector fetch so no corpus shuffle happens
    short_vec = vecs.join(F.broadcast(short.select(key_col)), key_col)
    return mmr_rerank(df.sparkSession, short_vec, query, k, lam,
                      vec_col, key_col)


def cluster_similar_pairs(df: DataFrame, centroids: list[list[float]],
                          threshold: float, vec_col: str = "embedding",
                          key_col: str = "vec_id",
                          max_cluster: int = 64) -> DataFrame:
    """SemDeDup candidate generation (Abbas et al. 2023,
    arXiv:2303.09540): k-means CLUSTERS replace the random-hyperplane
    buckets of :func:`cosine_similar_pairs` — assign each vector to its
    nearest centroid, expand candidate pairs cluster-locally, verify
    with exact cosine. Where hyperplanes are data-oblivious, a trained
    codebook adapts buckets to the corpus's density: that is the trade
    SemDeDup makes (tighter candidate sets, but a near-dup pair split
    across a cluster BOUNDARY is invisible — the recall complement is
    d06's hyperplane path, which has no boundaries).

    Scale shape — identical to :func:`cosine_similar_pairs`: the
    assignment is :func:`ivf_assign` (codegen'd unrolled distances,
    oracle-replayable, Arrow past the codegen budget); one groupBy on
    the cluster id shuffles (cluster, key) rows only; giant clusters
    star-cap (``dedup.capped_bucket_pairs``); the bounded candidate
    list joins vectors back for the exact-cosine verify. Per-cluster
    all-pairs is the method's intrinsic cost — SemDeDup controls it
    with MORE centroids (smaller clusters), the cap is the backstop."""
    from klepto_spark.operators.dedup import capped_bucket_pairs, fan_out
    spread = fan_out(df, key_col)
    assigned = ivf_assign(spread, centroids, vec_col, key_col)
    buckets = (assigned.filter(F.col("cluster").isNotNull())
               .groupBy("cluster")
               .agg(F.array_sort(F.collect_set(key_col)).alias("ids"))
               .filter(F.size("ids") > 1))
    # clusters are disjoint -> pairs already unique, skip the distinct
    cand = capped_bucket_pairs(buckets, max_cluster, dedup=False)
    vecs = spread.select(F.col(key_col),
                         F.col(vec_col).cast("array<double>").alias("v"))
    joined = (cand
              .join(vecs.withColumnRenamed(key_col, "a")
                    .withColumnRenamed("v", "va"), "a")
              .join(vecs.withColumnRenamed(key_col, "b")
                    .withColumnRenamed("v", "vb"), "b"))
    score = cosine(F.col("va"), F.col("vb"))
    return (joined.select("a", "b", F.round(score, 6).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def cluster_pairs_sql(centroids: list[list[float]], threshold: float,
                      table: str = "embeddings",
                      vec_col: str = "embedding", key_col: str = "vec_id",
                      max_cluster: int = 64) -> str:
    """DuckDB oracle for :func:`cluster_similar_pairs`: the assignment
    distances unroll left-associated in element order (bit-identical to
    ivf_assign's fold; first minimum on ties via list_position), the
    same a<b cluster-local expansion with the same star cap, the same
    round-6 cosine filter. Choose centroids with measured assignment
    margins and a threshold in a measured gap of the candidate cosine
    distribution (both recorded for the contract constants)."""
    ds = sq_dist_list_sql(centroids)
    return f"""
WITH e AS (SELECT {key_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}),
a AS (SELECT {key_col}, v, {ds} AS ds FROM e),
c AS (SELECT {key_col}, v,
             list_position(ds, list_min(ds)) - 1 AS cluster FROM a),
st AS (SELECT cluster, count(*) AS n, min({key_col}) AS mn
       FROM c GROUP BY cluster)
SELECT l.{key_col} AS a, r.{key_col} AS b,
       round(list_cosine_similarity(l.v, r.v), 6) AS cosine
FROM c l JOIN c r ON l.cluster = r.cluster AND l.{key_col} < r.{key_col}
JOIN st s ON s.cluster = l.cluster
WHERE (s.n <= {max_cluster} OR l.{key_col} = s.mn)
  AND round(list_cosine_similarity(l.v, r.v), 6) >= {threshold}
"""
