"""Portable HyperLogLog — identical register arithmetic in Spark AND DuckDB.

The DataSketches HLL in :mod:`sketches` is the production path, but its
estimate is engine-specific (DuckDB's ``approx_count_distinct`` is a
different sketch), so the t06 contract query was "rows-only" — the one
dedup/sketch query the driver could not value-check. This module closes
that gap with an HLL whose every step is *portable SQL from
functions/portable.py*, so the DuckDB oracle computes the **bit-identical**
estimate:

- hash: ``md5(cast(value as string))`` — same 32 hex chars in both engines;
- register index: the first 2 hex chars (``hex_int``), m = 256 buckets;
- rho: leading-zero rank of the next 12 hex chars (a 48-bit word) via a
  pure integer CASE cascade — no ``log2``, no float. 48 bits (not the
  classic 32) puts the hash-collision saturation point at 2^48 ≈ 2.8e14
  distincts, far above any 100 TB corpus, so the Flajolet 32-bit
  LARGE-range correction (-2^32·ln(1-E/2^32), a runtime transcendental
  this module forbids) is never needed (ADVICE r12);
- register merge: ``max(rho)`` grouped by (group, bucket) — order-free;
- harmonic sum: ``sum(2^(49-rho))`` **in BIGINT** (each term is an exact
  power of two, max total 256·2^49 = 2^57 — exact in int64, so the sum is
  layout/partitioning independent; the one int64->double conversion that
  follows is a single IEEE round-to-nearest op, bit-identical in the JVM
  and DuckDB);
- raw estimate: ONE IEEE division ``C / S`` where C = alpha_m·m²·2^49 is a
  Python-repr'd double literal both engines parse to the same bits;
- small-range (linear counting) correction: ``m·ln(m/V)`` has only m
  possible values (V = empty registers in 1..m), so the whole table is
  precomputed in Python and baked in as fixed-width string literals
  (``portable.pick``) — **no transcendental is evaluated at runtime**, the
  last cross-engine libm-ulp hazard is gone;
- rounding: ``floor(est + 0.5)`` (portable; Spark round() is HALF_UP while
  DuckDB rounds half-even — floor+0.5 sidesteps the divergence).

Scale shape (same as the DataSketches path): the first aggregate
partial-combines map-side, so the shuffle carries at most m=256
(group, bucket, rho) rows per group per map partition — fixed-size
register state, never the value universe; the second aggregate reduces
m rows per group to one.

Reference scope note: hellofresh/klepto has no aggregation engine at all
(pkg/ has no GROUP BY path); sketches belong to the engine's
training-data-pipeline extension surface, alongside dedup and sampling.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..functions import portable

# Flajolet et al. 2007 bias-correction constant for m >= 128.
_P = 8
M = 1 << _P                       # 256 registers
_ALPHA = 0.7213 / (1.0 + 1.079 / M)
# rho is computed from a 48-bit word: 1..48 for the first set bit,
# 49 when all 48 bits are zero. Harmonic terms are scaled by 2^49 so
# every 2^(49-rho) is an exact BIGINT (sum <= 256*2^49 = 2^57).
_RHO_BITS = 48
_RHO_MAX = _RHO_BITS + 1
_SCALE = 1 << _RHO_MAX            # 2^49, the empty-register term
_RAW_C = _ALPHA * M * M * float(_SCALE)   # numerator of the scaled raw estimate
_SMALL_CUTOFF = 2.5 * M           # Flajolet small-range threshold

# m*ln(m/V) for V = 1..m, precomputed so NO ln() runs at query time.
# 6 decimals keeps the table term << 1 ulp of the true value at this
# magnitude while staying an exact-parse literal in both engines.
_LINEAR_TABLE = [f"{M * math.log(M / v):.6f}" for v in range(1, M + 1)]

#: the register index's scheme; one stamped without ``rho_bits`` (the
#: pre-48-bit word) refuses
SCHEME = {"p": _P, "rho_bits": _RHO_BITS}
REQUIRED = ("rho_bits",)


def hash_sql(value_sql: str) -> str:
    """md5 over the stringified value — the shared hash for bucket+rho."""
    return portable.md5_of(f"cast({value_sql} as string)")


def bucket_sql(hash_col: str) -> str:
    """Register index in [0, m) from the first p/4 = 2 hex chars."""
    return portable.hex_int(hash_col, 1, _P // 4)


def word_sql(hash_col: str) -> str:
    """The 48-bit rho word from hex chars 3..14 (48 bits, not the
    classic 32, so saturation sits at 2^48 distincts and no large-range
    correction — a transcendental — is ever required; ADVICE r12)."""
    return portable.hex_int(hash_col, 1 + _P // 4, _RHO_BITS // 4)


def rho_sql(word_col: str) -> str:
    """Leading-zero rank of a 48-bit word, 1..49 — pure integer CASE
    cascade (48 BIGINT comparisons; no log2, whose exact-power-of-two
    edge rounding could differ between engines)."""
    whens = " ".join(
        f"WHEN {word_col} >= {1 << (_RHO_BITS - i)} THEN {i}"
        for i in range(1, _RHO_BITS + 1))
    return f"(CASE {whens} ELSE {_RHO_MAX} END)"


def estimate_sql(reg_col: str) -> str:
    """Aggregate expression over per-register rows -> BIGINT estimate.

    ``sum(2^(49-r))`` stays in BIGINT (exact, order-free); absent
    registers contribute 2^49 each. The only float ops are one
    int64->double conversion, one division, one <= comparison, and
    floor(x+0.5) — all single IEEE round-to-nearest ops with pinned
    operand order, identical in Spark and DuckDB.
    """
    s = (f"(sum(cast(pow(2, {_RHO_MAX} - {reg_col}) as bigint))"
         f" + ({M} - count(*)) * {_SCALE})")
    zeros = f"({M} - count(*))"
    raw = f"({_RAW_C!r} / cast({s} as double))"
    linear = f"cast({portable.pick(_LINEAR_TABLE, f'{zeros} - 1')} as double)"
    est = (f"(CASE WHEN {raw} <= {_SMALL_CUTOFF!r} AND {zeros} > 0 "
           f"THEN {linear} ELSE {raw} END)")
    return f"cast(floor({est} + 0.5) as bigint)"


def hll_distinct_portable(df: DataFrame, value_col: str,
                          group_cols: list[str] | None = None) -> DataFrame:
    """Approximate distinct ``value_col`` per group with the portable
    register arithmetic above — value-identical to :func:`oracle_sql`'s
    DuckDB text. Two hash aggregates; the shuffle carries at most m=256
    register rows per group per map partition."""
    group_cols = group_cols or []
    regs = hll_registers(df, value_col, group_cols)
    agg = F.expr(estimate_sql("hll_r")).alias("approx_distinct")
    if group_cols:
        return regs.groupBy(*group_cols).agg(agg)
    return regs.groupBy().agg(agg)


def hll_registers(df: DataFrame, value_col: str,
                  group_cols: list[str] | None = None) -> DataFrame:
    """Per-group register rows (group..., hll_bucket, hll_r) — the
    materialisable form of the sketch: at most m=256 rows per group,
    regardless of how many values fed them."""
    group_cols = group_cols or []
    h = hash_sql(value_col)
    rows = (df.filter(F.col(value_col).isNotNull())
            .select(*group_cols,
                    F.expr(bucket_sql(h)).alias("hll_bucket"),
                    F.expr(word_sql(h)).alias("hll_word"))
            .select(*group_cols, "hll_bucket",
                    F.expr(rho_sql("hll_word")).alias("hll_rho")))
    return (rows.groupBy(*group_cols, "hll_bucket")
            .agg(F.max("hll_rho").alias("hll_r")))


def _fold_estimate(regs: DataFrame,
                   group_cols: list[str]) -> DataFrame:
    """max-fold appended register rows, then estimate per group."""
    folded = (regs.groupBy(*group_cols, "hll_bucket")
              .agg(F.max("hll_r").alias("hll_r")))
    agg = F.expr(estimate_sql("hll_r")).alias("approx_distinct")
    if group_cols:
        return folded.groupBy(*group_cols).agg(agg)
    return folded.groupBy().agg(agg)


def hll_write_registers(df: DataFrame, value_col: str,
                        group_cols: list[str], path: str,
                        mode: str = "overwrite") -> None:
    """Persist the register rows — the SIXTH member of the at-rest probe
    matrix (exact / minhash / semantic / cdc / span / hll): distinct
    counts over a growing corpus without ever rescanning history. The
    register merge is ``max``, which is idempotent AND commutative, so
    commits are pure parquet appends folded by max-on-read — strictly
    simpler than the span index's sum-fold (a replayed append cannot
    even double-count)."""
    from klepto_spark.operators.dedup import write_index
    write_index(hll_registers(df, value_col, group_cols), path, "hll",
                SCHEME, mode, REQUIRED)


def hll_append(spark, path: str, batch: DataFrame, value_col: str,
               group_cols: list[str], commit: bool = True) -> DataFrame:
    """Distinct-count estimates over (indexed corpus ∪ batch), touching
    only REGISTER rows of the index — never historical raw data — and
    (optionally) folding the batch's registers in.

    Because registers are maxima of disjoint row sets, the union's
    registers equal the registers of a full recompute EXACTLY, so the
    returned estimates are bit-identical to :func:`hll_distinct_portable`
    over old ∪ new — the same index-probe-equals-full-recompute contract
    as s13/t20, and the property the t21 oracle hashes. The returned
    frame probes the PRE-append snapshot even after the commit (the
    parquet relation pins its file list at read time)."""
    from klepto_spark.operators.dedup import commit_index, read_index
    batch_regs = hll_registers(batch, value_col, group_cols)
    idx = read_index(spark, path, (*group_cols, "hll_bucket", "hll_r"),
                     "hll", SCHEME, REQUIRED)
    est = _fold_estimate(idx.unionByName(batch_regs), group_cols)
    if commit:
        commit_index(spark, path, batch_regs, "hll_append")
    return est


def hll_overlap(a: DataFrame, b: DataFrame, value_col: str,
                group_cols: list[str] | None = None) -> DataFrame:
    """Approximate distinct-value OVERLAP between two corpora per group
    — inclusion-exclusion over portable registers: |A∩B| ≈ est(A) +
    est(B) - est(A∪B), where est(A∪B) costs one max-fold of the two
    register sets (HLL union is lossless), never a join of the value
    universes. This is the corpus-overlap / audience-intersection
    signal (how many users/documents do two snapshots share?) at
    register price: each side shuffles at most m=256 rows per group.

    All three estimates are the bit-portable HLL, so the DuckDB twin
    (:func:`overlap_oracle_sql`) computes the identical BIGINTs — the
    subtraction and the >=0 clamp are exact integer ops, and the
    per-side joins are NULL-SAFE (``eqNullSafe``, mirroring the
    oracle's ``IS NOT DISTINCT FROM``) so a NULL group key carries its
    per-side distincts instead of dropping them (ADVICE r12 medium).
    Estimation error compounds across the three terms (~3x the
    single-sketch envelope on the overlap when the true intersection
    is small); pinned by tests. Groups present in only one side report
    the other side's distinct as 0 and overlap 0.

    Each input is register-ised exactly ONCE: the two sides' register
    frames union into one side-tagged persisted frame (at most 2·m rows
    per group — MEMORY_AND_DISK, registered with dedup's pinned-cache
    list so ``dedup.release_caches()`` frees it), and the per-side and
    union estimates all read that cache (ADVICE r12)."""
    from klepto_spark.operators.dedup import _PINNED_CACHES
    group_cols = group_cols or []
    agg = F.expr(estimate_sql("hll_r")).alias("est")

    ra = hll_registers(a, value_col, group_cols) \
        .withColumn("hll_side", F.lit("a"))
    rb = hll_registers(b, value_col, group_cols) \
        .withColumn("hll_side", F.lit("b"))
    regs = ra.unionByName(rb).persist()
    _PINNED_CACHES.append(regs)

    def est(side: str, name: str) -> DataFrame:
        r = regs.filter(F.col("hll_side") == side).drop("hll_side")
        out = (r.groupBy(*group_cols).agg(agg) if group_cols
               else r.groupBy().agg(agg))
        return out.withColumnRenamed("est", name)

    ea = est("a", "distinct_a")
    eb = est("b", "distinct_b")
    eu = _fold_estimate(regs.drop("hll_side"), group_cols) \
        .withColumnRenamed("approx_distinct", "distinct_union")
    if group_cols:
        ea = ea.select(*[F.col(c).alias(f"__a_{c}") for c in group_cols],
                       "distinct_a")
        eb = eb.select(*[F.col(c).alias(f"__b_{c}") for c in group_cols],
                       "distinct_b")
        cond_a = _all([F.col(c).eqNullSafe(F.col(f"__a_{c}"))
                       for c in group_cols])
        cond_b = _all([F.col(c).eqNullSafe(F.col(f"__b_{c}"))
                       for c in group_cols])
        j = (eu.join(F.broadcast(ea), cond_a, "left")
             .drop(*[f"__a_{c}" for c in group_cols])
             .join(F.broadcast(eb), cond_b, "left")
             .drop(*[f"__b_{c}" for c in group_cols]))
    else:
        j = eu.crossJoin(F.broadcast(ea)).crossJoin(F.broadcast(eb))
    da = F.coalesce("distinct_a", F.lit(0))
    db = F.coalesce("distinct_b", F.lit(0))
    return j.select(
        *group_cols, da.alias("distinct_a"), db.alias("distinct_b"),
        F.col("distinct_union"),
        F.greatest(F.lit(0), da + db - F.col("distinct_union"))
        .cast("long").alias("overlap_est"))


def _all(conds):
    """AND-fold a non-empty list of Column predicates."""
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def overlap_oracle_sql(a_sql: str, b_sql: str, value_col: str,
                       group_cols: list[str] | None = None) -> str:
    """DuckDB twin of :func:`hll_overlap`: the same register CTEs per
    side, the same max-fold union, the same integer inclusion-exclusion."""
    group_cols = group_cols or []
    h = hash_sql(value_col)
    grp = ", ".join(group_cols)
    grp_pre = f"{grp}, " if grp else ""
    by = f" GROUP BY {grp}" if grp else ""

    def regs(src: str, name: str) -> str:
        return f"""{name}_w AS (
  SELECT {grp_pre}{bucket_sql(h)} AS hll_bucket, {word_sql(h)} AS hll_word
  FROM ({src}) WHERE {value_col} IS NOT NULL),
{name} AS (
  SELECT {grp_pre}hll_bucket, max({rho_sql('hll_word')}) AS hll_r
  FROM {name}_w GROUP BY {grp_pre}hll_bucket)"""

    def est(src_regs: str, name: str, col: str) -> str:
        return (f"{name} AS (SELECT {grp_pre}{estimate_sql('hll_r')} "
                f"AS {col} FROM {src_regs}{by})")

    union_regs = (f"ru AS (SELECT {grp_pre}hll_bucket, max(hll_r) AS hll_r "
                  f"FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) "
                  f"GROUP BY {grp_pre}hll_bucket)")
    join = (" ".join(
        f"LEFT JOIN {s} ON " + " AND ".join(
            f"u.{c} IS NOT DISTINCT FROM {s}.{c}" for c in group_cols)
        for s in ("ea", "eb"))
        if group_cols else "CROSS JOIN ea CROSS JOIN eb")
    sel_grp = "".join(f"u.{c}, " for c in group_cols)
    return f"""
WITH {regs(a_sql, 'ra')},
{regs(b_sql, 'rb')},
{est('ra', 'ea', 'distinct_a')},
{est('rb', 'eb', 'distinct_b')},
{union_regs},
{est('ru', 'eu', 'distinct_union')}
SELECT {sel_grp}
       CAST(coalesce(distinct_a, 0) AS BIGINT) AS distinct_a,
       CAST(coalesce(distinct_b, 0) AS BIGINT) AS distinct_b,
       distinct_union,
       CAST(greatest(0, coalesce(distinct_a, 0) + coalesce(distinct_b, 0)
                        - distinct_union) AS BIGINT) AS overlap_est
FROM eu u {join}"""


def oracle_sql(table: str, value_col: str,
               group_cols: list[str] | None = None) -> str:
    """The DuckDB twin: the SAME portable fragments over the same table."""
    group_cols = group_cols or []
    h = hash_sql(value_col)
    grp = ", ".join(group_cols)
    grp_pre = f"{grp}, " if grp else ""
    return f"""
WITH hll_words AS (
  SELECT {grp_pre}{bucket_sql(h)} AS hll_bucket, {word_sql(h)} AS hll_word
  FROM {table} WHERE {value_col} IS NOT NULL),
hll_regs AS (
  SELECT {grp_pre}hll_bucket, max({rho_sql('hll_word')}) AS hll_r
  FROM hll_words GROUP BY {grp_pre}hll_bucket)
SELECT {grp_pre}{estimate_sql('hll_r')} AS approx_distinct
FROM hll_regs{f' GROUP BY {grp}' if grp else ''}"""
