"""Portable Bloom filter — identical bit arithmetic in Spark AND DuckDB.

The membership side of the sketch family: t06/t21's portable HLL answers
"how many distinct values", this module answers "is this value possibly
in the corpus" at bit-vector price — the decontamination primitive
("is this training document in the eval set?") when the exact
cross-corpus join (d08) is too expensive to run per batch.

Every step is portable SQL (functions/portable.py), so the DuckDB twin
computes the bit-identical filter:

- k hash positions per value: ``md5(concat('<i>|', cast(v as string)))``
  for i in 0..k-1, first 8 hex chars as an integer, ``% m`` — pure
  integer ops, no engine-specific hash;
- the filter is stored EXTENSIONALLY as (group..., bloom_bit) rows —
  the set of set bits — at most m rows per group regardless of how many
  values fed it;
- merge is set UNION (distinct rows): commutative, associative and
  IDEMPOTENT, so at-rest appends are pure parquet appends folded by
  distinct-on-read, a replayed append cannot change the filter, and an
  index ∪ batch probe is bit-equal to a full recompute — the same
  probe-equals-recompute contract as the HLL index (t21) and the
  SEVENTH at-rest incremental family
  (exact/minhash/semantic/cdc/span/hll/bloom);
- a probe value is ``maybe_member`` iff ALL k of its positions are set:
  no false negatives EVER (a true member's bits are set by
  construction), false positives at the standard (1-e^(-kn/m))^k rate.

Scale shape: building shuffles at most (group, bit) pairs — the
explode is k rows per value but the distinct's map-side partial
aggregation collapses them to <= m rows per group per map partition.
Probing broadcasts the BOUNDED index (<= m rows per group — at the
default geometry ~256k rows ≈ 2 MB) into the batch's k-row expansion;
cost follows the batch, never the indexed corpus.

Reference scope note: hellofresh/klepto has no sketch surface at all;
membership filters belong to the engine's training-data-pipeline
extension, alongside dedup and the HLL family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import portable

#: bits per group. 2^18 keeps the documents-table FPR ~1% at sf0.1
#: (n=25k, k=4) and the stored form <= 262144 rows per group.
M_BITS = 1 << 18
#: hash functions per value.
K_HASHES = 4


def scheme(m: int = M_BITS, k: int = K_HASHES) -> dict:
    """The filter index's scheme: its (m, k) geometry."""
    return {"m": m, "k": k}


def bit_sql(value_sql: str, i: int, m: int = M_BITS) -> str:
    """The i-th bit position for a value: md5 of the salted stringified
    value, first 8 hex chars as an integer, mod m. Pure integer ops —
    identical in both engines."""
    h = portable.md5_of(f"concat('{i}|', cast({value_sql} as string))")
    return f"({portable.hex_int(h, 1, 8)} % {m})"


def _bits_array(value_col: str, m: int, k: int):
    return F.array(*[F.expr(bit_sql(value_col, i, m)) for i in range(k)])


def bloom_bits(df: DataFrame, value_col: str,
               group_cols: list[str] | None = None,
               m: int = M_BITS, k: int = K_HASHES) -> DataFrame:
    """The filter's stored form: distinct (group..., bloom_bit) rows —
    one scan, one distinct (map-side combined), <= m rows per group."""
    group_cols = group_cols or []
    return (df.filter(F.col(value_col).isNotNull())
            .select(*group_cols,
                    F.explode(_bits_array(value_col, m, k))
                    .alias("bloom_bit"))
            .distinct())


def bloom_write(df: DataFrame, value_col: str, group_cols: list[str],
                path: str, mode: str = "overwrite",
                m: int = M_BITS, k: int = K_HASHES) -> None:
    """Persist the bit rows as the SEVENTH at-rest probe family. The
    (m, k, hash derivation) geometry is recorded in ``_dedupmeta.json``
    so appends with a different scheme refuse instead of silently
    merging incompatible filters (the at-rest index protocol,
    ``operators.dedup.write_index``)."""
    from klepto_spark.operators.dedup import write_index
    write_index(bloom_bits(df, value_col, group_cols, m, k), path, "bloom",
                scheme(m, k), mode)


def bloom_append(spark, path: str, batch: DataFrame, value_col: str,
                 group_cols: list[str], commit: bool = True,
                 m: int = M_BITS, k: int = K_HASHES) -> DataFrame:
    """Fold a batch's bits into the at-rest filter and return the
    combined (index ∪ batch) bit rows. Because the merge is set union,
    the returned filter is bit-equal to a full recompute over
    old ∪ new, and a REPLAYED commit changes nothing (distinct-on-read
    absorbs duplicate rows) — the t21 idempotence contract."""
    from klepto_spark.operators.dedup import commit_index, read_index
    batch_bits = bloom_bits(batch, value_col, group_cols, m, k)
    idx = read_index(spark, path, (*group_cols, "bloom_bit"), "bloom",
                     scheme(m, k))
    combined = idx.unionByName(batch_bits).distinct()
    if commit:
        commit_index(spark, path, batch_bits, "bloom_append")
    return combined


def bloom_probe(index_bits: DataFrame, batch: DataFrame, value_col: str,
                group_cols: list[str] | None = None,
                id_cols: list[str] | None = None,
                m: int = M_BITS, k: int = K_HASHES) -> DataFrame:
    """Membership test: for each batch row, ``maybe_member`` iff ALL k
    of its bit positions are set in the filter. The bounded index
    broadcasts; the probe costs k rows per batch value and one
    broadcast-join — never touches the indexed corpus. ``id_cols`` ride
    through to the output (e.g. probing a doc's fingerprint but keying
    the verdict by doc_id)."""
    group_cols = group_cols or []
    id_cols = id_cols or []
    probe = (batch.filter(F.col(value_col).isNotNull())
             .select(*group_cols, *id_cols, value_col,
                     F.explode(_bits_array(value_col, m, k))
                     .alias("bloom_bit")))
    idx = F.broadcast(index_bits.select(*group_cols, "bloom_bit")
                      .withColumn("bloom_set", F.lit(1)))
    joined = probe.join(idx, [*group_cols, "bloom_bit"], "left")
    return (joined.groupBy(*group_cols, *id_cols, value_col)
            .agg((F.count(F.when(F.col("bloom_set").isNull(), 1)) == 0)
                 .alias("maybe_member")))


def probe_oracle_sql(train_sql: str, probe_sql: str, value_col: str,
                     id_cols: list[str] | None = None,
                     m: int = M_BITS, k: int = K_HASHES) -> str:
    """DuckDB twin of build-then-probe (ungrouped): the same salted-md5
    bit positions, the same distinct bit set, the same ALL-k test."""
    id_cols = id_cols or []
    ids_pre = "".join(f"{c}, " for c in id_cols)
    p_ids_pre = "".join(f"p.{c}, " for c in id_cols)
    bits = ", ".join(bit_sql(value_col, i, m) for i in range(k))
    return f"""
WITH train_bits AS (
  SELECT DISTINCT unnest([{bits}]) AS bloom_bit
  FROM ({train_sql}) WHERE {value_col} IS NOT NULL),
probe_bits AS (
  SELECT {ids_pre}{value_col}, unnest([{bits}]) AS bloom_bit
  FROM ({probe_sql}) WHERE {value_col} IS NOT NULL)
SELECT {p_ids_pre}p.{value_col},
       (count(*) FILTER (WHERE t.bloom_bit IS NULL)) = 0 AS maybe_member
FROM probe_bits p LEFT JOIN train_bits t ON p.bloom_bit = t.bloom_bit
GROUP BY {p_ids_pre}p.{value_col}"""
