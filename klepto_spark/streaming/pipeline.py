"""Structured Streaming pipelines.

The reference has NO streaming operators (SURVEY §2.8 — its channel
"streaming" is a batch transport). This module is the engine's forward
extension for the ``events`` stream table: the same declarative pipeline
pieces (filter / anonymise projection) applied on an unbounded source, plus
watermarked event-time rollups — the streaming twin of
``__spark_entry__.q_events_rollup``.

All sinks default to ``availableNow`` triggers in tests (bounded drain);
production would run continuous triggers with checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from klepto_spark.operators.pipeline import anonymise_projection


def read_events_stream(spark: SparkSession, directory: str,
                       schema=None) -> DataFrame:
    """File-source stream over a directory of parquet event files."""
    from klepto_spark.session import ensure_nanos_conf, normalise_nanos_ts
    ensure_nanos_conf(spark)
    if schema is None:
        static = spark.read.parquet(directory)
        schema = static.schema
    df = spark.readStream.schema(schema).parquet(directory)
    return normalise_nanos_ts(df)


def anonymise_stream(df: DataFrame, anonymise: dict[str, str],
                     table: str = "", seed: str = "klepto",
                     pii_redact: list[str] | None = None) -> DataFrame:
    """The batch pipeline's anonymise stage on a stream: the projection is
    stateless, so :func:`~klepto_spark.operators.pipeline.anonymise_projection`
    — the same fakers, the same Spark twin, the same ``pii_redact`` masking
    after them — serves both, and a stream and a batch over the same rows
    give the same output."""
    return anonymise_projection(df, anonymise, table=table, seed=seed,
                                pii_redact=pii_redact or ())


def windowed_rollup(df: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Watermarked event-time rollup: count/sum per (window, event_type).

    The watermark bounds state: late rows beyond it are dropped, so state
    size is O(active windows x event types) regardless of stream length —
    the property that makes this safe on an unbounded 100 TB/day feed."""
    return (df
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                 .alias("sum_value"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "event_type", "n_events", "sum_value"))


def run_to_memory(stream_df: DataFrame, query_name: str,
                  output_mode: str = "append") -> None:
    """Drain the stream with an availableNow trigger into an in-memory
    table (test/debug sink); blocks until the drain finishes."""
    q = (stream_df.writeStream
         .format("memory")
         .queryName(query_name)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


EPOCH_TABLE_SUFFIX = "_klepto_epochs"


def run_to_jdbc(stream_df: DataFrame, dsn_str: str, table: str,
                checkpoint: str, batchsize: int = 10_000,
                available_now: bool = True):
    """Stream into a JDBC table with EXACTLY-ONCE micro-batches.

    Spark's foreachBatch is at-least-once (a crashed epoch replays), so
    each micro-batch publishes through the atomic staging swap WITH its
    epoch id committed in the same transaction into
    ``<table>_klepto_epochs``; a replayed epoch is detected there and
    skipped before any write. Data and progress marker land atomically or
    not at all — the streaming twin of the batch sink's atomicity.

    Returns the StreamingQuery (caller awaits); ``available_now=False``
    runs continuously."""
    from klepto_spark import jdbc as J
    from klepto_spark.sinks.writers import write_jdbc
    from klepto_spark.sources.dsn import route

    kind, _, dsn = route(dsn_str)
    if kind != "jdbc":
        raise ValueError(f"run_to_jdbc needs a jdbc DSN, got {dsn_str!r}")
    epochs = f"{table}{EPOCH_TABLE_SUFFIX}"

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if not J.table_exists(spark, dsn, epochs):
            J.execute(spark, dsn,
                      [f"CREATE TABLE {epochs} (epoch_id BIGINT NOT NULL)"],
                      transactional=False)
        elif J.query_rows(spark, dsn,
                          f"SELECT COUNT(*) FROM {epochs} "
                          f"WHERE epoch_id = {int(epoch_id)}")[0][0] != "0":
            return  # replayed epoch: already committed with its data
        write_jdbc(batch_df, dsn, table, mode="append", atomic=True,
                   batchsize=batchsize,
                   txn_statements=[
                       f"INSERT INTO {epochs} VALUES ({int(epoch_id)})"])

    writer = (stream_df.writeStream
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_distinct_rollup(df: DataFrame, value_col: str = "user_id",
                             window: str = "1 hour",
                             watermark: str = "2 hours",
                             lgk: int = 12) -> DataFrame:
    """Approximate distinct values per event-time window via the HLL
    sketch aggregate — the streaming twin of the batch sketch family.
    State per window is the fixed-size sketch (2^lgk buckets), not the
    value universe, and the watermark retires windows — so an unbounded
    stream holds O(active windows) KB of state where exact
    COUNT(DISTINCT) would hold every identity seen."""
    return (df
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"))
            .agg(F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col(value_col), F.lit(lgk)))
                .alias("approx_distinct"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "approx_distinct"))
