"""Streaming breadth: kafka-shaped DSN routing (gated on the connector
jar) and the RocksDB state-store path for large stateful queries."""

import pytest

from klepto_spark.sources.dsn import DSNError, parse, route
from klepto_spark.streaming import dedup as SD
from klepto_spark.streaming.kafka import (
    kafka_available, kafka_options, read_kafka_stream)
from klepto_spark.streaming.state import use_default_state, use_rocksdb_state


def test_kafka_dsn_routing_and_options():
    kind, fmt, dsn = route(
        "kafka://b1:9092,b2:9092/events?startingOffsets=earliest"
        "&maxOffsetsPerTrigger=5000&kafka.security.protocol=SSL")
    assert (kind, fmt) == ("stream", "kafka")
    opts = kafka_options(dsn)
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "events"
    # operational params pass through verbatim — tuning without code
    assert opts["startingOffsets"] == "earliest"
    assert opts["maxOffsetsPerTrigger"] == "5000"
    assert opts["kafka.security.protocol"] == "SSL"


def test_kafka_dsn_validation():
    with pytest.raises(DSNError, match="topic"):
        kafka_options(parse("kafka://b1:9092"))
    with pytest.raises(DSNError, match="bootstrap"):
        kafka_options(parse("kafka:///events"))
    # a kafka DSN is not a batch source or sink
    from klepto_spark.sources.catalog import connect
    with pytest.raises(DSNError):
        connect(None, "kafka://b:9092/t")


def test_kafka_stream_gated_with_clear_error(spark):
    """Without the connector jar the failure must name the missing
    dependency, not surface DATA_SOURCE_NOT_FOUND from deep inside."""
    if kafka_available(spark):
        pytest.skip("kafka connector jar present; gating not observable")
    with pytest.raises(DSNError, match="spark-sql-kafka"):
        read_kafka_stream(spark, "kafka://h:9092/t")


def test_kafka_decode_encode_over_memory_stream_fake(spark, tmp_path):
    """VERDICT r3 #8: the jar-gated suite's LOGIC executes without the
    connector. A file stream shaped exactly like the Kafka connector
    frame (key/value binary + topic/partition/offset/timestamp) drives
    decode_kafka_value through a real streaming query; the decoded rows
    then round-trip encode_kafka_payload back to a producer frame."""
    import json
    from pyspark.sql import functions as F
    from klepto_spark.streaming.kafka import (
        decode_kafka_value, encode_kafka_payload)

    src = str(tmp_path / "fake_kafka")
    rows = [(str(i), json.dumps({"user": f"u{i}", "n": i})) for i in range(5)]
    (spark.createDataFrame(rows, "k string, v string")
     .selectExpr("CAST(k AS BINARY) AS key", "CAST(v AS BINARY) AS value",
                 "'events' AS topic", "0 AS partition",
                 "CAST(k AS LONG) AS offset",
                 "current_timestamp() AS timestamp")
     .write.mode("overwrite").parquet(src))

    fake = (spark.readStream.schema(spark.read.parquet(src).schema)
            .parquet(src))
    decoded = decode_kafka_value(fake, "user string, n int")
    q = (decoded.writeStream.format("memory").queryName("kafka_fake")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = spark.sql("SELECT user, n FROM kafka_fake ORDER BY n").collect()
    assert [(r["user"], r["n"]) for r in got] == [
        (f"u{i}", i) for i in range(5)]
    assert "_kafka_ts" in spark.table("kafka_fake").columns

    # producer-side projection: key kept, payload JSON-encoded
    out = encode_kafka_payload(
        spark.table("kafka_fake").withColumn("key", F.col("user")))
    one = out.orderBy("key").first()
    assert one["key"] == "u0"
    assert json.loads(one["value"])["user"] == "u0"
    assert set(out.columns) == {"key", "value"}
    # keyless frames still produce a value-only frame (round-robin keys)
    assert encode_kafka_payload(
        spark.table("kafka_fake").select("user", "n")).columns == ["value"]


def test_kafka_sink_options_mapping():
    """Pure sink routing: subscribe becomes topic, kafka.* client params
    pass through to the producer, checkpoint is attached."""
    from klepto_spark.streaming.kafka import kafka_sink_options
    dsn = parse("kafka://b1:9092,b2:9092/out"
                "?kafka.security.protocol=SSL&startingOffsets=earliest")
    opts = kafka_sink_options(dsn, "/ck")
    assert opts == {"kafka.bootstrap.servers": "b1:9092,b2:9092",
                    "topic": "out", "checkpointLocation": "/ck",
                    "kafka.security.protocol": "SSL"}


def test_rocksdb_state_store_used_by_new_queries(spark, sf_dir, tmp_path):
    """use_rocksdb_state routes a NEW query's state to RocksDB — proven
    by rocksdb custom metrics on the state operator, not just conf
    echo."""
    from klepto_spark.streaming.pipeline import (
        read_events_stream, windowed_rollup)
    src = str(tmp_path / "ev")
    (spark.read.parquet(f"{sf_dir}/events.parquet")
     .limit(500).write.mode("overwrite").parquet(src))
    use_rocksdb_state(spark, bounded_memory_mb=256)
    try:
        q = (windowed_rollup(read_events_stream(spark, src))
             .writeStream.format("memory").queryName("rocks_rollup")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        metrics = q.lastProgress["stateOperators"][0]["customMetrics"]
        assert any(k.startswith("rocksdb") for k in metrics), metrics
        assert spark.sql("SELECT count(*) FROM rocks_rollup").first()[0] > 0
    finally:
        use_default_state(spark)


def test_zone_pin_warns_once_when_overriding_non_utc(spark):
    """ensure_nanos_conf pins the session zone to UTC; when that
    overrides an application's non-UTC zone the change must be flagged
    (once), never silent — and an already-UTC session stays quiet."""
    import warnings
    from klepto_spark import session as S
    from klepto_spark.session import ensure_nanos_conf
    prev = spark.conf.get("spark.sql.session.timeZone")
    saved = list(S._WARNED_ZONE_OVERRIDE)
    try:
        S._WARNED_ZONE_OVERRIDE.clear()
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # UTC -> UTC: no warning
            ensure_nanos_conf(spark)
        spark.conf.set("spark.sql.session.timeZone", "Europe/Berlin")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            ensure_nanos_conf(spark)
        assert len(w) == 1 and "Europe/Berlin" in str(w[0].message)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        spark.conf.set("spark.sql.session.timeZone", "Europe/Berlin")
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # second override: warned already
            ensure_nanos_conf(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        S._WARNED_ZONE_OVERRIDE[:] = saved
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_simhash_col_matches_batch_fingerprint(spark, sf_dir):
    """The stateless per-row simhash must be bit-identical to the batch
    explode+aggregate fingerprint (same shingles, votes, majority rule)."""
    from klepto_spark.operators import dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    batch = {r["doc_id"]: r["simhash"]
             for r in dedup.simhash_df(docs, hash_fn="xxhash64").collect()}
    inline = {r["doc_id"]: r["sh"]
              for r in docs.select(
                  "doc_id",
                  dedup.simhash_col("text").alias("sh")).collect()}
    assert batch == inline


def test_streaming_dedup_keeps_first_arrival(spark, tmp_path):
    """Exact and near-dup streaming dedup: duplicates within the watermark
    collapse to one surviving row per fingerprint."""
    from klepto_spark.streaming.dedup import (
        dedup_exact_stream, dedup_simhash_stream)

    src = str(tmp_path / "docs_stream")
    rows = [
        (1, "the quick brown fox", "2024-01-01 10:00:00"),
        (2, "the quick brown fox", "2024-01-01 10:05:00"),   # exact dup
        (3, "a completely different document", "2024-01-01 10:10:00"),
        (4, "the quick brown fox", "2024-01-01 10:20:00"),   # exact dup
    ]
    (spark.createDataFrame(rows, "doc_id int, text string, ts_s string")
     .selectExpr("doc_id", "text", "CAST(ts_s AS TIMESTAMP) AS ts")
     .write.mode("overwrite").parquet(src))

    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema).parquet(src))
    q = (dedup_exact_stream(stream).writeStream.format("memory")
         .queryName("dd_exact").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck1"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT text FROM dd_exact").collect()
    assert sorted(r["text"] for r in got) == [
        "a completely different document", "the quick brown fox"]

    q2 = (dedup_simhash_stream(stream).writeStream.format("memory")
          .queryName("dd_near").outputMode("append")
          .option("checkpointLocation", str(tmp_path / "ck2"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    near = spark.sql("SELECT doc_id, simhash FROM dd_near").collect()
    assert len(near) == 2                       # dups collapsed
    assert len({r["simhash"] for r in near}) == 2


def test_streaming_funnel_matches_batch_on_ordered_arrival(spark, tmp_path):
    """Two in-order micro-batches: the streaming funnel's final row per
    user equals the batch funnel over the union; users who advance in both
    batches emit twice and latest-wins."""
    from klepto_spark.operators.funnel import funnel
    from klepto_spark.streaming.funnel import funnel_stream

    steps = ["view", "click", "purchase"]
    batch1 = [(1, "2024-01-01 10:00:00", "view"),
              (1, "2024-01-01 10:01:00", "click"),
              (2, "2024-01-01 10:00:00", "click"),   # click before any view
              (3, "2024-01-01 10:00:00", "view")]
    batch2 = [(1, "2024-01-01 10:05:00", "purchase"),
              (2, "2024-01-01 10:06:00", "view"),
              (3, "2024-01-01 10:07:00", "other"),   # non-step type ignored
              (3, "2024-01-01 10:08:00", "click")]
    src = str(tmp_path / "fun_src")
    schema = "user_id bigint, ts_s string, event_type string"

    def write(rows, name):
        (spark.createDataFrame(rows, schema)
         .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type")
         .write.mode("append").parquet(src))

    # two sequential availableNow runs over one checkpoint pin the batch
    # order (a single run may list same-mtime files in either order);
    # the file sink supports checkpoint recovery, memory does not
    sink = str(tmp_path / "fun_sink")
    for i, batch in enumerate((batch1, batch2)):
        write(batch, f"b{i}")
        stream = (spark.readStream
                  .schema("user_id bigint, ts timestamp, event_type string")
                  .parquet(src))
        q = (funnel_stream(stream, steps).writeStream.format("parquet")
             .option("path", sink).outputMode("append")
             .option("checkpointLocation", str(tmp_path / "fun_ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    rows = spark.read.parquet(sink).collect()
    # latest row per user wins (the CDC convention); batches may be
    # combined by availableNow, so take the deepest row per user
    latest = {}
    for r in rows:
        if r["user_id"] not in latest or r["depth"] > latest[r["user_id"]]["depth"]:
            latest[r["user_id"]] = r
    all_events = (spark.createDataFrame(batch1 + batch2, schema)
                  .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts",
                              "event_type"))
    expect = {r["user_id"]: r for r in funnel(all_events, steps).collect()}
    assert set(latest) == set(expect)
    for uid, er in expect.items():
        gr = latest[uid]
        assert gr["depth"] == er["depth"], uid
        for s in steps:
            assert gr[f"t_{s}"] == er[f"t_{s}"], (uid, s)


def test_streaming_funnel_out_of_order_trade_is_documented(spark, tmp_path):
    """Across-batch out-of-order arrival: a click seen before its user's
    (late) view is not revived — the documented O(1)-state trade. The
    batch funnel over the union DOES count it; assert the divergence so
    the contract stays explicit."""
    from klepto_spark.operators.funnel import funnel
    from klepto_spark.streaming.funnel import funnel_stream

    steps = ["view", "click"]
    src = str(tmp_path / "ooo_src")
    schema = "user_id bigint, ts timestamp, event_type string"
    b1 = [(1, "2024-01-01 10:05:00", "click")]
    b2 = [(1, "2024-01-01 10:00:00", "view")]     # late-arriving earlier view
    for rows in (b1, b2):
        (spark.createDataFrame(rows, "user_id bigint, ts_s string, event_type string")
         .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type")
         .coalesce(1).write.mode("append").parquet(src))
    stream = (spark.readStream.option("maxFilesPerTrigger", "1")
              .schema(schema).parquet(src))
    q = (funnel_stream(stream, steps).writeStream.format("memory")
         .queryName("ooo_out").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ooo_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ooo_out").collect()
    deepest = max((r["depth"] for r in rows), default=0)
    union = (spark.createDataFrame(
        [(1, "2024-01-01 10:05:00", "click"), (1, "2024-01-01 10:00:00", "view")],
        "user_id bigint, ts_s string, event_type string")
        .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type"))
    assert funnel(union, steps).collect()[0]["depth"] == 2  # batch: full chain
    assert deepest == 1  # stream: click not revived (documented trade)


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join: clicks matched to
    purchases within 1 hour; streaming output equals the batch interval
    join over the same inputs."""
    from klepto_spark.streaming.joins import interval_join_stream

    clicks = [(1, "2024-01-01 10:00:00"),
              (1, "2024-01-01 12:00:00"),
              (2, "2024-01-01 10:30:00")]
    buys = [(1, "2024-01-01 10:40:00"),   # joins click@10:00
            (1, "2024-01-01 12:10:00"),   # joins click@12:00
            (1, "2024-01-01 13:30:00"),   # no click within the hour
            (2, "2024-01-01 10:20:00")]   # before the click: no match
    cdir, bdir = str(tmp_path / "c"), str(tmp_path / "b")
    schema = "user_id bigint, ts timestamp"
    for rows, d in ((clicks, cdir), (buys, bdir)):
        (spark.createDataFrame(rows, "user_id bigint, ts_s string")
         .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
         .write.mode("overwrite").parquet(d))

    cb, bb = spark.read.parquet(cdir), spark.read.parquet(bdir)
    expect = sorted(map(tuple, interval_join_stream(
        cb, bb, "user_id", within="1 hour").collect()))

    cs = spark.readStream.schema(schema).parquet(cdir)
    bs = spark.readStream.schema(schema).parquet(bdir)
    q = (interval_join_stream(cs, bs, "user_id", within="1 hour")
         .writeStream.format("memory").queryName("ivj")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM ivj").collect()))
    assert got == expect
    assert len(got) == 2


def test_streaming_hll_distinct_rollup_matches_batch_estimate(
        spark, sf_dir, tmp_path):
    """Windowed approximate-distinct on a stream: per-window estimates
    equal the batch HLL estimates over the same data (same sketch, same
    lgk), with sketch-sized state instead of the identity universe."""
    from klepto_spark.session import normalise_nanos_ts
    from klepto_spark.streaming.pipeline import (
        read_events_stream, windowed_distinct_rollup)
    import shutil
    src = tmp_path / "hll_ev"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0.parquet")
    q = (windowed_distinct_rollup(read_events_stream(spark, str(src)),
                                  window="1 day")
         .writeStream.format("memory").queryName("hll_win")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["window_start"], r["window_end"]): r["approx_distinct"]
           for r in spark.sql("SELECT * FROM hll_win").collect()}
    from pyspark.sql import functions as F
    batch = (normalise_nanos_ts(spark.read.parquet(str(src)))
             .groupBy(F.window("ts", "1 day").alias("win"))
             .agg(F.hll_sketch_estimate(
                 F.hll_sketch_agg(F.col("user_id"), F.lit(12)))
                 .alias("d")))
    expect = {(r["win"]["start"], r["win"]["end"]): r["d"]
              for r in batch.collect()}
    # append mode emits a window only once the watermark passes its end;
    # the final window (holding max event time) therefore never closes in
    # a bounded drain — the documented semantics, not data loss
    last = max(expect)
    assert got == {k: v for k, v in expect.items() if k != last}
    assert len(got) == len(expect) - 1 > 0


def test_interval_join_stream_left_outer_emits_unmatched(spark, tmp_path):
    """Left-outer streaming interval join: a click with no purchase in its
    hour emits with NULLs once the watermark passes its join window."""
    from klepto_spark.streaming.joins import interval_join_stream
    clicks = [(1, "2024-01-01 10:00:00"),
              (2, "2024-01-01 10:00:00")]       # user 2 never buys
    buys1 = [(1, "2024-01-01 10:30:00")]
    buys2 = [(9, "2024-01-02 09:00:00")]         # late row drives watermark
    cdir, bdir = str(tmp_path / "c"), str(tmp_path / "b")
    sink = str(tmp_path / "ivj_lo_sink")

    def write(rows, d):
        (spark.createDataFrame(rows, "user_id bigint, ts_s string")
         .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
         .write.mode("append").parquet(d))

    write(clicks, cdir)
    write(buys1, bdir)
    # two availableNow runs over one checkpoint: outer-join NULLs emit in
    # a batch AFTER the watermark advance (documented streaming behavior)
    buys3 = [(9, "2024-01-02 10:00:00")]     # batch 3: post-advance eviction
    for i, extra in enumerate((None, buys2, buys3)):
        if extra:
            write(extra, bdir)
            # the global watermark is the MIN across sources: the clicks
            # side must advance too or no left row ever expires
            write([(9, extra[0][1])], cdir)
        cs = (spark.readStream.schema("user_id bigint, ts timestamp")
              .parquet(cdir))
        bs = (spark.readStream.schema("user_id bigint, ts timestamp")
              .parquet(bdir))
        q = (interval_join_stream(cs, bs, "user_id", within="1 hour",
                                  late="1 minute", how="left_outer")
             .writeStream.format("parquet").option("path", sink)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    rows = spark.read.parquet(sink).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user[1][0]["r_ts"] is not None      # matched
    assert by_user[2][0]["r_ts"] is None          # unmatched, NULL-padded


def test_streaming_pack_matches_batch_on_ordered_arrival(spark, tmp_path):
    """Two in-order micro-batches (doc ids ascending across batches): the
    streaming packer's assignments equal batch pack_sequences over the
    union — the per-shard running total survives the checkpoint."""
    from pyspark.sql import functions as F

    from klepto_spark.operators.packing import pack_sequences
    from klepto_spark.streaming.packing import pack_stream

    src = str(tmp_path / "pk_src")
    sink = str(tmp_path / "pk_sink")
    schema = "doc_id bigint, tok bigint"
    batch1 = [(i, (i * 29) % 70 + 5) for i in range(40)]
    batch2 = [(i, (i * 29) % 70 + 5) for i in range(40, 80)]
    for batch in (batch1, batch2):
        spark.createDataFrame(batch, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (pack_stream(stream, "doc_id", F.col("tok"), budget=100,
                         shards=3, salt="t")
             .writeStream.format("parquet").option("path", sink)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "pk_ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    got = {(r["key"], r["shard"], r["pack_id"], r["pack_off"], r["tok"])
           for r in spark.read.parquet(sink).collect()}
    allrows = spark.createDataFrame(batch1 + batch2, schema)
    want = {(r["doc_id"], r["shard"], r["pack_id"], r["pack_off"], r["tok"])
            for r in pack_sequences(allrows, "doc_id", F.col("tok"),
                                    budget=100, shards=3,
                                    salt="t").collect()}
    assert got == want
    assert len(got) == 80


def test_samplers_are_streaming_safe_stateless_filters(spark, tmp_path):
    """sample_uniform / sample_stratified are pure row-local predicates,
    so they run unchanged on a readStream — and pick EXACTLY the same
    membership as the batch call over the same rows (the md5 draw
    depends only on salt+key, not on execution mode)."""
    from klepto_spark.operators.sampling import (
        sample_stratified, sample_uniform)

    src = str(tmp_path / "smp_src")
    rows = [(i, "a" if i % 3 else "b") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    df.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, src string").parquet(src)

    got = {}
    for name, fn in [
            ("uniform", lambda d: sample_uniform(d, "doc_id", 0.4,
                                                 salt="s")),
            ("strat", lambda d: sample_stratified(
                d, "src", "doc_id", {"a": 0.25, "b": 1.0}, salt="s"))]:
        q = (fn(stream).writeStream.format("memory")
             .queryName(f"smp_{name}").outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got[name] = {r["doc_id"] for r in
                     spark.sql(f"SELECT doc_id FROM smp_{name}").collect()}
        want = {r["doc_id"] for r in fn(df).collect()}
        assert got[name] == want, name
    assert got["uniform"] and got["strat"]


def test_score_novelty_streams_against_trained_vocab(spark, tmp_path):
    """Train the trigram vocabulary once (batch), persist it, then score
    a document STREAM against it: stream scores == batch scores, and the
    split train/score pair reproduces the one-shot operator exactly."""
    from klepto_spark.operators.text import (
        score_novelty, trigram_novelty, trigram_vocab)

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    vocab_path = str(tmp_path / "vocab")
    trigram_vocab(docs, top_k=200).write.parquet(vocab_path)
    vocab = spark.read.parquet(vocab_path)

    # split train/score == one-shot operator (same corpus, same vocab)
    one_shot = {r["doc_id"]: tuple(r)[1:]
                for r in trigram_novelty(docs, top_k=200).collect()}
    split = {r["doc_id"]: tuple(r)[1:]
             for r in score_novelty(docs, vocab).collect()}
    assert split == one_shot

    # streaming: the scorer is a stateless aggregate per micro-batch
    # (complete-mode aggregate over the available data)
    src = str(tmp_path / "nov_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (score_novelty(stream.select("doc_id", "text"), vocab)
         .writeStream.format("memory").queryName("nov_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: tuple(r)[1:]
           for r in spark.sql("SELECT * FROM nov_stream").collect()}
    assert got == one_shot


def test_chunking_is_streaming_safe(spark, tmp_path):
    """chunk_documents is a stateless explode+substring, so it runs
    unchanged on a readStream with chunk-exact batch equality."""
    from klepto_spark.operators.text import chunk_documents

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(100)
    src = str(tmp_path / "ch_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (chunk_documents(stream, size=250, overlap=50)
         .writeStream.format("memory").queryName("ch_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql(
        "SELECT doc_id, chunk_id, start, chunk FROM ch_stream").collect()}
    want = {tuple(r) for r in
            chunk_documents(spark.read.parquet(src), size=250, overlap=50)
            .select("doc_id", "chunk_id", "start", "chunk").collect()}
    assert got == want and got


def test_pack_stream_rejects_non_integral_key(spark):
    """ADVICE r05: a silent cast-to-long NULLs non-numeric ids (crashing
    the state fold) and orders numeric STRINGS numerically while the
    batch twin sorts them lexicographically — so a non-integral key must
    be rejected at plan-build time, before any micro-batch runs."""
    from pyspark.sql import functions as F

    from klepto_spark.streaming.packing import pack_stream

    stream = (spark.readStream.format("rate").load()
              .select(F.col("value").cast("string").alias("doc_id"),
                      F.lit(5).cast("bigint").alias("tok")))
    with pytest.raises(ValueError, match="integral"):
        pack_stream(stream, "doc_id", F.col("tok"), budget=100, shards=2)


# ---------------------------------------------------------------------------
# Streaming incremental dedup (ingest-time twin of minhash_append)
# ---------------------------------------------------------------------------

def _dup_docs(lo, hi):
    """Docs where every id i = near-copy of i - (i % 2) (adjacent pairs)."""
    base = "the quick brown fox jumps over the lazy dog once more " * 4
    return [(i, base + f"tail {i - (i % 2)}") for i in range(lo, hi)]


def test_streaming_dedup_matches_batch_operators(spark, tmp_path):
    """Two micro-batches through stream_writer(minhash()) == running the batch
    operators by hand (bootstrap lsh_pairs, then minhash_append against
    the batch-1 index): same pair set, and the at-rest index ends up
    holding every doc's bands."""
    from klepto_spark.operators import dedup as D
    from klepto_spark.streaming.dedup import minhash, stream_writer

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    pairs_out = str(tmp_path / "pairs")
    schema = "doc_id bigint, text string"
    b1, b2 = _dup_docs(0, 20), _dup_docs(20, 40)

    for batch in (b1, b2):
        spark.createDataFrame(batch, schema).write.mode("append") \
            .parquet(src)
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1000").parquet(src))
        q = (stream_writer(stream, minhash(), idx, pairs_out,
                           str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    got = {(r.a, r.b) for r in spark.read.parquet(pairs_out)
           .select("a", "b").collect()}

    df1 = spark.createDataFrame(b1, schema)
    df2 = spark.createDataFrame(b2, schema)
    expect = {(r.a, r.b) for r in D.minhash_lsh_pairs(df1).collect()}
    ref_idx = str(tmp_path / "ref_idx")
    D.minhash_write_index(df1, ref_idx)
    expect |= {(r.a, r.b) for r in
               D.minhash_append(spark, ref_idx, df2,
                                commit=False).collect()}
    assert got == expect and got
    # the committed index covers all 40 docs
    assert (spark.read.parquet(idx).select("doc_id").distinct().count()
            == 40)


def test_process_batch_does_not_leak_overwrite_mode(spark, tmp_path):
    """The epoch-keyed pairs overwrite must scope dynamic partition
    overwrite to ITS write only — setting it on the shared session
    silently changed later partitioned overwrites (ADVICE r06)."""
    from klepto_spark.streaming.dedup import minhash, process_epoch

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    df1 = spark.createDataFrame(_dup_docs(0, 20),
                                "doc_id bigint, text string")
    process_epoch(minhash(), df1, 0, str(tmp_path / "idx"),
                  str(tmp_path / "pairs"))
    assert spark.conf.get(key) == before
    # and the session default still clears ALL partitions on overwrite
    tgt = str(tmp_path / "plain")
    spark.createDataFrame([(1, "a"), (2, "b")], "p int, v string") \
        .write.partitionBy("p").parquet(tgt)
    spark.createDataFrame([(1, "z")], "p int, v string") \
        .write.mode("overwrite").partitionBy("p").parquet(tgt)
    assert {(r.p, r.v)
            for r in spark.read.parquet(tgt).collect()} == {(1, "z")}


def test_minhash_append_refuses_flat_commit_into_epoch_index(spark, tmp_path):
    """commit=True at the root of a STREAMING-built index (ep= dirs)
    would mix partitioned and flat layouts and break the next partition
    discovery — it must refuse and point at the epoch path (ADVICE r06)."""
    from klepto_spark.operators import dedup as D
    from klepto_spark.streaming.dedup import minhash, process_epoch

    idx = str(tmp_path / "idx")
    df1 = spark.createDataFrame(_dup_docs(0, 20),
                                "doc_id bigint, text string")
    df2 = spark.createDataFrame(_dup_docs(20, 40),
                                "doc_id bigint, text string")
    process_epoch(minhash(), df1, 0, idx, str(tmp_path / "pairs"))
    with pytest.raises(ValueError, match="epoch-partitioned"):
        D.minhash_append(spark, idx, df2, commit=True)
    # probing without committing is still allowed on the same root
    D.minhash_append(spark, idx, df2, commit=False).collect()
    # and the index is still readable as ONE partitioned table
    assert spark.read.parquet(idx).select("doc_id").distinct().count() == 20


def _emb_batch(lo, hi, dim=16):
    """Clustered embeddings with real near-dup structure: ids lo..hi-1,
    vector = cluster center (id % 7) + small noise, so same-cluster
    vectors exceed a 0.95 cosine threshold and others do not."""
    import numpy as np
    rng = np.random.default_rng(lo)
    centers = np.random.default_rng(0).normal(size=(7, dim))
    return [(i, [float(x) for x in
                 centers[i % 7] + rng.normal(size=dim) * 0.05])
            for i in range(lo, hi)]


def test_streaming_semantic_batches_union_to_full_recompute(spark,
                                                            tmp_path):
    """Two streamed batches: the epoch-keyed pair outputs must union to
    exactly the one-shot cosine_similar_pairs over everything (bootstrap
    epoch emits intra-batch pairs; later epochs emit >=1-new-endpoint
    pairs against the index)."""
    from klepto_spark.operators import similarity
    from klepto_spark.streaming.dedup import process_epoch, semantic

    idx = str(tmp_path / "sidx")
    pairs_out = str(tmp_path / "spairs")
    schema = "vec_id bigint, embedding array<double>"
    df1 = spark.createDataFrame(_emb_batch(0, 30), schema)
    df2 = spark.createDataFrame(_emb_batch(30, 60), schema)

    family = semantic(0.95, dim=16, max_bucket=10_000)
    process_epoch(family, df1, 0, idx, pairs_out)
    process_epoch(family, df2, 1, idx, pairs_out)
    got = {(r.a, r.b, r.cosine) for r in
           spark.read.parquet(pairs_out).collect()}
    full = {(r.a, r.b, r.cosine) for r in similarity.cosine_similar_pairs(
        df1.unionByName(df2), 0.95, dim=16,
        max_bucket=10_000).collect()}
    assert got == full and full


def test_streaming_semantic_retry_is_idempotent(spark, tmp_path):
    from klepto_spark.streaming.dedup import process_epoch, semantic

    idx = str(tmp_path / "sidx2")
    pairs_out = str(tmp_path / "spairs2")
    schema = "vec_id bigint, embedding array<double>"
    df1 = spark.createDataFrame(_emb_batch(0, 30), schema)
    df2 = spark.createDataFrame(_emb_batch(30, 60), schema)

    family = semantic(0.95, dim=16)
    process_epoch(family, df1, 0, idx, pairs_out)
    process_epoch(family, df2, 1, idx, pairs_out)
    once = sorted((r.a, r.b, r.ep) for r in
                  spark.read.parquet(pairs_out).collect())
    n_idx = spark.read.parquet(idx).count()

    # out-of-order replays, including the bootstrap epoch
    process_epoch(family, df2, 1, idx, pairs_out)
    process_epoch(family, df1, 0, idx, pairs_out)
    again = sorted((r.a, r.b, r.ep) for r in
                   spark.read.parquet(pairs_out).collect())
    assert again == once
    assert spark.read.parquet(idx).count() == n_idx
    # a batch-mode flat commit into the epoch index must refuse
    from klepto_spark.operators import dedup as D
    with pytest.raises(ValueError, match="epoch-partitioned"):
        D.semantic_append(spark, idx, df2, 0.95, dim=16, commit=True)


# --- epoch compaction for the at-rest streaming indexes (VERDICT r07 #3)


def test_compact_index_epochs_probe_identical_replay_safe(spark, tmp_path):
    """Folding committed epochs into flat base files must change NOTHING
    a probe sees: a replay of the still-in-flight epoch produces the
    same pairs, the index rows are all preserved, and the folded ep=
    dirs are gone (the unbounded-small-dirs growth the fold exists to
    stop)."""
    import os

    from klepto_spark.streaming.dedup import (compact_index_epochs, minhash,
                                              process_epoch)

    idx = str(tmp_path / "cidx")
    pairs_out = str(tmp_path / "cpairs")
    schema = "doc_id bigint, text string"
    for i in range(3):
        process_epoch(minhash(), spark.createDataFrame(
            _dup_docs(i * 20, (i + 1) * 20), schema), i, idx, pairs_out)
    probe = spark.createDataFrame(_dup_docs(60, 80), schema)
    process_epoch(minhash(), probe, 3, idx, pairs_out)
    once = sorted((r.a, r.b) for r in spark.read.parquet(pairs_out)
                  .filter("ep = 3").collect())
    n_rows = spark.read.parquet(idx).count()

    assert compact_index_epochs(spark, idx, 3) == 3
    names = [e.name for e in os.scandir(idx) if e.name.startswith("ep=")]
    # epochs 0-2 folded INTO ep=0 (oldest); the layout stays pure ep=
    assert sorted(names) == ["ep=0", "ep=3"]
    assert spark.read.parquet(idx).count() == n_rows  # still ONE table
    # the fold replaces ep=0's data files in place: its scheme stamp stays
    assert os.path.exists(os.path.join(idx, "ep=0", D.INDEX_META))

    # replay of the in-flight epoch probes the identical view
    process_epoch(minhash(), probe, 3, idx, pairs_out)
    again = sorted((r.a, r.b) for r in spark.read.parquet(pairs_out)
                   .filter("ep = 3").collect())
    assert again == once and once
    # a second fold at the same horizon is a no-op (one dir left below)
    assert compact_index_epochs(spark, idx, 3) == 0
    # raising the horizon refolds the base with the newly-committed epoch
    assert compact_index_epochs(spark, idx, 4) == 2
    assert spark.read.parquet(idx).count() == n_rows
    assert [e.name for e in os.scandir(idx)
            if e.name.startswith("ep=")] == ["ep=0"]


def test_compact_semantic_index_epochs_probe_identical(spark, tmp_path):
    from klepto_spark.operators import dedup as D
    from klepto_spark.streaming.dedup import (compact_index_epochs,
                                              process_epoch, semantic)

    idx = str(tmp_path / "csidx")
    pairs_out = str(tmp_path / "cspairs")
    schema = "vec_id bigint, embedding array<double>"
    for i in range(3):
        process_epoch(semantic(0.95, dim=16), spark.createDataFrame(
            _emb_batch(i * 20, (i + 1) * 20), schema), i, idx, pairs_out)
    probe = spark.createDataFrame(_emb_batch(60, 80), schema)
    pre = {(r.a, r.b, r.cosine) for r in D.semantic_append(
        spark, idx, probe, 0.95, dim=16, commit=False).collect()}
    assert compact_index_epochs(spark, idx, 3) == 3
    post = {(r.a, r.b, r.cosine) for r in D.semantic_append(
        spark, idx, probe, 0.95, dim=16, commit=False).collect()}
    assert post == pre and pre
    # still one partitioned table (never the mixed layout the batch
    # commit guard refuses), and the guard still protects it
    assert spark.read.parquet(idx).columns == ["vec_id", "sig", "v", "ep"]
    import pytest as _pt
    with _pt.raises(ValueError, match="epoch-partitioned"):
        D.semantic_append(spark, idx, probe, 0.95, dim=16, commit=True)


def test_compact_index_epochs_journal_lease_and_recovery(spark, tmp_path,
                                                         monkeypatch):
    """A YOUNG journal is a live concurrent fold: compact refuses. A
    STALE journal with missing news is a crashed fold: recovery rolls it
    back (olds intact) and the fold proceeds; probes converge too."""
    import json
    import os

    import pytest

    from klepto_spark.operators import dedup as D
    from klepto_spark.streaming.dedup import (compact_index_epochs, minhash,
                                              process_epoch)

    idx = str(tmp_path / "ridx")
    pairs_out = str(tmp_path / "rpairs")
    schema = "doc_id bigint, text string"
    for i in range(2):
        process_epoch(minhash(), spark.createDataFrame(
            _dup_docs(i * 20, (i + 1) * 20), schema), i, idx, pairs_out)
    probe = spark.createDataFrame(_dup_docs(40, 60), schema)
    pre = {(r.a, r.b) for r in D.minhash_append(
        spark, idx, probe, commit=False).collect()}

    # a crashed fold: journal names news that never landed
    olds = [n for n in os.listdir(idx) if not n.startswith("_")]
    with open(os.path.join(idx, "_epochfold.json"), "w") as fh:
        json.dump({"olds": olds, "news": ["fold-9-0-never.parquet"]}, fh)
    with pytest.raises(RuntimeError, match="in flight"):
        compact_index_epochs(spark, idx, 2)  # young journal: refused
    monkeypatch.setenv("KLEPTO_EPOCHFOLD_LEASE_SEC", "0")
    assert compact_index_epochs(spark, idx, 2) == 2  # recovered + folded
    assert not os.path.exists(os.path.join(idx, "_epochfold.json"))
    post = {(r.a, r.b) for r in D.minhash_append(
        spark, idx, probe, commit=False).collect()}
    assert post == pre

    # a stale journal is also converged on the PROBE path (process_epoch
    # lists the index through _prior_index_paths)
    with open(os.path.join(idx, "_epochfold.json"), "w") as fh:
        json.dump({"olds": [], "news": ["fold-9-0-never.parquet"]}, fh)
    process_epoch(minhash(), probe, 2, idx, pairs_out)
    assert not os.path.exists(os.path.join(idx, "_epochfold.json"))
    got = sorted((r.a, r.b) for r in spark.read.parquet(pairs_out)
                 .filter("ep = 2").collect())
    assert got == sorted(pre)


# --- empty micro-batch guards (ADVICE r07)


def test_semantic_append_and_pairs_tolerate_empty_input(spark, tmp_path):
    from klepto_spark.operators import dedup as D
    from klepto_spark.operators.similarity import cosine_similar_pairs

    schema = "vec_id bigint, embedding array<double>"
    empty = spark.createDataFrame([], schema)
    out = cosine_similar_pairs(empty, 0.95)  # dim probe guarded
    assert out.columns == ["a", "b", "cosine"] and out.count() == 0

    idx = str(tmp_path / "aidx")
    D.semantic_write_index(
        spark.createDataFrame(_emb_batch(0, 30), schema), idx,
        key_col="vec_id", dim=16)
    before = spark.read.parquet(idx).count()
    out = D.semantic_append(spark, idx, empty, 0.95)  # dim=None + empty
    assert out.columns == ["a", "b", "cosine"] and out.count() == 0
    assert spark.read.parquet(idx).count() == before  # no commit happened
    # an empty frame also indexes to zero rows without a dim
    assert D.semantic_index_rows(empty, key_col="vec_id").count() == 0


# --- exact streaming twin (round 8): same contract as minhash/semantic


def _doc_batch(spark, rows):
    from pyspark.sql import Row
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows],
                                 "doc_id bigint, text string")


def test_streaming_exact_batches_union_to_full_recompute(spark, tmp_path):
    """Two streamed batches: the epoch-keyed pair outputs must union to
    exactly the one-shot exact-pair set over everything (bootstrap epoch
    emits intra-batch pairs; later epochs emit >=1-new-endpoint pairs
    against the index)."""
    from klepto_spark.operators import dedup as D
    from klepto_spark.streaming.dedup import exact, process_epoch

    idx = str(tmp_path / "exidx")
    pairs_out = str(tmp_path / "expairs")
    b1 = _doc_batch(spark, [(1, "aa bb cc"), (2, "dd ee ff"),
                            (3, "aa bb cc")])
    b2 = _doc_batch(spark, [(10, "aa bb cc"), (11, "dd ee ff"),
                            (12, "zz yy xx"), (13, "zz yy xx")])
    process_epoch(exact(), b1, 0, idx, pairs_out)
    process_epoch(exact(), b2, 1, idx, pairs_out)
    got = {(r.a, r.b) for r in spark.read.parquet(pairs_out).collect()}
    both = b1.unionByName(b2)
    fp = both.select("doc_id", D.exact_fingerprint("text").alias("fp"))
    full = {(r.a, r.b) for r in
            (fp.selectExpr("doc_id AS a", "fp")
             .join(fp.selectExpr("doc_id AS b", "fp"), "fp")
             .filter("a < b").select("a", "b")).collect()}
    assert got == full and full


def test_streaming_exact_retry_is_idempotent(spark, tmp_path):
    from klepto_spark.operators import dedup as D
    from klepto_spark.streaming.dedup import exact, process_epoch

    idx = str(tmp_path / "exidx2")
    pairs_out = str(tmp_path / "expairs2")
    b1 = _doc_batch(spark, [(1, "aa bb"), (2, "cc dd")])
    b2 = _doc_batch(spark, [(10, "aa bb"), (11, "ee ff")])
    process_epoch(exact(), b1, 0, idx, pairs_out)
    process_epoch(exact(), b2, 1, idx, pairs_out)
    once = sorted((r.a, r.b, r.ep) for r in
                  spark.read.parquet(pairs_out).collect())
    n_idx = spark.read.parquet(idx).count()

    # out-of-order replays, including the bootstrap epoch
    process_epoch(exact(), b2, 1, idx, pairs_out)
    process_epoch(exact(), b1, 0, idx, pairs_out)
    again = sorted((r.a, r.b, r.ep) for r in
                   spark.read.parquet(pairs_out).collect())
    assert again == once
    assert spark.read.parquet(idx).count() == n_idx
    # a batch-mode flat commit into the epoch index must refuse
    import pytest as _pytest
    with _pytest.raises(ValueError, match="epoch-partitioned"):
        D.exact_append(spark, idx, b2, commit=True)


def test_compact_exact_index_epochs_probe_identical(spark, tmp_path):
    """Folding the exact index's committed epochs must change nothing a
    probe sees — same pairs before and after, fewer ep= dirs."""
    import os as _o
    from klepto_spark.operators import dedup as D
    from klepto_spark.streaming.dedup import (compact_index_epochs, exact,
                                              process_epoch)

    idx = str(tmp_path / "exidx4")
    pairs_out = str(tmp_path / "expairs4")
    for ep, rows in enumerate([
            [(1, "aa bb"), (2, "cc dd")],
            [(10, "aa bb")],
            [(20, "cc dd"), (21, "aa bb")]]):
        process_epoch(exact(), _doc_batch(spark, rows), ep, idx, pairs_out)
    probe = _doc_batch(spark, [(99, "aa bb"), (98, "ee ff")])
    before = {(r.a, r.b) for r in
              D.exact_append(spark, idx, probe, commit=False).collect()}
    n_dirs_before = len([d for d in _o.listdir(idx) if d.startswith("ep=")])
    assert compact_index_epochs(spark, idx, max_epoch_exclusive=3) > 0
    after = {(r.a, r.b) for r in
             D.exact_append(spark, idx, probe, commit=False).collect()}
    n_dirs_after = len([d for d in _o.listdir(idx) if d.startswith("ep=")])
    assert after == before and before == {(1, 99), (10, 99), (21, 99)}
    assert n_dirs_after < n_dirs_before


def _cdc_docs(lo, hi):
    """Docs where id i shares a long word run with i - (i % 2), but the
    odd twin inserts one word EARLY — the shift CDC chunking absorbs."""
    words = [f"w{j}" for j in range(48)]
    out = []
    for i in range(lo, hi):
        w = list(words) + [f"tail{i - (i % 2)}"]
        if i % 2:
            w = w[:3] + [f"ins{i}"] + w[3:]
        out.append((i, " ".join(w)))
    return out


def test_streaming_cdc_batches_union_to_full_restriction(spark, tmp_path):
    """Two micro-batches through stream_writer(cdc()) == the batch
    operators by hand (bootstrap cdc_near_dup_pairs, then cdc_append
    against the batch-1 index): same pairs WITH the same agreement
    counts, and the committed index covers every doc."""
    from klepto_spark.operators import dedup as D
    from klepto_spark.streaming.dedup import cdc, stream_writer

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    pairs_out = str(tmp_path / "pairs")
    schema = "doc_id bigint, text string"
    b1, b2 = _cdc_docs(0, 12), _cdc_docs(12, 24)

    for batch in (b1, b2):
        spark.createDataFrame(batch, schema).write.mode("append") \
            .parquet(src)
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1000").parquet(src))
        q = (stream_writer(stream,
                           cdc(divisor=4, min_shared=2, min_words=1),
                           idx, pairs_out, str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    got = {(r.a, r.b, r.shared_chunks) for r in
           spark.read.parquet(pairs_out)
           .select("a", "b", "shared_chunks").collect()}

    df1 = spark.createDataFrame(b1, schema)
    df2 = spark.createDataFrame(b2, schema)
    expect = {(r.a, r.b, r.shared_chunks) for r in
              D.cdc_near_dup_pairs(df1, divisor=4, min_shared=2,
                                   min_words=1).collect()}
    ref_idx = str(tmp_path / "ref_idx")
    D.cdc_write_index(df1, ref_idx, divisor=4, min_words=1)
    expect |= {(r.a, r.b, r.shared_chunks) for r in
               D.cdc_append(spark, ref_idx, df2, divisor=4,
                            min_shared=2, min_words=1,
                            commit=False).collect()}
    assert got == expect and got
    assert (spark.read.parquet(idx).select("doc_id").distinct().count()
            == 24)


def test_compact_cdc_index_epochs_probe_identical(spark, tmp_path):
    """Folding the streaming CDC index's committed epochs must change
    nothing a probe sees — the fourth family's twin of the minhash /
    semantic / exact fold-identity pins (VERDICT r10 #4): cdc_append
    against the folded index returns the SAME (a, b, shared_chunks)
    rows as against the unfolded epochs, with fewer ep= dirs."""
    import os as _o
    from klepto_spark.operators import dedup as D
    from klepto_spark.streaming.dedup import (cdc, compact_index_epochs,
                                              process_epoch)

    idx = str(tmp_path / "cdcidx5")
    pairs_out = str(tmp_path / "cdcpairs5")
    schema = "doc_id bigint, text string"
    for ep, (lo, hi) in enumerate([(0, 8), (8, 16), (16, 24)]):
        process_epoch(cdc(divisor=4, min_words=1),
                      spark.createDataFrame(_cdc_docs(lo, hi), schema),
                      ep, idx, pairs_out)

    probe = spark.createDataFrame(_cdc_docs(24, 28), schema)
    before = {(r.a, r.b, r.shared_chunks) for r in
              D.cdc_append(spark, idx, probe, divisor=4, min_shared=2,
                           min_words=1, commit=False).collect()}
    n_before = len([d for d in _o.listdir(idx) if d.startswith("ep=")])
    assert compact_index_epochs(spark, idx, max_epoch_exclusive=3) > 0
    after = {(r.a, r.b, r.shared_chunks) for r in
             D.cdc_append(spark, idx, probe, divisor=4, min_shared=2,
                          min_words=1, commit=False).collect()}
    n_after = len([d for d in _o.listdir(idx) if d.startswith("ep=")])
    assert after == before and before
    assert n_after < n_before


def _span_docs(lo, hi):
    """Docs i in [lo, hi): even ids share one 4-word span (plus a unique
    tail), odd ids are fully unique — duplication emerges both within a
    batch and across batches."""
    out = []
    for i in range(lo, hi):
        if i % 2 == 0:
            out.append((i, f"head{i} shared span common words tail{i} x{i}"))
        else:
            out.append((i, f"solo{i} alpha{i} beta{i} gamma{i} delta{i} "
                           f"eps{i} zeta{i}"))
    return out


def test_streaming_span_batches_union_to_full_restriction(spark, tmp_path):
    """Two micro-batches through stream_writer(span()) == the batch
    operators by hand (bootstrap dup_span_stats, then span_append
    against the batch-1 count index): same per-doc coverage, and the
    committed index carries every window count."""
    from klepto_spark.operators import text as T
    from klepto_spark.streaming.dedup import span, stream_writer

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    stats_out = str(tmp_path / "stats")
    schema = "doc_id bigint, text string"
    b1, b2 = _span_docs(0, 8), _span_docs(8, 16)

    for batch in (b1, b2):
        spark.createDataFrame(batch, schema).write.mode("append") \
            .parquet(src)
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1000").parquet(src))
        q = (stream_writer(stream, span(k=3), idx, stats_out,
                           str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    got = {(r.doc_id, r.n_words, r.dup_words) for r in
           spark.read.parquet(stats_out).collect()}

    df1 = spark.createDataFrame(b1, schema)
    df2 = spark.createDataFrame(b2, schema)
    expect = {(r.doc_id, r.n_words, r.dup_words) for r in
              T.dup_span_stats(df1, k=3).collect()}
    ref_idx = str(tmp_path / "ref_idx")
    T.span_write_index(df1, ref_idx, k=3)
    expect |= {(r.doc_id, r.n_words, r.dup_words) for r in
               T.span_append(spark, ref_idx, df2, k=3,
                             commit=False).collect()}
    assert got == expect
    # batch-2 evens duplicate against batch 1 (cross-epoch signal)
    by_id = {d: w for d, _, w in got}
    assert by_id[8] > 0 and by_id[9] == 0
    # index counts fold correctly on read: the shared 3-gram inside the
    # common span was seen by all 8 even docs
    idx_rows = spark.read.parquet(idx).groupBy("h").sum("cnt")
    assert idx_rows.agg({"sum(cnt)": "max"}).first()[0] == 8


def test_streaming_span_retry_never_double_counts(spark, tmp_path):
    """THE span-specific replay hazard: the index stores COUNTS that sum
    on read, so a replayed epoch must overwrite — not append — its
    (h, cnt) rows. Replaying both epochs leaves index sums and stats
    byte-identical to a single run."""
    from klepto_spark.streaming.dedup import process_epoch, span

    idx = str(tmp_path / "idx")
    stats_out = str(tmp_path / "stats")
    schema = "doc_id bigint, text string"
    df1 = spark.createDataFrame(_span_docs(0, 8), schema)
    df2 = spark.createDataFrame(_span_docs(8, 16), schema)

    process_epoch(span(k=3), df1, 0, idx, stats_out)
    process_epoch(span(k=3), df2, 1, idx, stats_out)
    once = sorted((r.doc_id, r.n_words, r.dup_words, r.ep) for r in
                  spark.read.parquet(stats_out).collect())
    sums_once = sorted((r.h, r["sum(cnt)"]) for r in
                       spark.read.parquet(idx).groupBy("h").sum("cnt")
                       .collect())

    process_epoch(span(k=3), df2, 1, idx, stats_out)
    process_epoch(span(k=3), df1, 0, idx, stats_out)
    again = sorted((r.doc_id, r.n_words, r.dup_words, r.ep) for r in
                   spark.read.parquet(stats_out).collect())
    sums_again = sorted((r.h, r["sum(cnt)"]) for r in
                        spark.read.parquet(idx).groupBy("h").sum("cnt")
                        .collect())
    assert again == once
    assert sums_again == sums_once


def test_compact_span_index_epochs_probe_identical(spark, tmp_path):
    """Folding the streaming span index's committed epochs must change
    nothing a probe sees — the FIFTH family's fold-identity pin: the
    fold is row-preserving and span_append SUMS counts across rows, so
    coverage against the folded index is identical with fewer ep=
    dirs."""
    import os as _o
    from klepto_spark.operators import text as T
    from klepto_spark.streaming.dedup import (compact_index_epochs,
                                              process_epoch, span)

    idx = str(tmp_path / "spanidx5")
    stats_out = str(tmp_path / "spanstats5")
    schema = "doc_id bigint, text string"
    for ep, (lo, hi) in enumerate([(0, 6), (6, 12), (12, 18)]):
        process_epoch(span(k=3),
                      spark.createDataFrame(_span_docs(lo, hi), schema),
                      ep, idx, stats_out)

    probe = spark.createDataFrame(_span_docs(18, 22), schema)
    before = {(r.doc_id, r.n_words, r.dup_words) for r in
              T.span_append(spark, idx, probe, k=3,
                            commit=False).collect()}
    n_before = len([d for d in _o.listdir(idx) if d.startswith("ep=")])
    assert compact_index_epochs(spark, idx, max_epoch_exclusive=3) > 0
    after = {(r.doc_id, r.n_words, r.dup_words) for r in
             T.span_append(spark, idx, probe, k=3,
                           commit=False).collect()}
    n_after = len([d for d in _o.listdir(idx) if d.startswith("ep=")])
    assert after == before
    assert any(w > 0 for _, _, w in after)  # cross-epoch duplication seen
    assert n_after < n_before


# --- one epoch-index protocol: every family through process_epoch


def _rows_hll(lo, hi):
    return [(i, f"type{i % 3}", i % 40) for i in range(lo, hi)]


#: family -> (family, batch schema, rows of a batch over ids [lo, hi))
_FAMILIES = {
    "minhash": (SD.minhash(), "doc_id bigint, text string", _dup_docs),
    "exact": (SD.exact(), "doc_id bigint, text string", _dup_docs),
    "cdc": (SD.cdc(divisor=4, min_words=1), "doc_id bigint, text string",
            _cdc_docs),
    "semantic": (SD.semantic(0.95, dim=16),
                 "vec_id bigint, embedding array<double>", _emb_batch),
    "span": (SD.span(k=3), "doc_id bigint, text string", _span_docs),
    "hll": (SD.hll("user_id", ["event_type"]),
            "event_id bigint, event_type string, user_id bigint", _rows_hll),
    "bloom": (SD.bloom("v", [], m=256, k=4), "v string",
              lambda lo, hi: [(f"val{i}",) for i in range(lo, hi)]),
    "cms": (SD.cms("token", [], w=32, d=4), "token string",
            lambda lo, hi: [(f"tok{i % 7}",) for i in range(lo, hi)]),
}


def _family(spark, name):
    """(family, batch(lo, hi)) for one at-rest family."""
    family, schema, rows = _FAMILIES[name]
    return family, lambda lo, hi: spark.createDataFrame(rows(lo, hi), schema)


def _snap(spark, path):
    """Every row under ``path`` (ep column included), order-free."""
    return sorted(map(repr, spark.read.parquet(path).collect()))


@pytest.mark.parametrize("name", sorted(_FAMILIES))
def test_epoch_retry_out_of_order_is_idempotent(spark, tmp_path, name):
    """A crash-recovered foreachBatch re-runs an epoch: replaying the SAME
    batch with the SAME epoch id, out of order and including the
    bootstrap epoch, must leave index and output exactly as a single run
    (epoch-pinned prior view, epoch-keyed overwrites, no appends)."""
    family, batch = _family(spark, name)
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    df1, df2 = batch(0, 20), batch(20, 40)
    SD.process_epoch(family, df1, 0, idx, out)
    SD.process_epoch(family, df2, 1, idx, out)
    out_once, idx_once = _snap(spark, out), _snap(spark, idx)

    SD.process_epoch(family, df2, 1, idx, out)
    SD.process_epoch(family, df1, 0, idx, out)
    assert _snap(spark, out) == out_once and out_once
    assert _snap(spark, idx) == idx_once and idx_once


@pytest.mark.parametrize("name", sorted(_FAMILIES))
def test_epoch_empty_batch_is_noop(spark, tmp_path, name):
    """foreachBatch delivers empty micro-batches (ADVICE r07: the semantic
    dim probe used to raise and kill the stream). Empty epochs —
    bootstrap, mid-stream, or retried — write nothing and leave state
    untouched."""
    import os

    family, batch = _family(spark, name)
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    empty = batch(0, 0)
    SD.process_epoch(family, empty, 0, idx, out)  # bootstrap
    assert not os.path.exists(idx) and not os.path.exists(out)
    SD.process_epoch(family, batch(0, 20), 1, idx, out)
    out_once, idx_once = _snap(spark, out), _snap(spark, idx)
    SD.process_epoch(family, empty, 2, idx, out)  # mid-stream
    assert _snap(spark, out) == out_once
    assert _snap(spark, idx) == idx_once
    SD.process_epoch(family, empty, 2, idx, out)  # retried empty epoch
    assert _snap(spark, idx) == idx_once
    assert not os.path.exists(os.path.join(idx, "ep=2"))


@pytest.mark.parametrize("name", sorted(_FAMILIES))
def test_epoch_empty_output_leaves_out_path_readable(spark, tmp_path, name):
    """A one-row bootstrap epoch has no pair to emit for the pair
    families. The epoch's output dir must still carry the schema, so the
    output root reads back (0 rows, not UNABLE_TO_INFER_SCHEMA) before
    any epoch has produced a row — and equals the family's bootstrap
    output for every family."""
    family, batch = _family(spark, name)
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    one = batch(0, 1)
    SD.process_epoch(family, one, 0, idx, out)
    got = spark.read.parquet(out)
    want = family.bootstrap(one, family.rows(one))
    assert got.columns == [*want.columns, "ep"]
    assert (sorted(map(repr, got.drop("ep").collect()))
            == sorted(map(repr, want.collect())))


# --- one at-rest index protocol: every family's batch build/probe/commit

from klepto_spark.operators import (  # noqa: E402
    bloom_portable as B, cms_portable as C, dedup as D, hll_portable as H,
    text as T)

#: family -> (write(df, path, **scheme), append(spark, path, df, commit,
#: **scheme), another scheme). hll's geometry is fixed in code, so an
#: index built under another one is simulated by its stamp (None).
_BATCH = {
    "minhash": (D.minhash_write_index,
                lambda s, p, df, c, **kw: D.minhash_append(
                    s, p, df, commit=c, **kw), {"k": 3}),
    "exact": (D.exact_write_index,
              lambda s, p, df, c, **kw: D.exact_append(
                  s, p, df, commit=c, **kw), {"prefix_words": 4}),
    "cdc": (D.cdc_write_index,
            lambda s, p, df, c, **kw: D.cdc_append(s, p, df, commit=c, **kw),
            {"divisor": 4}),
    "semantic": (D.semantic_write_index,
                 lambda s, p, df, c, **kw: D.semantic_append(
                     s, p, df, 0.95, commit=c, **kw), {"bits": 8}),
    "span": (T.span_write_index,
             lambda s, p, df, c, **kw: T.span_append(s, p, df, commit=c,
                                                     **kw), {"k": 3}),
    "hll": (lambda df, p, **kw: H.hll_write_registers(
                df, "user_id", ["event_type"], p, **kw),
            lambda s, p, df, c, **kw: H.hll_append(
                s, p, df, "user_id", ["event_type"], commit=c, **kw), None),
    "bloom": (lambda df, p, **kw: B.bloom_write(df, "v", [], p, **kw),
              lambda s, p, df, c, **kw: B.bloom_append(s, p, df, "v", [],
                                                       commit=c, **kw),
              {"m": 256}),
    "cms": (lambda df, p, **kw: C.cms_write(df, "token", [], p, **kw),
            lambda s, p, df, c, **kw: C.cms_append(s, p, df, "token", [],
                                                   commit=c, **kw),
            {"w": 32}),
}


#: family -> its streaming twin's constructor, taking ``_BATCH``'s other
#: scheme as keyword arguments
_TWIN = {
    "minhash": SD.minhash, "exact": SD.exact, "cdc": SD.cdc,
    "semantic": lambda **kw: SD.semantic(0.95, **kw), "span": SD.span,
    "hll": lambda: SD.hll("user_id", ["event_type"]),
    "bloom": lambda **kw: SD.bloom("v", [], **kw),
    "cms": lambda **kw: SD.cms("token", [], **kw),
}


@pytest.mark.parametrize("name, built", [
    *(pytest.param(n, "batch", id=n) for n in sorted(_BATCH)),
    *(pytest.param(n, "epoch", id=f"{n}-epoch") for n in sorted(_BATCH))])
def test_index_append_refuses_another_scheme(spark, tmp_path, name, built):
    """An index built with one scheme and probed with another would
    answer from a different hash space (and a commit would mix two
    schemes in one index): the append refuses. An index built by
    process_epoch stamps each epoch dir, so a probe of its epoch view
    (commit=False) is refused by the scheme check too."""
    import os

    write, append, other = _BATCH[name]
    _, batch = _family(spark, name)
    idx = str(tmp_path / "idx")
    if built == "epoch":
        SD.process_epoch(_TWIN[name](**(other or {})), batch(0, 20), 0, idx,
                         str(tmp_path / "out"))
        idx = [os.path.join(idx, "ep=0")]
        assert os.path.exists(os.path.join(idx[0], D.INDEX_META))
    else:
        write(batch(0, 20), idx, **(other or {}))
    if other is None:
        D.write_index_meta(spark, idx[0] if built == "epoch" else idx, name,
                           {"p": 4, "rho_bits": 48})
    with pytest.raises(ValueError, match="different scheme"):
        append(spark, idx, batch(20, 40), built == "batch")


@pytest.mark.parametrize("name", sorted(_BATCH))
def test_index_commit_refuses_epoch_index(spark, tmp_path, name):
    """A flat commit into a process_epoch-built index would land in every
    epoch's prior view, so a replayed epoch would read rows that arrived
    after it: commit=True refuses and names process_epoch, and the index
    keeps its epoch-only layout."""
    import os

    family, batch = _family(spark, name)
    _, append, _ = _BATCH[name]
    idx = str(tmp_path / "idx")
    SD.process_epoch(family, batch(0, 20), 0, idx, str(tmp_path / "out"))
    with pytest.raises(ValueError, match="process_epoch"):
        append(spark, idx, batch(20, 40), True)
    assert [n for n in os.listdir(idx) if not n.startswith((".", "_"))] \
        == ["ep=0"]


@pytest.mark.parametrize("name", sorted(_BATCH))
def test_index_commit_refuses_path_list(spark, tmp_path, name):
    write, append, _ = _BATCH[name]
    _, batch = _family(spark, name)
    idx = str(tmp_path / "idx")
    write(batch(0, 20), idx)
    with pytest.raises(ValueError, match="single index root"):
        append(spark, [idx], batch(20, 40), True)


@pytest.mark.parametrize("name", sorted(_BATCH))
def test_index_defaults_round_trip(spark, tmp_path, name):
    """Built and appended with the defaults, the index stamps its family's
    scheme and accepts the commit and the next probe; semantic stamps the
    dim it resolved from the rows."""
    import json
    import os

    write, append, _ = _BATCH[name]
    _, batch = _family(spark, name)
    idx = str(tmp_path / "idx")
    write(batch(0, 20), idx)
    append(spark, idx, batch(20, 40), True).collect()
    append(spark, idx, batch(40, 60), False).collect()
    with open(os.path.join(idx, D.INDEX_META)) as fh:
        meta = json.load(fh)
    assert meta["mode"] == name
    if name == "semantic":
        assert meta["dim"] == 16
