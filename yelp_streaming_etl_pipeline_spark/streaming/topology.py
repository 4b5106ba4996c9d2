"""Streaming topology: source -> dedup -> quality gauntlet -> routing
-> windowed stats / sinks.

Reference behavior (/root/reference/streaming/faust_app.py):
  raw_reviews topic -> process_reviews agent (dedup via 1-h tumbling
  RocksDB table with 2-h TTL -> clean_review guard chain -> route to
  cleaned_reviews / quality_issues) -> aggregate_stats agent (1-h
  tumbling stats table, 7-d TTL).

Spark-first redesign — the SAME batch expression library (gauntlet,
scores, stats) applied to streaming DataFrames; only the streaming
concerns differ:

- dedup: ``withWatermark('date', '2 hours')`` +
  ``dropDuplicatesWithinWatermark(['review_id', 'date'])``. The Faust
  check is "seen in the current 1-h window" with a 2-h state TTL; the
  watermark idiom bounds state identically (2 h of event time) and
  dedups strictly better across adjacent windows (documented
  divergence, SURVEY.md §7 hard-point 1).
- routing: dedup and the gauntlet run ONCE per record, in one query;
  a ``foreachBatch`` router persists each micro-batch and writes the
  accepted rows and the exploded issues to their topics, as the
  reference's process_reviews agent computes once and sends twice
  (faust_app.py:131-170). A micro-batch without rows (the one that
  only advances the dedup watermark) appends nothing.
- stats: 1-h tumbling ``window()`` agg with a 7-day watermark — the
  TTL of the reference's stats table becomes the allowed-lateness
  bound (W4). It is the second and last query (see
  windowed_stats_stream for why it cannot share the first).
- exactly-once: checkpoint + sinks idempotent per epoch id — the topic
  router's two appends and the warehouse upsert (the reference uses
  Kafka transactions; Spark's Kafka sink is at-least-once — divergence
  documented, W5).
- state backend: RocksDB provider (session.py), matching the
  reference's RocksDB tables (faust_app.py:25).

At scale: dedup and stats are each ONE shuffle keyed by
(review_id,date) / (window,business_id); state is partitioned across
executors by the same keys, so a 1000-executor cluster shards both
tables with no hot spots (business_id skew is absorbed by AQE on the
batch path and by key-salting if a hot business emerges in streaming).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.gauntlet import score_reviews, validate_reviews
from ..schemas import RAW_REVIEW
from . import filetopic as FT

DEDUP_WATERMARK = "2 hours"  # faust_app.py:77-80 (1-h window, 2-h TTL)
STATS_WATERMARK = "7 days"  # faust_app.py:83-91


def read_review_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based streaming source (S1 streaming analog; also the test
    harness — parquet/json dirs driven with trigger(availableNow))."""
    reader = spark.readStream.schema(RAW_REVIEW)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def read_review_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "raw_reviews",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source (S5): subscribe + JSON deserialize into the typed
    schema (reference: faust_app.py:72-74, postgres_sink.py:51-58)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return FT.decode_review_records(raw)


def deduped_stream(reviews: DataFrame) -> DataFrame:
    """W1/W2/W4: event-time watermark + key dedup within the watermark
    horizon. Key = (review_id, date) — the reference's composite key
    (faust_app.py:113, quirk §8.7 preserved: same id with a different
    date is NOT a duplicate)."""
    return reviews.withWatermark("date", DEDUP_WATERMARK).dropDuplicatesWithinWatermark(
        ["review_id", "date"]
    )


def staged_quality_stream(reviews: DataFrame, now=None) -> DataFrame:
    """Gauntlet verdicts + scores over ALL rows (pre-split): the input
    of the topology's router (streaming_quality_pipeline) and of
    windowed_stats_stream, which needs it so rejected rows are actually
    counted (the reference declares a ``rejected`` counter but
    aggregates only the accepted stream, so it is forever 0 —
    faust_app.py:88,180-183; quirk §8.4 fixed here as in the batch
    path). ``now`` defaults to processing time — in a stream, the
    micro-batch timestamp (the reference stamps utcnow at scoring,
    quality_engine.py:89)."""
    now = now if now is not None else F.current_timestamp()
    return score_reviews(validate_reviews(reviews, now), now)


def streaming_quality_pipeline(staged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a staged frame (staged_quality_stream) into (accepted,
    issues): the accepted rows with their scores, and one row per
    emitted issue — the reference's two routes (faust_app.py:131-170)."""
    accepted = staged.filter(F.col("is_accepted"))
    issues = staged.select(F.explode("issues").alias("i")).select("i.*")
    return accepted, issues


def windowed_stats_stream(staged: DataFrame) -> DataFrame:
    """A1/A2 streaming: 1-h tumbling event-time windows, 7-d watermark
    (state TTL parity). Emits append-mode finalized windows with true
    accepted/rejected splits (see staged_quality_stream).

    NOTE: must run as its OWN query stage. Spark disallows widening a
    watermark downstream of ``dropDuplicatesWithinWatermark`` (2 h), so
    dedup and stats cannot share one query with different lateness
    bounds — exactly the reference's topology, where they are separate
    agents connected by the ``cleaned_reviews`` topic
    (faust_app.py:156-159, 173-177). Feed this from the cleaned-reviews
    sink (Kafka topic / parquet dir), not from the dedup stage."""
    acc = F.col("is_accepted").cast("int")
    dq_acc = F.when(F.col("is_accepted"), F.col("data_quality_score"))
    return (
        staged.withWatermark("date", STATS_WATERMARK)
        .groupBy(F.window(F.col("date"), "1 hour"), F.col("business_id"))
        .agg(
            F.count("*").alias("total"),
            F.sum(acc).alias("accepted"),
            F.sum(F.lit(1) - acc).alias("rejected"),
            F.sum(dq_acc).alias("total_quality_score"),
            F.avg(dq_acc).alias("avg_quality"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "business_id",
            "total",
            "accepted",
            "rejected",
            "total_quality_score",
            "avg_quality",
        )
    )


def rate_replay_stream(
    spark: SparkSession, static_df: DataFrame, rows_per_batch: int = 100
) -> DataFrame:
    """S4: rate-limited replay of a static table as a live stream.

    The reference throttles its producer to N records/sec with jitter
    (producer.py:127-174) to simulate a live feed. Spark-first: a
    ``rate-micro-batch`` source (deterministic ``rows_per_batch`` per
    trigger) stream-static-joined to the row-numbered table — each
    micro-batch replays the next slice, in order. For file-based
    replay, ``maxFilesPerTrigger`` (read_review_file_stream) is the
    coarser-grained equivalent."""
    w = Window.orderBy(F.lit(1))  # stable input order = replay order
    indexed = static_df.withColumn("_seq", F.row_number().over(w) - 1)
    ticks = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
        .select(F.col("value").alias("_seq"))
    )
    return ticks.join(indexed, "_seq").drop("_seq")


def kafka_payload(
    df: DataFrame, key_col: str = "business_id", timestamp_col: str | None = None
) -> DataFrame:
    """Keyed JSON payload projection for the Kafka sink: key =
    ``key_col`` (the reference partitions by business_id,
    producer.py:114), value = the full row as JSON. ``timestamp_col``
    adds the row's event time as a ``timestamp`` column (the record
    timestamp filetopic.produce_batch takes); it must be selected in
    this SAME projection, because the payload columns replace df's
    attributes."""
    cols = [
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    ]
    if timestamp_col:
        cols.append(F.col(timestamp_col).cast("timestamp_ltz").alias("timestamp"))
    return df.select(cols)


def write_kafka_keyed(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    key_col: str = "business_id",
):
    """S3/W6: keyed Kafka writer (key = business_id, matching the
    reference's partitioning at producer.py:114 / faust_app.py:157).
    At-least-once (documented divergence from the reference's Kafka
    transactions)."""
    payload = kafka_payload(df, key_col)
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("kafka.compression.type", "lz4")  # producer.py:101
        .option("kafka.acks", "all")  # producer.py:98
        .option("checkpointLocation", checkpoint_dir)
    )




def run_topology_via_topics(
    spark: SparkSession,
    base_dir: str,
    now=None,
) -> dict[str, int]:
    """The reference's FULL agent topology with topics between stages,
    executed end to end: ``raw_reviews`` topic -> process_reviews agent
    (dedup -> gauntlet -> route) -> ``cleaned_reviews`` /
    ``quality_issues`` topics -> aggregate_stats agent (1-h tumbling
    windows) — faust_app.py:72-91,101-177, with the file-backed topic
    shim standing in for the broker (swap filetopic calls for the
    kafka format options on a real cluster; payload/decode projections
    are shared either way).

    Two queries, one per agent, each run to completion with
    trigger(availableNow) — the batch-of-stream execution of the same
    always-on topology:

    - ``process_reviews`` is the only reader of the raw topic. Dedup,
      validate and score run once per record in the stream (``now``
      defaults to the micro-batch timestamp); a foreachBatch router
      persists each micro-batch and appends its accepted rows and its
      exploded issues to their topics under the micro-batch's epoch id.
      Each topic skips an epoch it already committed, so a replay
      after a crash between the two appends duplicates nothing. A
      micro-batch without rows (the dedup watermark advancing, or only
      duplicates) still runs, so dedup state is evicted and committed,
      but appends no epoch to either topic.
    - ``stats`` consumes the cleaned topic (see windowed_stats_stream).

    Returns per-output row counts; an output that is still empty
    counts 0. The two topics' counts are their committed end offsets
    (filetopic.topic_size), read without scanning a record.
    """
    cleaned_dir = f"{base_dir}/cleaned_reviews"
    issues_dir = f"{base_dir}/quality_issues"
    stats_dir = f"{base_dir}/out/hourly_stats"

    def run(writer, name: str) -> None:
        writer.option("checkpointLocation", f"{base_dir}/ckpt/{name}").trigger(
            availableNow=True
        ).start().awaitTermination()

    # stage 1: process_reviews (faust_app.py:101-170)
    staged = staged_quality_stream(
        deduped_stream(
            FT.decode_review_records(
                FT.read_file_topic_stream(spark, f"{base_dir}/raw_reviews")
            )
        ),
        now,
    )

    def route(batch: DataFrame, epoch_id: int) -> None:
        batch.persist()
        try:
            # no rows (the watermark-advance batch): nothing to append
            if batch.isEmpty():
                return
            accepted, issues = streaming_quality_pipeline(batch)
            FT.produce_batch(
                kafka_payload(accepted, "business_id", "date"),  # faust_app.py:157
                epoch_id,
                cleaned_dir,
                topic="cleaned_reviews",
                timestamp_col="timestamp",
            )
            FT.produce_batch(
                kafka_payload(issues, "review_id", "detected_at"),
                epoch_id,
                issues_dir,
                topic="quality_issues",
                timestamp_col="timestamp",
            )
        finally:
            batch.unpersist()

    run(staged.writeStream.foreachBatch(route), "process_reviews")

    # stage 2: aggregate_stats — consume the CLEANED topic (exactly the
    # reference's wiring, faust_app.py:173-177; its rejected counter is
    # structurally 0 here for the same reason — quirk §8.4 documented).
    # A topic nothing was routed to yet is an empty directory.
    for topic_dir in (cleaned_dir, issues_dir):
        os.makedirs(f"{topic_dir}/data", exist_ok=True)
    cleaned = FT.read_file_topic_stream(spark, cleaned_dir).select(
        F.from_json(F.col("value").cast("string"), staged.schema).alias("r")
    ).select("r.*")
    stats = windowed_stats_stream(cleaned)
    run(
        stats.writeStream.outputMode("append")
        .format("parquet")
        .option("path", stats_dir),
        "stats",
    )

    return {
        "cleaned_reviews": FT.topic_size(cleaned_dir),
        "quality_issues": FT.topic_size(issues_dir),
        "hourly_stats": spark.read.schema(stats.schema).parquet(stats_dir).count(),
    }
