"""File-backed topic shim (S3 producer / S5 consumer executed twins).

What a real broker would be asserted on, asserted here:
- produce -> consume round-trip is lossless (payload parity with the
  input table, through the same JSON codec the Kafka paths use);
- keyed co-partitioning (W6): every key lives in exactly one
  partition (reference partitions by business_id, producer.py:114);
- offsets are contiguous per partition and monotonic across epochs;
- the producer is idempotent under checkpoint replay: a committed
  epoch is a no-op, and a retry after a mid-write crash overwrites
  rather than duplicates (the executed half of W5).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from yelp_streaming_etl_pipeline_spark.sources.reviews import synthetic_reviews
from yelp_streaming_etl_pipeline_spark.streaming import filetopic as FT

SF_DIR = "/root/testdata/sf0.001"


def _reviews(spark):
    return synthetic_reviews(spark, SF_DIR).drop(
        "language", "language_confidence"
    )


def _payload(spark, n):
    """``n`` reviews as keyed JSON payload rows (key = business_id)."""
    reviews = _reviews(spark).limit(n).cache()
    return reviews.select(
        F.col("business_id").cast("string").alias("key"),
        F.to_json(F.struct(*reviews.columns)).alias("value"),
    )


def _produce_stream(spark, tmp_path, reviews, topic_dir):
    src = str(tmp_path / "src")
    reviews.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(reviews.schema).parquet(src)
    q = (
        FT.write_file_topic_keyed(
            stream,
            topic_dir,
            str(tmp_path / "ckpt"),
            key_col="business_id",
            timestamp_col="ingestion_timestamp",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_roundtrip_parity(spark, tmp_path):
    reviews = _reviews(spark)
    topic_dir = str(tmp_path / "topic")
    _produce_stream(spark, tmp_path, reviews, topic_dir)

    # consume as a STREAM through the shared Kafka decode
    out = str(tmp_path / "consumed")
    q = (
        FT.decode_review_records(FT.read_file_topic_stream(spark, topic_dir))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt_c"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out)
    cols = [f.name for f in reviews.schema.fields]
    want_rows = sorted(map(tuple, reviews.select(cols).collect()))
    got_rows = sorted(map(tuple, got.select(cols).collect()))
    assert got_rows == want_rows


def test_keyed_copartitioning_and_offsets(spark, tmp_path):
    reviews = _reviews(spark)
    topic_dir = str(tmp_path / "topic")
    _produce_stream(spark, tmp_path, reviews, topic_dir)
    rec = FT.read_file_topic_batch(spark, topic_dir)

    # W6: one partition per key
    spread = (
        rec.groupBy(F.col("key").cast("string"))
        .agg(F.countDistinct("partition").alias("nparts"))
        .agg(F.max("nparts").alias("m"))
        .collect()[0]["m"]
    )
    assert spread == 1

    # offsets: 0..count-1 contiguous within each partition
    per_part = rec.groupBy("partition").agg(
        F.count("*").alias("c"),
        F.min("offset").alias("lo"),
        F.max("offset").alias("hi"),
        F.countDistinct("offset").alias("d"),
    )
    for r in per_part.collect():
        assert r["lo"] == 0
        assert r["hi"] == r["c"] - 1
        assert r["d"] == r["c"]

    # consumer rows carry the exact Kafka source schema
    assert rec.schema == FT.TOPIC_RECORD


def test_offsets_monotonic_across_epochs(spark, tmp_path):
    payload = _payload(spark, 40)
    topic_dir = str(tmp_path / "topic")
    n1 = FT.produce_batch(payload, 0, topic_dir, n_partitions=3)
    n2 = FT.produce_batch(payload, 1, topic_dir, n_partitions=3)
    assert n1 == 40 and n2 == 40

    rec = FT.read_file_topic_batch(spark, topic_dir)
    per_part = rec.groupBy("partition").agg(
        F.count("*").alias("c"),
        F.max("offset").alias("hi"),
        F.countDistinct("offset").alias("d"),
    )
    for r in per_part.collect():
        assert r["hi"] == r["c"] - 1  # second epoch continued, no gaps
        assert r["d"] == r["c"]  # no offset reused


def test_idempotent_replay_and_crash_retry(spark, tmp_path):
    payload = _payload(spark, 30)
    topic_dir = str(tmp_path / "topic")

    assert FT.produce_batch(payload, 0, topic_dir) == 30
    # checkpoint replay of a COMMITTED epoch: no-op
    assert FT.produce_batch(payload, 0, topic_dir) == 0
    assert FT.read_file_topic_batch(spark, topic_dir).count() == 30

    # mid-write crash: epoch 1's data landed but _meta.json was never
    # committed (simulated by restoring the pre-epoch meta) -> the
    # retry overwrites the epoch directory instead of duplicating
    meta_before = open(os.path.join(topic_dir, "_meta.json")).read()
    assert FT.produce_batch(payload, 1, topic_dir) == 30
    with open(os.path.join(topic_dir, "_meta.json"), "w") as f:
        f.write(meta_before)  # crash before commit
    assert FT.produce_batch(payload, 1, topic_dir) == 30  # retry
    rec = FT.read_file_topic_batch(spark, topic_dir)
    assert rec.count() == 60
    assert rec.groupBy("partition", "offset").count().filter(
        F.col("count") > 1
    ).count() == 0


def _next_offsets(topic_dir):
    with open(os.path.join(topic_dir, "_meta.json")) as f:
        return {int(p): o for p, o in json.load(f)["next_offset"].items()}


def _rows_per_partition(df):
    return {
        r["partition"]: r["count"] for r in df.groupBy("partition").count().collect()
    }


def test_produce_batch_observed_counts_advance_offsets(spark, tmp_path):
    """The per-partition counts observed on the write are the rows the
    epoch wrote to each partition, and next_offset advances by exactly
    those counts epoch after epoch."""
    payload = _payload(spark, 40)
    topic_dir = str(tmp_path / "topic")
    before = {p: 0 for p in range(FT.DEFAULT_PARTITIONS)}
    for epoch_id, batch in enumerate((payload, payload.limit(25))):
        n = FT.produce_batch(batch, epoch_id, topic_dir)
        written = _rows_per_partition(
            spark.read.schema(FT.TOPIC_RECORD).parquet(
                os.path.join(topic_dir, "data", f"e{epoch_id:020d}")
            )
        )
        after = _next_offsets(topic_dir)
        assert n == sum(written.values()) == batch.count()
        assert after == {p: before[p] + written.get(p, 0) for p in before}
        before = after
    assert before == _rows_per_partition(FT.read_file_topic_batch(spark, topic_dir))
    assert FT.topic_size(topic_dir) == 65


def test_produce_batch_empty_epoch_commits(spark, tmp_path):
    """An empty input appends nothing but still commits its epoch id,
    so a replay of that epoch stays a no-op."""
    payload = _payload(spark, 20)
    topic_dir = str(tmp_path / "topic")
    assert FT.topic_size(topic_dir) == 0  # no _meta.json yet
    assert FT.produce_batch(payload, 0, topic_dir) == 20
    offsets = _next_offsets(topic_dir)
    assert FT.produce_batch(payload.limit(0), 1, topic_dir) == 0
    assert _next_offsets(topic_dir) == offsets
    with open(os.path.join(topic_dir, "_meta.json")) as f:
        assert json.load(f)["epochs"] == [0, 1]
    assert FT.produce_batch(payload, 1, topic_dir) == 0  # replay: no-op
    assert _next_offsets(topic_dir) == offsets
    assert FT.read_file_topic_batch(spark, topic_dir).count() == 20


def test_null_key_records_still_partition_deterministically(spark, tmp_path):
    payload = spark.createDataFrame(
        [(None, '{"a": 1}'), (None, '{"a": 2}'), ("k", '{"a": 3}')],
        "key string, value string",
    )
    topic_dir = str(tmp_path / "topic")
    FT.produce_batch(payload, 0, topic_dir)
    shutil.rmtree(str(tmp_path / "topic2"), ignore_errors=True)
    FT.produce_batch(payload, 0, str(tmp_path / "topic2"))
    a = sorted(
        map(
            tuple,
            FT.read_file_topic_batch(spark, topic_dir)
            .select(F.col("value").cast("string"), "partition", "offset")
            .collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            FT.read_file_topic_batch(spark, str(tmp_path / "topic2"))
            .select(F.col("value").cast("string"), "partition", "offset")
            .collect(),
        )
    )
    assert a == b  # same inputs -> same layout, null keys included


GOOD = (
    "The food here was absolutely wonderful and the service was quick. "
    "I would definitely come back with friends for the weekend brunch."
)


def _topology_input(spark):
    """40 reviews spanning > 8 days (so the 7-day stats watermark
    finalizes windows), planted gauntlet failures, and one duplicate
    (review_id, date)."""
    from datetime import datetime, timedelta

    from yelp_streaming_etl_pipeline_spark.schemas import RAW_REVIEW

    base = datetime(2026, 8, 1, 12, 0, 0)
    rows = []
    for i in range(40):
        rows.append(
            (
                f"r{i}",
                f"b{i % 3}",
                f"u{i}",
                None if i % 13 == 0 else float(1 + i % 5),
                None if i % 11 == 0 else GOOD + f" visit number {i}.",
                base + timedelta(hours=5 * i, minutes=7 * i),
                i % 4,
                i % 3,
                i % 2,
                "test",
                base,
            )
        )
    rows.append(rows[1])  # duplicate (review_id, date)
    return spark.createDataFrame(rows, RAW_REVIEW)


@pytest.fixture()
def trusted_lang(monkeypatch):
    """The fixture has no language columns: attach trusted ones inside
    the topology's gauntlet."""
    from yelp_streaming_etl_pipeline_spark.streaming import topology as TOP

    orig = TOP.validate_reviews
    monkeypatch.setattr(
        TOP,
        "validate_reviews",
        lambda df, now: orig(
            df.withColumn("language", F.lit("en")).withColumn(
                "language_confidence", F.lit(0.95)
            ),
            now,
        ),
    )


def _cleaned_ids(spark, base_dir):
    return [
        json.loads(bytes(r["value"]).decode())["review_id"]
        for r in FT.read_file_topic_batch(
            spark, f"{base_dir}/cleaned_reviews"
        ).collect()
    ]


def test_full_topology_via_topics(spark, tmp_path, trusted_lang):
    """The reference's complete agent graph executed through topics:
    raw_reviews -> (dedup + gauntlet) -> cleaned_reviews /
    quality_issues -> windowed stats — with batch-path parity on the
    accepted set (one expression library, two execution modes, a
    broker in between)."""
    from yelp_streaming_etl_pipeline_spark.operators.gauntlet import (
        clean_reviews,
    )
    from yelp_streaming_etl_pipeline_spark.streaming import topology as TOP

    src_df = _topology_input(spark)
    base_dir = str(tmp_path / "broker")
    # producer: replay the source table into the raw topic
    src = str(tmp_path / "src")
    src_df.coalesce(1).write.mode("overwrite").parquet(src)
    q = (
        FT.write_file_topic_keyed(
            spark.readStream.schema(src_df.schema).parquet(src),
            f"{base_dir}/raw_reviews",
            str(tmp_path / "ckpt_raw"),
            key_col="business_id",
            timestamp_col="date",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    counts = TOP.run_topology_via_topics(spark, base_dir)
    assert counts["cleaned_reviews"] + counts["quality_issues"] >= 30
    assert counts["hourly_stats"] > 0

    # batch parity on the accepted set, through TWO topic hops
    stream_ids = set(_cleaned_ids(spark, base_dir))
    batch_input = (
        src_df.dropDuplicates(["review_id", "date"])
        .withColumn("language", F.lit("en"))
        .withColumn("language_confidence", F.lit(0.95))
    )
    accepted, _r, _i = clean_reviews(batch_input, F.current_timestamp())
    assert stream_ids == {
        r["review_id"] for r in accepted.select("review_id").collect()
    }

    # stats consumed from the cleaned topic: totals per emitted window
    # match a batch aggregation of the accepted rows
    stats = spark.read.parquet(f"{base_dir}/out/hourly_stats")
    batch_win = {
        (r["ws"], r["business_id"]): r["n"]
        for r in accepted.groupBy(
            F.date_trunc("hour", "date").alias("ws"), "business_id"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in stats.collect():
        assert batch_win[(r["window_start"], r["business_id"])] == r["total"]


def test_topology_tick_over_empty_raw_topic(spark, tmp_path, trusted_lang):
    """A tick before anything was routed: both output topics and the
    stats sink are still empty and count 0 (no PATH_NOT_FOUND)."""
    from yelp_streaming_etl_pipeline_spark.streaming import topology as TOP

    base_dir = str(tmp_path / "broker")
    os.makedirs(f"{base_dir}/raw_reviews/data")  # topic exists, no record
    assert TOP.run_topology_via_topics(spark, base_dir) == {
        "cleaned_reviews": 0,
        "quality_issues": 0,
        "hourly_stats": 0,
    }


def test_topology_single_pass_exactly_once_replay(
    spark, tmp_path, trusted_lang, monkeypatch
):
    """One query reads the raw topic and routes to both topics; a crash
    between the two appends and a re-run without new records both
    leave every output exactly as one clean run writes it."""
    from yelp_streaming_etl_pipeline_spark.streaming import topology as TOP

    def produce_raw(base_dir):
        FT.produce_batch(
            TOP.kafka_payload(_topology_input(spark), timestamp_col="date"),
            0,
            f"{base_dir}/raw_reviews",
            timestamp_col="timestamp",
        )

    clean = str(tmp_path / "clean")
    produce_raw(clean)
    want = TOP.run_topology_via_topics(spark, clean)
    assert sorted(os.listdir(f"{clean}/ckpt")) == ["process_reviews", "stats"]
    assert want["cleaned_reviews"] > 0 and want["quality_issues"] > 0
    _assert_counts_are_topic_sizes(spark, clean, want)

    # no new raw records: nothing moves, nothing is re-appended
    assert TOP.run_topology_via_topics(spark, clean) == want
    ids = _cleaned_ids(spark, clean)
    assert len(ids) == len(set(ids)) == want["cleaned_reviews"]

    # crash after the cleaned append, before the issues append: the
    # restart replays the epoch, the cleaned topic skips it
    crashed = str(tmp_path / "crashed")
    produce_raw(crashed)
    produce = FT.produce_batch

    def crash_on_issues(batch_df, epoch_id, topic_dir, **kw):
        if kw.get("topic") == "quality_issues":
            raise RuntimeError("crash between the two appends")
        return produce(batch_df, epoch_id, topic_dir, **kw)

    monkeypatch.setattr(FT, "produce_batch", crash_on_issues)
    with pytest.raises(Exception, match="crash between the two appends"):
        TOP.run_topology_via_topics(spark, crashed)
    monkeypatch.setattr(FT, "produce_batch", produce)
    assert TOP.run_topology_via_topics(spark, crashed) == want
    assert sorted(_cleaned_ids(spark, crashed)) == sorted(ids)
    _assert_counts_are_topic_sizes(spark, crashed, want)


def _assert_counts_are_topic_sizes(spark, base_dir, counts):
    for name in ("cleaned_reviews", "quality_issues"):
        topic_dir = f"{base_dir}/{name}"
        assert counts[name] == FT.read_file_topic_batch(spark, topic_dir).count()


def _last_job_id(spark):
    """Newest job id in the AppStatusStore (it lists jobs newest first)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30000)
    it = sc.statusStore().jobsList(spark.sparkContext._gateway.jvm.java.util.ArrayList()).iterator()
    return it.next().jobId() if it.hasNext() else -1


def test_steady_tick_jobs_and_routed_epochs(spark, tmp_path, trusted_lang):
    """A steady tick (a new raw epoch whose dates advance the dedup
    watermark) runs a bounded number of Spark jobs, and the router's
    watermark-advance micro-batch appends no epoch to either topic."""
    from yelp_streaming_etl_pipeline_spark.streaming import topology as TOP

    base_dir = str(tmp_path / "broker")
    first = _topology_input(spark)
    later = first.withColumn("review_id", F.concat(F.lit("n"), "review_id")).withColumn(
        "date", F.col("date") + F.expr("INTERVAL 10 DAYS")
    )
    for epoch_id, reviews in enumerate((first, later)):
        FT.produce_batch(
            TOP.kafka_payload(reviews, timestamp_col="date"),
            epoch_id,
            f"{base_dir}/raw_reviews",
            timestamp_col="timestamp",
        )
        seen = _last_job_id(spark)
        counts = TOP.run_topology_via_topics(spark, base_dir)
        jobs = _last_job_id(spark) - seen
    print(f"steady tick: {jobs} Spark jobs")
    # router data batch: isEmpty and two one-job appends; router
    # watermark-advance batch: isEmpty; stats: one job per micro-batch
    # and two for the hourly_stats count
    assert jobs <= 8

    commits = f"{base_dir}/ckpt/process_reviews/commits"
    batches = sorted(int(f) for f in os.listdir(commits) if f.isdigit())
    assert batches == [0, 1, 2, 3]  # data, watermark advance, per tick
    for name in ("cleaned_reviews", "quality_issues"):
        topic_dir = f"{base_dir}/{name}"
        with open(os.path.join(topic_dir, "_meta.json")) as f:
            epochs = json.load(f)["epochs"]
        assert epochs == [0, 2]
        assert sorted(os.listdir(f"{topic_dir}/data")) == [f"e{e:020d}" for e in epochs]
    _assert_counts_are_topic_sizes(spark, base_dir, counts)
