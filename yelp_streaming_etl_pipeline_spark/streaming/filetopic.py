"""File-backed topic shim: an executable stand-in for the Kafka
producer sink (S3) and consumer source (S5).

The sandbox carries no broker, so the real Kafka paths
(topology.write_kafka_keyed / read_review_kafka_stream, mirroring
/root/reference/streaming/producer.py:85-117 and faust_app.py:72-74)
can only be config-verified. This module reproduces the broker
CONTRACT on a directory so the producer->consumer round trip actually
EXECUTES in tests and in the oracle gate:

- a topic is a directory with a fixed partition count (the reference
  creates raw_reviews with 3 partitions, producer.py:197-214);
- the producer assigns ``partition = pmod(hash(key), n)`` — same-key
  records always land in the same partition (W6, the property the
  reference relies on for per-business ordering). Divergence: Spark's
  ``hash`` is murmur3 where Kafka's partitioner is murmur2, so the
  concrete partition NUMBER differs from a real broker's; the keyed
  co-partitioning guarantee is identical. Null keys hash the value
  (Kafka round-robins them; determinism matters more here).
- per-partition offsets are contiguous longs assigned at append time
  by the broker role — here the ``foreachBatch`` driver — and
  persisted in ``_meta.json``. Offset assignment is a broker-side
  serial concern in Kafka too; the per-epoch ordering below makes the
  shim's assignment deterministic so tests can assert it.
- an epoch (micro-batch) writes to its own subdirectory and commits
  into ``_meta.json`` afterwards; a replayed epoch id is skipped, and
  a retry after a mid-write crash OVERWRITES the same directory, so
  the producer is idempotent under Spark's checkpoint replay. That is
  the executed half of the W5 exactly-once story (checkpoint +
  idempotent sink); what the shim does NOT give is read-committed
  isolation for a consumer racing a half-written epoch — the same
  at-least-once visibility a non-transactional Kafka producer has
  (divergence from the reference's transactional config, documented
  in SURVEY.md §7).
- consumer rows carry the EXACT Spark Kafka source schema (key/value
  binary, topic, partition, offset, timestamp, timestampType), so
  decode logic written against the real Kafka source —
  ``decode_review_records`` — works against either unchanged.

At scale: producing is one write with one hash-partition shuffle of
the batch (the same shuffle the Kafka sink's network partitioner
implies); offset bookkeeping is O(partitions) driver-side JSON, the
role a broker's partition leader plays. Consuming is a plain file
stream — each epoch directory's files split across executors like any
parquet scan.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import RAW_REVIEW

DEFAULT_PARTITIONS = 3  # producer.py:204 (raw_reviews: 3 partitions)

# Spark's Kafka source output schema, reproduced field-for-field.
TOPIC_RECORD = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)

_META = "_meta.json"


def _meta_path(topic_dir: str) -> str:
    return os.path.join(topic_dir, _META)


def _read_meta(topic_dir: str, n_partitions: int) -> dict:
    p = _meta_path(topic_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {
        "n_partitions": n_partitions,
        "next_offset": {str(i): 0 for i in range(n_partitions)},
        "epochs": [],
    }


def _write_meta(topic_dir: str, meta: dict) -> None:
    # single-writer atomic commit (the broker role): tmp + rename
    p = _meta_path(topic_dir)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, p)


def topic_size(topic_dir: str) -> int:
    """Records committed to the topic: the sum of its per-partition end
    offsets (``next_offset``), what a broker reports without reading a
    record. A topic with no commit yet has size 0."""
    return sum(int(o) for o in _read_meta(topic_dir, 0)["next_offset"].values())


def assign_partition(key, value, n_partitions: int):
    """Keyed partitioner: pmod(hash(key), n); null key hashes value."""
    h = F.when(key.isNull(), F.hash(value)).otherwise(F.hash(key))
    return F.pmod(h, F.lit(n_partitions)).cast("int")


def produce_batch(
    batch_df: DataFrame,
    epoch_id: int,
    topic_dir: str,
    topic: str = "raw_reviews",
    n_partitions: int = DEFAULT_PARTITIONS,
    timestamp_col: Optional[str] = None,
) -> int:
    """Append one micro-batch (columns ``key``/``value`` as string or
    binary, optionally ``timestamp_col``) to the topic. Returns rows
    appended (0 when the epoch was already committed).

    One action, the offset-assigning write: it observes the rows it
    writes per partition (``DataFrame.observe``), and those counts
    advance ``next_offset`` in the commit. An empty input writes an
    empty epoch and commits its id.

    Idempotent by construction: a committed epoch id is a no-op, and
    a retry of an uncommitted epoch overwrites its own subdirectory,
    so checkpoint replay after any crash point cannot duplicate rows.
    """
    os.makedirs(topic_dir, exist_ok=True)
    meta = _read_meta(topic_dir, n_partitions)
    n_partitions = int(meta["n_partitions"])
    if epoch_id in meta["epochs"]:
        return 0

    ts = (
        F.col(timestamp_col).cast("timestamp_ltz")
        if timestamp_col
        else F.current_timestamp()  # Kafka LogAppendTime analog
    )
    rec = batch_df.select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        assign_partition(F.col("key"), F.col("value"), n_partitions).alias(
            "partition"
        ),
        ts.alias("timestamp"),
        F.lit(1).alias("timestampType"),  # LogAppendTime
    )

    # Broker-side offset assignment: contiguous per partition from the
    # committed high-water mark. Within an epoch the order is pinned by
    # (key, value) bytes so replays and tests see identical offsets —
    # an epoch is one atomic append, so any serial order is valid.
    base = F.create_map(
        *[
            x
            for p in range(n_partitions)
            for x in (
                F.lit(p),
                F.lit(int(meta["next_offset"].get(str(p), 0))),
            )
        ]
    )
    w = Window.partitionBy("partition").orderBy("key", "value")
    out = rec.withColumn(
        "offset",
        base[F.col("partition")] + F.row_number().over(w) - F.lit(1),
    ).select([f.name for f in TOPIC_RECORD.fields])
    # the per-partition row counts ride along the write (no count job)
    counts = Observation()
    out = out.observe(
        counts,
        *[F.count_if(F.col("partition") == p).alias(str(p)) for p in range(n_partitions)],
    )

    epoch_dir = os.path.join(topic_dir, "data", f"e{epoch_id:020d}")
    out.write.mode("overwrite").parquet(epoch_dir)

    appended = 0
    for p, c in counts.get.items():
        meta["next_offset"][p] = int(meta["next_offset"].get(p, 0)) + int(c)
        appended += int(c)
    meta["epochs"].append(epoch_id)
    _write_meta(topic_dir, meta)
    return appended


def write_file_topic_keyed(
    df: DataFrame,
    topic_dir: str,
    checkpoint_dir: str,
    key_col: str = "business_id",
    topic: str = "raw_reviews",
    n_partitions: int = DEFAULT_PARTITIONS,
    timestamp_col: Optional[str] = None,
):
    """S3/W6 executable twin of topology.write_kafka_keyed: keyed JSON
    payload (key = business_id, producer.py:114) appended to the file
    topic via foreachBatch. Returns the DataStreamWriter, unstarted."""
    from .topology import kafka_payload

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        produce_batch(
            batch_df,
            epoch_id,
            topic_dir,
            topic=topic,
            n_partitions=n_partitions,
            timestamp_col="timestamp" if timestamp_col else None,
        )

    return kafka_payload(df, key_col, timestamp_col).writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )


def read_file_topic_stream(spark: SparkSession, topic_dir: str) -> DataFrame:
    """S5 executable twin of the Kafka consumer source: a file stream
    over the topic's epoch directories emitting Kafka-schema records.
    Feed the result to ``decode_review_records`` exactly as you would
    the real Kafka source's output."""
    return (
        spark.readStream.schema(TOPIC_RECORD)
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(topic_dir, "data"))
    )


def read_file_topic_batch(spark: SparkSession, topic_dir: str) -> DataFrame:
    """Batch view of the topic (offset/partition audits, tests)."""
    return (
        spark.read.schema(TOPIC_RECORD)
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(topic_dir, "data"))
    )


def decode_review_records(records: DataFrame) -> DataFrame:
    """Kafka-record -> typed review rows (faust_app.py:72-74 topic
    type; shared by the real Kafka source and the file-topic shim)."""
    return records.select(
        F.from_json(F.col("value").cast("string"), RAW_REVIEW).alias("r")
    ).select("r.*")
