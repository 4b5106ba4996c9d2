"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the fixture tables the
batch entries read (same schemas as the sf fixtures of TESTDATA.md) and the
review arrival schedule the streaming workload replays. Nothing reads
or writes outside the directories it is given.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word-salad vocabulary of the documents fixture (TESTDATA.md).
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
NEARDUP_SHARE = 0.05
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Fixture row counts per scale factor (documents, embeddings, customers).
# Orders are 10x customers and line items 4x orders, as in TPC-H.
SCALES = {
    "0.001": (500, 500, 150),
    "0.01": (500, 500, 1500),
    "0.1": (5000, 2000, 15000),
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def documents(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < NEARDUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": list(rng.choice(LANGS, n, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    rng = _rng(seed, "embeddings")
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vec = rng.normal(0.0, 1.0, (n, dim)) + 0.15 * centers[label]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def customer(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "customer")
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": list(rng.choice(SEGMENTS, n)),
        }
    )


def orders(seed: int, n: int, n_cust: int) -> pa.Table:
    rng = _rng(seed, "orders")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": pa.array(_days(rng, n, "1992-01-01", 2400)),
            "o_orderpriority": list(rng.choice(PRIORITIES, n)),
        }
    )


def lineitem(seed: int, n: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    rng = _rng(seed, "lineitem")
    qty = rng.integers(1, 51, n).astype(float)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": list(rng.choice(["R", "A", "N"], n)),
            "l_linestatus": list(rng.choice(["O", "F"], n)),
            "l_shipdate": pa.array(_days(rng, n, "1992-01-01", 2500)),
        }
    )


def write_fixtures(seed: int, sf: str, out_dir: str) -> dict[str, int]:
    """Write the fixture tables the benchmarked entries read; returns
    row counts per table."""
    n_docs, n_emb, n_cust = SCALES[sf]
    n_ord = 10 * n_cust
    tables = {
        "documents": documents(seed, n_docs),
        "embeddings": embeddings(seed, n_emb),
        "customer": customer(seed, n_cust),
        "orders": orders(seed, n_ord, n_cust),
        "lineitem": lineitem(
            seed, 4 * n_ord, n_ord, max(200, 4 * n_cust // 3), max(10, n_cust // 15)
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------- stream

# Event time of schedule offset 0. History records precede it.
EPOCH = dt.datetime(2026, 8, 12, tzinfo=dt.timezone.utc)
# Scoring clock of the gauntlet; a literal keeps outputs reproducible.
NOW_LITERAL = "2026-08-13 00:00:00"
RESEND_SHARE = 0.05  # exact resends: same review_id, date and body
RESEND_MAX_DELAY_S = 5.0
LATE_SHARE = 0.10  # out-of-order records: event time behind the clock
LATE_MAX_S = 600.0  # far below the 2-h dedup watermark
HISTORY_DAYS = 8  # > the 7-day stats watermark, so windows finalize
HISTORY_STEP_S = 3600.0

TOPIC_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)


def _iso(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


class ReviewStream:
    """Open-loop review arrivals: record ``i`` falls due ``due[i]``
    seconds after the run clock starts. Bodies cycle through the
    program's synthetic review rows; ids get a cycle suffix so every
    original is distinct. A seeded share are exact resends of a recent
    record, and a seeded share carry an event time behind the clock."""

    def __init__(self, rows: list[dict], seed: int, rate: float, horizon_s: float):
        rng = _rng(seed, "schedule")
        n = int(rate * horizon_s) + 1
        gaps = rng.exponential(1.0 / rate, n)
        self.due = np.cumsum(gaps) - gaps[0]
        order = rng.permutation(len(rows))
        late = np.where(rng.random(n) < LATE_SHARE, rng.uniform(0, LATE_MAX_S, n), 0.0)
        resend = rng.random(n) < RESEND_SHARE
        self.records: list[tuple[float, bytes, bytes, dt.datetime, str]] = []
        originals: list[int] = []
        for i in range(n):
            if resend[i] and originals:
                # copy a record sent within the last RESEND_MAX_DELAY_S
                j = originals[-1 - int(rng.integers(0, min(len(originals), 8)))]
                if self.due[i] - self.records[j][0] <= RESEND_MAX_DELAY_S:
                    _due, key, val, ts, rid = self.records[j]
                    self.records.append((float(self.due[i]), key, val, ts, rid))
                    continue
            k = len(originals)
            row = rows[order[k % len(rows)]]
            ts = EPOCH + dt.timedelta(seconds=float(self.due[i]) - float(late[i]))
            rid = f"{row['review_id']}-{k // len(rows)}"
            self.records.append((float(self.due[i]), *encode_review(row, rid, ts), ts, rid))
            originals.append(i)
        self.next = 0

    def take_due(self, now_s: float) -> list[tuple]:
        lo = self.next
        while self.next < len(self.records) and self.records[self.next][0] <= now_s:
            self.next += 1
        return self.records[lo : self.next]

    def summary(self) -> dict:
        sent = self.records[: self.next]
        ids = [r[4] for r in sent]
        digest = hashlib.sha256(
            "".join(f"{r[0]:.6f}{r[4]}" for r in self.records).encode()
        ).hexdigest()[:16]
        return {
            "scheduled": len(self.records),
            "sent": len(sent),
            "resends_sent": len(ids) - len(set(ids)),
            "first_due_s": round(self.records[0][0], 6),
            "last_sent_due_s": round(sent[-1][0], 6) if sent else None,
            "schedule_sha256_16": digest,
        }


def history(rows: list[dict], seed: int) -> list[tuple]:
    """Backfill records, one per hour over HISTORY_DAYS before EPOCH,
    so the stats watermark passes some windows and the check has
    finalized windows to compare."""
    rng = _rng(seed, "history")
    n = int(HISTORY_DAYS * 86400 / HISTORY_STEP_S)
    out = []
    for k, idx in enumerate(rng.choice(len(rows), n, replace=False)):
        ts = EPOCH - dt.timedelta(seconds=(n - k) * HISTORY_STEP_S)
        rid = f"{rows[idx]['review_id']}-h"
        out.append((-1.0, *encode_review(rows[idx], rid, ts), ts, rid))
    return out


def encode_review(row: dict, rid: str, ts: dt.datetime) -> tuple[bytes, bytes]:
    d = dict(row)
    d["review_id"] = rid
    d["date"] = _iso(ts)
    d["ingestion_timestamp"] = _iso(ts + dt.timedelta(seconds=1))
    return d["business_id"].encode(), json.dumps(d).encode()


def write_epoch(topic_dir: str, epoch: int, records: list[tuple], first_offset: int) -> None:
    """Append one epoch of Kafka-schema records to a file topic: written
    under a temporary name, then renamed into ``data/`` in one step so
    the file-stream source never lists a half-written epoch."""
    n = len(records)
    table = pa.table(
        {
            "key": [r[1] for r in records],
            "value": [r[2] for r in records],
            "topic": ["raw_reviews"] * n,
            "partition": pa.array(np.zeros(n), pa.int32()),
            "offset": pa.array(np.arange(first_offset, first_offset + n), pa.int64()),
            "timestamp": [r[3] for r in records],
            "timestampType": pa.array(np.zeros(n), pa.int32()),
        },
        schema=TOPIC_SCHEMA,
    )
    tmp = os.path.join(topic_dir, f".tmp-e{epoch:08d}")
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    data = os.path.join(topic_dir, "data")
    os.makedirs(data, exist_ok=True)
    os.rename(tmp, os.path.join(data, f"e{epoch:08d}"))
