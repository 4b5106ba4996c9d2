"""Live streaming workload: an open-loop review producer feeding the
file-topic topology, one ``run_topology_via_topics`` call per tick.

The generator keeps a clock. Before each tick it appends every record
that has fallen due as a new epoch of the raw topic, then calls the
program's end-to-end entry point again; ticks run back to back for the
whole measured window. A record's latency is the time from its due time
to the end of the tick that routed it to ``cleaned_reviews`` or
``quality_issues``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import sys
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from yelp_streaming_etl_pipeline_spark.functions.language import with_lang_id
from yelp_streaming_etl_pipeline_spark.operators import gauntlet as G
from yelp_streaming_etl_pipeline_spark.sources.reviews import synthetic_reviews
from yelp_streaming_etl_pipeline_spark.streaming import filetopic as FT
from yelp_streaming_etl_pipeline_spark.streaming import topology as TOP

import gen
import tracing as TR
from tracing import log

QUERIES = ("cleaned", "issues", "stats")
RAW_READERS = ("cleaned", "issues")  # queries that consume the raw topic
DEDUP_OP = "dedupeWithinWatermark"


class LanguageSeam:
    """The topology validates reviews that must already carry
    ``language``/``language_confidence``, and nothing in it attaches
    them. This wraps ``topology.validate_reviews`` with the program's
    own stream-safe marker classifier. It refuses to run if the input
    already has a ``language`` column: once the program attaches it
    itself, this seam has to go."""

    def __init__(self) -> None:
        self.calls = 0
        self._orig = TOP.validate_reviews

        def seam(df, now):
            if "language" in df.columns:
                raise RuntimeError(
                    "topology input already carries `language`: remove the "
                    "benchmark's language seam (perfbench/stream.py)"
                )
            self.calls += 1
            return self._orig(with_lang_id(df, method="marker"), now)

        TOP.validate_reviews = seam


def review_rows(spark, fixture_dir: str) -> list[dict]:
    """Review bodies from the program's synthetic review source, as
    JSON-ready dicts in RAW_REVIEW shape (no language columns)."""
    df = synthetic_reviews(spark, fixture_dir).drop("language", "language_confidence")
    rows = [json.loads(r[0]) for r in df.select(F.to_json(F.struct(*df.columns))).collect()]
    return sorted(rows, key=lambda r: r["review_id"])


class Topic:
    """The raw topic as the producer sees it."""

    def __init__(self, base: str) -> None:
        self.dir = os.path.join(base, "raw_reviews")
        os.makedirs(self.dir, exist_ok=True)
        self.epoch = 0
        self.offset = 0

    def append(self, records: list[tuple]) -> None:
        if records:
            gen.write_epoch(self.dir, self.epoch, records, self.offset)
            self.epoch += 1
            self.offset += len(records)


def run(spark, work: str, seed: int, seconds: float, tracing: bool, cfg: dict, t_start: float) -> dict:
    fixtures = os.path.join(work, "fixtures")
    os.makedirs(fixtures)
    pq.write_table(gen.documents(seed, cfg["docs"]), os.path.join(fixtures, "documents.parquet"))
    log(t_start, "documents written")
    rows = review_rows(spark, fixtures)
    log(t_start, f"review rows: {len(rows)}")
    base = os.path.join(work, "topology")
    topic = Topic(base)
    seam = LanguageSeam()
    now = F.to_timestamp(F.lit(gen.NOW_LITERAL))
    horizon = seconds + cfg["max_tick_s"] * 2
    stream = gen.ReviewStream(rows, seed, cfg["rate"], horizon)

    # warm-up tick 1 (cold: JIT, codegen, fresh checkpoints) drains the
    # backfill; the clock starts with warm-up tick 2, so the first
    # measured tick already drains a steady tick's worth of arrivals
    topic.append(gen.history(rows, seed))
    TOP.run_topology_via_topics(spark, base, now)
    log(t_start, "warm-up tick 1")
    t0 = time.perf_counter()
    topic.append(stream.take_due(0.0))
    TOP.run_topology_via_topics(spark, base, now)
    log(t_start, "warm-up tick 2")

    listener = spans = store = None
    if tracing:
        listener = TR.ProgressListener()
        spark.streams.addListener(listener)
        spans = TR.Spans()
        for name in ("deduped_stream", "streaming_quality_pipeline", "windowed_stats_stream"):
            spans.wrap(TOP, name)
        for name in ("decode_review_records", "read_file_topic_stream", "write_file_topic_keyed"):
            spans.wrap(FT, name)
        written = []
        produce = FT.produce_batch

        def produce_spanned(*a, **kw):
            p0 = time.perf_counter()
            n = produce(*a, **kw)
            spans.items.append(("filetopic.produce_batch", p0, time.perf_counter()))
            written.append(n)
            return n

        FT.produce_batch = produce_spanned
        store = TR.StatusStore(spark)

    t_measure = time.perf_counter()
    setup_s = t_measure - t_start
    ticks: list[dict] = []
    latencies: list[float] = []
    failed = 0
    seen_ids = {r[4] for r in stream.records[: stream.next]}
    while True:
        clock = time.perf_counter() - t0
        due = stream.take_due(clock)
        topic.append(due)
        calls = seam.calls
        a = time.perf_counter()
        try:
            TOP.run_topology_via_topics(spark, base, now)
        except Exception as e:  # a failed tick leaves the topology unusable
            print(f"tick failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            failed += 1
            break
        b = time.perf_counter()
        tick = {"wall": b - a, "records": len(due), "seam": seam.calls - calls, "start": a, "end": b}
        for r in due:
            if r[4] not in seen_ids:  # resends are dropped, never routed
                seen_ids.add(r[4])
                latencies.append(b - t0 - r[0])
        if tracing:
            tick["spark"] = store.delta()
            tick["progress"] = listener.drain()
            tick["written"] = sum(written)
            written.clear()
        ticks.append(tick)
        log(t_start, f"tick {len(ticks)}: {len(due)} records, {tick['wall']:.2f} s")
        if b - t_measure >= seconds:
            break

    schedule = stream.summary()
    print(json.dumps({"seed": seed, "rate_rps": cfg["rate"], "schedule": schedule}), file=sys.stderr)
    correct = failed == 0 and all(t["seam"] >= 1 for t in ticks) and check(spark, base, now)
    log(t_start, f"checks: {'pass' if correct else 'FAIL'}")
    lat = latencies or [float("nan")]
    end_to_end = {
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_p95_s": (TR.percentile(lat, 0.95), "s"),
        "wall_s": (statistics.median(t["wall"] for t in ticks) if ticks else float("nan"), "s"),
        "setup_s": (setup_s, "s"),
    }
    out = {
        "attempted": len(ticks) + failed,
        "failed": failed,
        "correct": correct,
        "end_to_end": end_to_end,
        "per_layer": {},
    }
    if tracing:
        cores = spark.sparkContext.defaultParallelism
        out["per_layer"] = per_layer(ticks, spans, os.path.join(base, "ckpt"), lat, cores)
        out["trace"] = {"t0": t_measure, "spans": spans.items, "ticks": ticks, "schedule": schedule}
    return out


def per_layer(ticks: list[dict], spans, ckpt: str, latencies: list[float], cores: int) -> dict:
    names = TR.query_names(ckpt)
    med = statistics.median
    out: dict[str, tuple[float, str]] = {}
    walls = [t["wall"] for t in ticks]
    build = [
        sum(s[2] - s[1] for s in spans.between(t["start"], t["end"]) if s[0] != "filetopic.produce_batch")
        for t in ticks
    ]
    out["op.wall_s"] = (med(walls), "s")
    out["op.build_s"] = (med(build), "s")
    out["op.action_s"] = (med(w - b for w, b in zip(walls, build)), "s")
    for k, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("executor_run_s", "s"),
    ):
        out[f"spark.{k}"] = (med(t["spark"][k] for t in ticks), unit)
    out["spark.busy_frac"] = (
        med(t["spark"]["executor_run_s"] / (t["wall"] * cores) for t in ticks), "ratio"
    )

    per_q = {q: {p: [] for p in TR.PHASES} for q in QUERIES}
    queries, batches, outside, raw_reads, commit, rows_total, mem, dropped = ([] for _ in range(8))
    for t in ticks:
        ev = t["progress"]
        wall_ms = t["wall"] * 1000.0
        queries.append(len({e["id"] for e in ev}))
        batches.append(len(ev))
        outside.append(1.0 - sum(e["ms"].get("triggerExecution", 0) for e in ev) / wall_ms)
        for q in QUERIES:
            mine = [e for e in ev if names.get(e["id"]) == q]
            for p in TR.PHASES:
                per_q[q][p].append(sum(e["ms"].get(p, 0) for e in mine) / wall_ms)
        reads = sum(e["rows"] for e in ev if names.get(e["id"]) in RAW_READERS)
        raw_reads.append(reads / max(1, t["records"]))
        dd = [s for e in ev for s in e["state"] if s["op"] == DEDUP_OP]
        last = {}
        for e in ev:
            for s in e["state"]:
                if s["op"] == DEDUP_OP:
                    last[e["id"]] = s
        commit.append(sum(s["commit_ms"] for s in dd) / wall_ms)
        rows_total.append(sum(s["rows_total"] for s in last.values()))
        mem.append(sum(s["memory_bytes"] for s in last.values()))
        dropped.append(sum(s["dropped_late"] for s in dd))
    out["topology.queries_per_tick"] = (med(queries), "count")
    out["topology.batches_per_tick"] = (med(batches), "count")
    out["topology.outside_trigger_frac"] = (med(outside), "ratio")
    out["topology.raw_reads_per_record"] = (med(raw_reads), "ratio")
    q = max(1, len(walls) // 4)
    out["topology.tick_growth"] = (med(walls[-q:]) / med(walls[:q]), "ratio")
    for qn in QUERIES:
        for p in TR.PHASES:
            out[f"topology.{qn}.{p}_frac"] = (med(per_q[qn][p]), "ratio")
    out["state.dedup.rows_total"] = (rows_total[-1], "count")
    out["state.dedup.memory_bytes"] = (mem[-1], "bytes")
    out["state.dedup.commit_frac"] = (med(commit), "ratio")
    out["state.dedup.dropped_late"] = (sum(dropped), "count")
    prod = [
        sum(s[2] - s[1] for s in spans.between(t["start"], t["end"]) if s[0] == "filetopic.produce_batch")
        for t in ticks
    ]
    calls = [
        sum(1 for s in spans.between(t["start"], t["end"]) if s[0] == "filetopic.produce_batch")
        for t in ticks
    ]
    out["filetopic.produce_batch_frac"] = (med(p / w for p, w in zip(prod, walls)), "ratio")
    out["filetopic.produce_batch_calls"] = (med(calls), "count")
    out["filetopic.records_written"] = (sum(t["written"] for t in ticks), "count")
    out["trace.latency_p50_s"] = (med(latencies), "s")
    out["op.latency_samples"] = (len(latencies), "count")
    return out


# ------------------------------------------------------------- checks


def _ids(df) -> list[str]:
    return [r[0] for r in df.collect()]


def check(spark, base: str, now) -> bool:
    """Stream output against batch recomputation, outside the timed
    window: same accepted set as batch ``clean_reviews`` over the
    deduped raw topic (same language step), no duplicate ids in the
    cleaned topic, every produced review routed somewhere, and the
    finalized hourly stats equal to a batch aggregation."""
    raw = FT.decode_review_records(FT.read_file_topic_batch(spark, f"{base}/raw_reviews"))
    deduped = raw.dropDuplicates(["review_id", "date"])
    accepted, _rej, _iss = G.clean_reviews(with_lang_id(deduped, method="marker"), now)
    batch_ids = set(_ids(accepted.select("review_id")))

    def topic_ids(name: str):
        recs = FT.read_file_topic_batch(spark, f"{base}/{name}")
        return _ids(recs.select(F.get_json_object(F.col("value").cast("string"), "$.review_id")))

    cleaned = topic_ids("cleaned_reviews")
    issues = set(topic_ids("quality_issues"))
    produced = set(_ids(deduped.select("review_id")))
    ok = True

    def expect(cond: bool, what: str) -> None:
        nonlocal ok
        if not cond:
            ok = False
            print(f"check failed: {what}", file=sys.stderr)

    expect(len(cleaned) == len(set(cleaned)), "duplicate review_id in cleaned_reviews")
    expect(set(cleaned) == batch_ids, f"cleaned ids != batch clean_reviews ids "
           f"({len(set(cleaned))} vs {len(batch_ids)})")
    expect(produced <= set(cleaned) | issues, "a produced review was not routed")

    stats = spark.read.parquet(f"{base}/out/hourly_stats").collect()
    agg = (
        accepted.groupBy(F.window("date", "1 hour").alias("w"), "business_id")
        .agg(F.count("*").alias("n"), F.sum("data_quality_score").alias("q"))
        .select(F.col("w.end").alias("end"), F.col("w.start").alias("start"), "business_id", "n", "q")
        .collect()
    )
    want = {(r["start"], r["business_id"]): r for r in agg}
    # the stats query's final watermark: max event time it saw - 7 days
    wm = accepted.agg(F.max("date")).first()[0] - dt.timedelta(days=7)
    expect(len(stats) > 0, "no finalized hourly_stats window")
    for s in stats:
        w = want.get((s["window_start"], s["business_id"]))
        expect(
            w is not None and s["total"] == w["n"] == s["accepted"] and s["rejected"] == 0
            and abs(s["total_quality_score"] - w["q"]) <= 1e-9 * max(1.0, abs(w["q"])),
            f"hourly_stats row {s['window_start']} {s['business_id']} != batch aggregate",
        )
    must = [k for k, r in want.items() if r["end"] <= wm - dt.timedelta(hours=1)]
    emitted = {(s["window_start"], s["business_id"]) for s in stats}
    expect(all(k in emitted for k in must), "a window behind the watermark was not emitted")
    return ok

