#!/usr/bin/env python3
"""Reproductions for the known defects listed in perfbench/README.md.

    python3 perfbench/repro.py <defect> [sf_dir]

Defects: language_seam, empty_cleaned_topic, future_watermark, kcore.
Each prints REPRODUCED or NOT REPRODUCED with the evidence, and exits 0
when the defect reproduces (1 when it does not). ``kcore`` reads the
fixture tables from ``sf_dir``; without one it generates sf0.1 tables
from seed 0 with the benchmark's generator.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from datetime import timedelta

import run  # scratch isolation, program paths and shutdown

import gen


def _session(work: str):
    extra = run._isolate(work)
    sys.path[:0] = [run.HERE, run.ROOT]
    from yelp_streaming_etl_pipeline_spark.session import get_spark

    return get_spark("perfbench-repro", master=f"local[{run.CORES}]", extra_conf=extra)


def _rows(spark, work: str, n_docs: int = 500) -> list[dict]:
    import pyarrow.parquet as pq
    from stream import review_rows

    fx = os.path.join(work, "fixtures")
    os.makedirs(fx, exist_ok=True)
    pq.write_table(gen.documents(0, n_docs), os.path.join(fx, "documents.parquet"))
    return review_rows(spark, fx)


def _records(rows, ids_from: int, n: int, keep_dates: bool = False) -> list[tuple]:
    out = []
    for k in range(n):
        row = rows[(ids_from + k) % len(rows)]
        ts = gen.EPOCH + timedelta(seconds=ids_from + k)
        rid = f"{row['review_id']}-x{ids_from + k}"
        key, val = gen.encode_review(row, rid, ts)
        if keep_dates:  # the synthetic source's own event time
            d = json.loads(val)
            d["date"] = row["date"]
            val = json.dumps(d).encode()
        out.append((0.0, key, val, ts, rid))
    return out


def language_seam(spark, work: str) -> bool:
    from pyspark.sql import functions as F
    from yelp_streaming_etl_pipeline_spark.streaming import topology as TOP

    base = os.path.join(work, "t")
    gen.write_epoch(os.path.join(base, "raw_reviews"), 0, _records(_rows(spark, work), 0, 50), 0)
    try:
        TOP.run_topology_via_topics(spark, base, F.current_timestamp())
    except Exception as e:
        msg = str(e).splitlines()[0][:300]
        print(f"run_topology_via_topics on RAW_REVIEW input: {type(e).__name__}: {msg}")
        return "language" in str(e)
    print("run_topology_via_topics ran without language columns")
    return False


def empty_cleaned_topic(spark, work: str) -> bool:
    from pyspark.sql import functions as F
    from stream import LanguageSeam
    from yelp_streaming_etl_pipeline_spark.streaming import topology as TOP

    LanguageSeam()
    base = os.path.join(work, "t")
    os.makedirs(os.path.join(base, "raw_reviews", "data"))  # topic exists, no record yet
    try:
        counts = TOP.run_topology_via_topics(spark, base, F.current_timestamp())
    except Exception as e:
        msg = str(e).splitlines()[0][:300]
        print(f"tick before any accepted row: {type(e).__name__}: {msg}")
        return "PATH_NOT_FOUND" in str(e) and "cleaned_reviews" in str(e)
    print(f"tick before any accepted row succeeded: {counts}")
    return False


def future_watermark(spark, work: str) -> bool:
    from pyspark.sql import functions as F
    from stream import LanguageSeam
    from yelp_streaming_etl_pipeline_spark.streaming import topology as TOP

    LanguageSeam()
    rows = _rows(spark, work)
    base = os.path.join(work, "t")
    topic = os.path.join(base, "raw_reviews")
    now = F.to_timestamp(F.lit(gen.NOW_LITERAL))
    # epoch 0: the synthetic rows with their own dates, one of them 2027
    first = _records(rows, 0, 200, keep_dates=True)
    gen.write_epoch(topic, 0, first, 0)
    c0 = TOP.run_topology_via_topics(spark, base, now)
    gen.write_epoch(topic, 1, _records(rows, 200, 200, keep_dates=True), 200)
    c1 = TOP.run_topology_via_topics(spark, base, now)
    # every review lands in cleaned_reviews or quality_issues (or both)
    routed = c1["cleaned_reviews"] + c1["quality_issues"] - c0["cleaned_reviews"] - c0["quality_issues"]
    print(f"after epoch 0: {c0}; after epoch 1 (200 new reviews): {c1}; rows routed: {routed}")
    return routed < 200


def kcore(spark, work: str, sf_dir: str | None) -> bool:
    import __spark_entry__ as E

    if sf_dir is None:
        sf_dir = os.path.join(work, "sf0.1")
        gen.write_fixtures(0, "0.1", sf_dir)
    try:
        n = E.queries()["kcore_maintenance_stream"](spark, sf_dir).count()
    except Exception as e:
        msg = str(e).splitlines()[0][:300]
        print(f"kcore_maintenance_stream at {sf_dir}: {type(e).__name__}: {msg}")
        return "converge" in str(e)
    print(f"kcore_maintenance_stream returned {n} rows")
    return False


def main() -> int:
    name = sys.argv[1] if len(sys.argv) > 1 else ""
    cases = {"language_seam", "empty_cleaned_topic", "future_watermark", "kcore"}
    if name not in cases:
        print(__doc__, file=sys.stderr)
        return 2
    work = os.path.join(run.ROOT, ".perfbench_work", f"repro-{name}-p{os.getpid()}")
    os.makedirs(work)
    spark = _session(work)
    try:
        if name == "kcore":
            ok = kcore(spark, work, sys.argv[2] if len(sys.argv) > 2 else None)
        else:
            ok = globals()[name](spark, work)
    finally:
        run._stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"{name}: {'REPRODUCED' if ok else 'NOT REPRODUCED'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
