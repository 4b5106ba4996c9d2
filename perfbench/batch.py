"""Batch-suite workload: a fixed list of ``__spark_entry__.queries()``
entries over seeded fixtures, each built and then forced with the noop
writer, pass after pass for the measured window.

The cold first pass and the warm-up passes after it belong to set-up.
The cold pass also collects every entry's rows, which are compared once
per run against the entry's DuckDB twin from ``oracle_sql()`` after the
measured window.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time

import gen
import tracing as TR
from tracing import log

# The review gauntlet (pure action time) and a near-dup maintenance
# replay, which runs most of its Spark jobs at DataFrame build time.
ENTRIES = (
    "clean_reviews",
    "quality_issues",
    "review_stats",
    "neardup_maintenance_stream",
)
TABLES = ("documents", "embeddings", "customer", "orders", "lineitem")
# Uncounted noop passes after the cold pass. Entry walls keep falling
# for the first few passes while the JVM compiles the planner's hot
# paths: a pass right after the cold one ran about 50% slower than the
# fourth, with the JIT compiler threads busy for more than the pass's
# wall time. Measuring from the fourth pass on keeps the run short
# enough for the run budget; later passes are a few percent faster
# still, and each entry reports its median over the measured passes.
WARM_PASSES = 2


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(spark, work: str, seed: int, seconds: float, tracing: bool, cfg: dict, t_start: float) -> dict:
    import __spark_entry__ as E

    fixtures = os.path.join(work, "fixtures")
    counts = gen.write_fixtures(seed, cfg["sf"], fixtures)
    print(f"fixtures sf{cfg['sf']} seed {seed}: {counts}", file=sys.stderr)
    qs = E.queries()

    # cold pass (set-up): build, collect rows for the oracle check
    results: dict[str, tuple] = {}
    failed: list[str] = []
    for name in ENTRIES:
        try:
            df = qs[name](spark, fixtures)
            results[name] = (df.columns, df.collect())
        except Exception as e:
            print(f"{name} failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            failed.append(name)
        spark.catalog.clearCache()
        log(t_start, f"cold {name}")
    for i in range(WARM_PASSES):
        for name in ENTRIES:
            if name not in failed:
                _force(qs[name](spark, fixtures))
                spark.catalog.clearCache()
        log(t_start, f"warm-up pass {i + 1}")

    store = TR.StatusStore(spark) if tracing else None
    spans = TR.Spans()
    t0 = time.perf_counter()
    setup_s = t0 - t_start
    timing: dict[str, list[dict]] = {n: [] for n in ENTRIES if n not in failed}
    passes = 0
    while True:
        for name in timing:
            rec: dict = {}
            a = time.perf_counter()
            df = qs[name](spark, fixtures)
            b = time.perf_counter()
            rec["build"] = b - a
            if tracing:
                rec["spark_build"] = store.delta()
                b = time.perf_counter()
            _force(df)
            c = time.perf_counter()
            if tracing:
                rec["spark_action"] = store.delta()
            spark.catalog.clearCache()
            rec["action"] = c - b
            rec["wall"] = rec["build"] + rec["action"]
            if tracing:
                spans.items += [(f"{name}.build", a, a + rec["build"]), (f"{name}.action", b, c)]
            timing[name].append(rec)
        passes += 1
        log(t_start, f"pass {passes}: {sum(timing[n][-1]['wall'] for n in timing):.2f} s "
            + " ".join(f"{n}={timing[n][-1]['wall']:.2f}" for n in timing))
        if time.perf_counter() - t0 >= seconds:
            break

    correct = not failed and check_oracles(fixtures, results, work, t_start)
    med = statistics.median
    walls = {n: med(r["wall"] for r in recs) for n, recs in timing.items()}
    suite = sum(walls.values())
    entry_walls = sorted(walls.values())
    end_to_end = {
        "latency_p50_s": (med(entry_walls), "s"),
        "latency_p95_s": (TR.percentile(entry_walls, 0.95), "s"),
        "wall_s": (suite, "s"),
        "setup_s": (setup_s, "s"),
    }
    out = {
        "attempted": passes * len(timing) + len(failed),
        "failed": len(failed),
        "correct": correct,
        "end_to_end": end_to_end,
        "per_layer": {},
    }
    if tracing:
        out["per_layer"] = per_layer(timing, walls, suite, spark.sparkContext.defaultParallelism)
        out["trace"] = {"t0": t0, "spans": spans.items, "entries": timing}
    return out


def per_layer(timing: dict[str, list[dict]], walls: dict[str, float], suite: float, cores: int) -> dict:
    med = statistics.median
    recs = [r for rs in timing.values() for r in rs]
    out: dict[str, tuple[float, str]] = {
        "op.wall_s": (med(r["wall"] for r in recs), "s"),
        "op.build_s": (med(r["build"] for r in recs), "s"),
        "op.action_s": (med(r["action"] for r in recs), "s"),
    }

    def tot(r, k):
        return r["spark_build"][k] + r["spark_action"][k]

    for k, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("executor_run_s", "s"),
    ):
        out[f"spark.{k}"] = (med(tot(r, k) for r in recs), unit)
    out["spark.busy_frac"] = (med(tot(r, "executor_run_s") / (r["wall"] * cores) for r in recs), "ratio")
    out["spark.jobs_build"] = (med(r["spark_build"]["jobs"] for r in recs), "count")
    build_total = 0.0
    jobs_build_total = 0
    for name, rs in timing.items():
        build = med(r["build"] for r in rs)
        build_total += build
        jobs_build = med(r["spark_build"]["jobs"] for r in rs)
        jobs_build_total += jobs_build
        out[f"{name}.wall_frac"] = (walls[name] / suite, "ratio")
        out[f"{name}.build_frac"] = (build / walls[name], "ratio")
        out[f"{name}.jobs_build"] = (jobs_build, "count")
        out[f"{name}.jobs_action"] = (med(r["spark_action"]["jobs"] for r in rs), "count")
    out["batch.build_frac"] = (build_total / suite, "ratio")
    out["batch.jobs_build"] = (jobs_build_total, "count")
    out["trace.latency_p50_s"] = (med(walls.values()), "s")
    out["op.latency_samples"] = (len(walls), "count")
    return out


# ------------------------------------------------------------- oracle


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def compare(s_cols, s_rows, d_cols, d_rows) -> str | None:
    """Order-insensitive exact comparison on sorted column names, the
    same rule as the repository's oracle gate."""
    if sorted(s_cols) != sorted(d_cols):
        return f"columns differ: {sorted(s_cols)} vs {sorted(d_cols)}"
    cols = sorted(s_cols)
    si = [s_cols.index(c) for c in cols]
    di = [d_cols.index(c) for c in cols]
    a = sorted((tuple(_norm(r[i]) for i in si) for r in s_rows), key=_key)
    b = sorted((tuple(_norm(r[i]) for i in di) for r in d_rows), key=_key)
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    bad = sum(1 for x, y in zip(a, b) if x != y)
    return f"{bad}/{len(a)} rows differ" if bad else None


def check_oracles(fixtures: str, results: dict[str, tuple], work: str, t_start: float) -> bool:
    import duckdb

    import __spark_entry__ as E

    oracles = E.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{work}/tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{t}.parquet'")
    ok = True
    for name, (cols, rows) in results.items():
        res = con.execute(oracles[name])
        err = compare(cols, rows, [d[0] for d in res.description], res.fetchall())
        if err:
            ok = False
            print(f"oracle mismatch {name}: {err}", file=sys.stderr)
        log(t_start, f"oracle {name}: {err or 'match'}")
    con.close()
    return ok
