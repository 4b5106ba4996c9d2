"""Tracing for the per-layer run: a streaming-query listener, Spark
status-store deltas around each operation, spans around calls into the
program's public functions, and the peak RSS of the process tree.

Peak RSS is cheap and read in every run; everything else is switched
on by ``--trace 1`` so the end-to-end numbers are taken without it.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener


def log(t_start: float, msg: str) -> None:
    """Progress line on stderr, stamped with seconds since process start."""
    print(f"[{time.perf_counter() - t_start:7.2f}s] {msg}", file=sys.stderr, flush=True)


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "getBatch", "latestOffset")


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event's phase times and state metrics."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.events.append(
            {
                "id": str(p.id),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs or {}),
                "state": [
                    {
                        "rows_total": s.numRowsTotal,
                        "memory_bytes": s.memoryUsedBytes,
                        "commit_ms": s.commitTimeMs,
                        "dropped_late": s.numRowsDroppedByWatermark,
                        "op": s.operatorName,
                    }
                    for s in p.stateOperators
                ],
            }
        )

    def drain(self) -> list[dict]:
        out, self.events = self.events, []
        return out


class Spans:
    """In-memory spans around calls into the program; written out once
    at the end of the run."""

    def __init__(self) -> None:
        self.items: list[tuple[str, float, float]] = []

    def wrap(self, module, name: str) -> None:
        """Replace ``module.name`` with a copy that records a span."""
        fn = getattr(module, name)
        label = f"{module.__name__.rsplit('.', 1)[-1]}.{name}"
        items = self.items

        def spanned(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                items.append((label, t0, time.perf_counter()))

        setattr(module, name, spanned)

    def between(self, t0: float, t1: float) -> list[tuple[str, float, float]]:
        return [s for s in self.items if s[1] >= t0 and s[2] <= t1]


class StatusStore:
    """Totals of the stages and jobs completed since the last call,
    read from the live AppStatusStore (no UI needed). The store lists
    stages and jobs newest first, so each call stops at the first id it
    has already seen."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._empty = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._seen_stage = max(self._new(self._stages(), "stageId", -1), default=-1)
        self._seen_job = max(self._new(self._jobs(), "jobId", -1), default=-1)

    def _stages(self):
        # all stages, without task details, summaries or quantiles
        return self._store.stageList(self._empty, False, False, self._no_quantiles, self._empty)

    def _jobs(self):
        return self._store.jobsList(self._empty)

    @staticmethod
    def _new(seq, id_attr: str, seen: int, keep: list | None = None) -> list[int]:
        ids = []
        it = seq.iterator()
        while it.hasNext():
            x = it.next()
            i = getattr(x, id_attr)()
            if i <= seen:
                break
            ids.append(i)
            if keep is not None:
                keep.append(x)
        return ids

    def delta(self) -> dict:
        self._bus.waitUntilEmpty(30000)
        stages: list = []
        sids = self._new(self._stages(), "stageId", self._seen_stage, stages)
        self._seen_stage = max(sids, default=self._seen_stage)
        jids = self._new(self._jobs(), "jobId", self._seen_job)
        self._seen_job = max(jids, default=self._seen_job)
        return {
            "jobs": len(jids),
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in stages),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages),
            "executor_run_s": sum(s.executorRunTime() for s in stages) / 1000.0,
        }


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [root], [root]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process and every
    descendant, i.e. the Python driver plus the JVM it launched."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def query_names(ckpt_root: str) -> dict[str, str]:
    """Streaming query id -> checkpoint name (cleaned/issues/stats);
    the topology starts its queries unnamed, but each checkpoint keeps
    the query id."""
    out = {}
    for name in sorted(os.listdir(ckpt_root)) if os.path.isdir(ckpt_root) else []:
        meta = os.path.join(ckpt_root, name, "metadata")
        if os.path.exists(meta):
            with open(meta) as f:
                out[json.loads(f.readline())["id"]] = name
    return out
