"""Per-layer spans read from Spark's status store, from outside the
program.

A span tags every Spark job it triggers with its own job group
(`sc.setJobGroup`), runs the layer's public function, forces the
layer's output, and then immediately reads the group's stages back
from the status store.  Reading per span matters: the store keeps only
the most recent `spark.ui.retainedStages` stages, so a read at the end
of a long job would miss the early layers.  Stages that AQE or stage
reuse skipped carry no task metrics and are left out.

Streaming jobs run on the query's own thread, which sets the query's
run id as the job group; `StreamSpanListener` collects those run ids
and the per-trigger `durationMs` of every progress event.
"""

from __future__ import annotations

import itertools
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0

_SPAN_IDS = itertools.count()


def _opt(o):
    return o.get() if o.isDefined() else None


def jobs_by_group(sc, groups: set[str]) -> list[tuple[int, list[int]]]:
    """(job id, stage ids) of every retained job whose group is in
    `groups`."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if _opt(j.jobGroup()) in groups:
            sids = j.stageIds()
            out.append((j.jobId(), [sids.apply(k) for k in range(sids.size())]))
    return out


def stage_totals(sc, stage_ids) -> dict:
    """Sums of the task metrics of the given stages' last attempts.

    task_skew is max/median task run time of the stage that ran
    longest in total (the span's dominant stage); 1.0 when no stage
    had two or more tasks."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    t = {
        "run_ms": 0,
        "cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_write": 0,
        "fetch_wait_ms": 0,
        "spill": 0,
        "failed_tasks": 0,
        "rows_out": 0,
        "stages": 0,
    }
    dominant = (-1, None, None)  # (run_ms, stage id, attempt)
    for sid in sorted(set(stage_ids)):
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - py4j error: stage has no attempt
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        t["stages"] += 1
        t["run_ms"] += sd.executorRunTime()
        t["cpu_ns"] += sd.executorCpuTime()
        t["gc_ms"] += sd.jvmGcTime()
        t["shuffle_write"] += sd.shuffleWriteBytes()
        t["fetch_wait_ms"] += sd.shuffleFetchWaitTime()
        t["spill"] += sd.diskBytesSpilled()
        t["failed_tasks"] += sd.numFailedTasks()
        t["rows_out"] += sd.outputRecords()
        if sd.numTasks() >= 2 and sd.executorRunTime() > dominant[0]:
            dominant = (sd.executorRunTime(), sid, sd.attemptId())
    t["task_skew"] = 1.0
    if dominant[1] is not None:
        dist = _opt(store.taskSummary(dominant[1], dominant[2], q))
        if dist is not None:
            rt = dist.executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
            t["task_skew"] = mx / med if med > 0 else 1.0
    return t


class Span:
    """`with Span(sc, "lsh", slots) as s: ...` then `s.read()`: every
    job started inside the block is billed to the span."""

    def __init__(self, sc, layer: str, slots: int):
        self.sc = sc
        self.layer = layer
        self.slots = slots
        self.group = f"perfbench:{layer}:{next(_SPAN_IDS)}"
        self.metrics: dict = {}
        self.totals: dict = {}
        self.n_jobs = 0

    def __enter__(self) -> "Span":
        self.sc.setJobGroup(self.group, self.layer)
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def read(self, extra_groups=()) -> dict:
        """Bill the span's jobs (plus jobs of `extra_groups`, e.g. a
        streaming query's run id) and fill `metrics`.  Call right after
        the span, before later jobs can evict its stages."""
        wall = self.wall
        jobs = jobs_by_group(self.sc, {self.group, *extra_groups})
        self.n_jobs = len(jobs)
        t = stage_totals(self.sc, [s for _, sids in jobs for s in sids])
        self.totals = t
        self.metrics = {
            "wall_s": wall,
            "util": t["run_ms"] / 1000.0 / (wall * self.slots) if wall else 0.0,
            "cpu_s": t["cpu_ns"] / 1e9,
            "gc_s": t["gc_ms"] / 1000.0,
            "shuffle_write_mb": t["shuffle_write"] / MB,
            "spill_mb": t["spill"] / MB,
            "task_skew": t["task_skew"],
            "failed_tasks": t["failed_tasks"],
            "rows_out": t["rows_out"],
        }
        return self.metrics


class StreamSpanListener(StreamingQueryListener):
    """Collects each trigger's durationMs and, right after each
    trigger, a caller-supplied snapshot (store sizes)."""

    def __init__(self, snapshot=None):
        self.snapshot = snapshot
        self.progress: list[dict] = []
        self.run_ids: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.run_ids.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "snapshot": self.snapshot() if self.snapshot else None,
        }
        with self._lock:
            self.run_ids.add(str(p.runId))
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, n_batches: int, timeout: float = 30.0) -> list[dict]:
        """Progress events arrive on the listener bus after the query
        returns; wait until n_batches data-carrying triggers are in."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                done = [r for r in self.progress if r["rows"] > 0]
            if len(done) >= n_batches:
                return sorted(done, key=lambda r: r["batch_id"])
            time.sleep(0.05)
        raise TimeoutError(
            f"saw {len(done)} of {n_batches} stream progress events"
        )

