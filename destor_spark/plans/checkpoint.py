"""Stage checkpointing with per-partition lineage + metrics.

destor analogue: the recipe + destor.stat pair — every backup persists
its fingerprint sequence and global counters so later jobs (restore,
delete, the next backup) resume from durable state
(/root/reference/src/recipe/recipestore.c:285-400,
/root/reference/src/destor.c:78-213).

Spark restatement: every pipeline stage writes its output as parquet
(write_barrier) plus a manifest json carrying
(run_id, stage, rows, per-partition row counts, wall seconds).  A
re-entrant run loads any stage whose manifest says complete instead of
recomputing — resume-equals-fresh is pinned by tests/test_resume.py.

A pipeline is declared once as a stage graph: `Stage(name, inputs, fn)`
in definition order, each input naming an earlier stage.  `run_graph`
starts every stage as soon as all its inputs have committed, one thread
per ready stage — destor's backup phases run concurrently the same way
(do_backup.c:32-41), so independent stages share the cluster's slots
instead of each leaving most of them idle.  Concurrency is the graph's
width; there is no knob.

write_barrier is the one barrier primitive, with two lifetimes:

  * durable — StageRunner: a stage's barrier plus its manifest under
    the caller's checkpoint dir, kept for resume;
  * ephemeral — Barriers: one fresh dir under the session base
    (SPARK_GRAFT_MAT_DIR if set), removed by close() or on leaving a
    `with` block.  run_pipeline, the stream micro-batch, the query
    surface and bench.py write every intermediate barrier through one.
"""

from __future__ import annotations

import atexit
import json
import os
import queue
import shutil
import tempfile
import threading
import time
from typing import Callable, NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession


def write_barrier(df: DataFrame, path: str) -> DataFrame:
    """Write df as parquet at path and return the file-backed re-read.

    A parquet round-trip instead of .persist(): Spark's in-memory
    columnar cache is pathological for this data shape — array<bigint>
    columns (128-long signatures, band keys) go through per-element
    generic encoders on BOTH the build and every read.  Measured at
    100k docs / local[32], signature table + one LSH consumer pass (min
    of 3 alternating repeats): persist 125 s, localCheckpoint 111 s,
    parquet round-trip 68 s.  Parquet's vectorized array codec wins on
    both sides, and the barrier semantics (destor's bounded
    inter-phase queues, do_backup.c:32-41) are identical.  On a
    multi-executor cluster the same holds with a shared root (set
    SPARK_GRAFT_MAT_DIR to a cluster-visible path).

    The re-read uses the schema just written, so it launches no
    schema-inference job: Spark reads a user schema as all-nullable,
    which is exactly what inference over the written files returns."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def _footer_stats(data_dir: str) -> tuple[dict[str, int], int, int]:
    """(rows per non-empty write partition, bytes, files) of a committed
    parquet dir, from the file footers alone — no Spark job, no data
    read.  Part files are named part-<partition>-<uuid>...; a partition
    that wrote several files sums them."""
    import pyarrow.parquet as pq

    part_rows: dict[str, int] = {}
    data_size = n_files = 0
    for dp, _, names in os.walk(data_dir):
        for name in names:
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            p = os.path.join(dp, name)
            data_size += os.path.getsize(p)
            n_files += 1
            rows = pq.read_metadata(p).num_rows
            if rows:
                pid = str(int(name.split("-")[1]))
                part_rows[pid] = part_rows.get(pid, 0) + rows
    return part_rows, data_size, n_files


_SESSION_ROOTS: dict[str, str] = {}


def _session_base(spark: SparkSession) -> str:
    """One dir per SparkSession for its ephemeral barriers, removed at
    interpreter exit."""
    app_id = spark.sparkContext.applicationId
    base = _SESSION_ROOTS.get(app_id)
    if base is None:
        base = tempfile.mkdtemp(
            prefix="destor_mat_", dir=os.environ.get("SPARK_GRAFT_MAT_DIR")
        )
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        _SESSION_ROOTS[app_id] = base
    return base


class Barriers:
    """Ephemeral barriers in one fresh dir under the session base.

    b(df, name) writes a barrier (write_barrier); b.rows(name) is its
    row count from the parquet footers, with no Spark job; close(), or
    leaving a `with` block, removes the dir.  Close only once every
    DataFrame b returned is fully consumed: they read from its files."""

    def __init__(self, spark: SparkSession):
        self.root = tempfile.mkdtemp(dir=_session_base(spark))

    def __call__(self, df: DataFrame, name: str) -> DataFrame:
        return write_barrier(df, os.path.join(self.root, name))

    def rows(self, name: str) -> int:
        return sum(_footer_stats(os.path.join(self.root, name))[0].values())

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def __enter__(self) -> Barriers:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class Stage(NamedTuple):
    """One node of a stage graph: fn(*inputs) -> DataFrame, called with
    the committed DataFrames of the stages named in `inputs`."""

    name: str
    inputs: tuple[str, ...]
    fn: Callable[..., DataFrame]
    # resume guard across code versions: a checkpoint written by an
    # older layout (e.g. a signatures stage from before content_sha
    # rode in the same scan) loads fine but breaks the FIRST downstream
    # select — recompute it instead of resuming
    required_cols: tuple[str, ...] = ()


class StageRunner:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        run_id: str,
        context_fp: str | None = None,
    ):
        """context_fp: fingerprint of everything OUTSIDE the checkpoint
        that determines a stage's output (DedupConfig values, pipeline
        flags).  When set, a completed stage resumes only if its
        manifest recorded the same fingerprint — a rerun against the
        same ckpt_dir with a different tau / band config / modality
        switch recomputes instead of silently returning results
        computed under the old parameters.  required_cols guards the
        column LAYOUT; this guards the PARAMETERS."""
        self.spark = spark
        self.base_dir = base_dir
        self.run_id = run_id
        self.context_fp = context_fp
        os.makedirs(base_dir, exist_ok=True)

    def _paths(self, stage: str) -> tuple[str, str]:
        d = os.path.join(self.base_dir, stage)
        return d, d + ".manifest.json"

    def completed(self, stage: str) -> bool:
        _, mpath = self._paths(stage)
        if not os.path.exists(mpath):
            return False
        try:
            with open(mpath) as f:
                m = json.load(f)
        except (json.JSONDecodeError, OSError):
            # a manifest truncated by a crash mid-write (pre-atomic
            # layouts) marks the stage incomplete, not the run broken
            return False
        if m.get("status") != "complete":
            return False
        if self.context_fp is not None and m.get("context_fp") != self.context_fp:
            # stage was computed under different parameters (or a
            # pre-fingerprint layout) — recompute rather than resume
            return False
        return True

    def run_graph(self, stages: list[Stage]) -> dict[str, DataFrame]:
        """Run a stage graph; returns every stage's committed DataFrame.

        Each stage starts, on its own thread, once all its inputs have
        committed.  If a stage fails, no further stage starts; the
        error is re-raised only after every in-flight sibling has
        finished, so no Spark job is still writing under base_dir when
        the caller sees it.  metrics.jsonl lines follow definition
        order whatever order the stages finish in."""
        seen: set[str] = set()
        for st in stages:
            missing = [i for i in st.inputs if i not in seen]
            if st.name in seen or missing:
                raise ValueError(
                    f"stage {st.name!r}: duplicate name or inputs not "
                    f"declared before it: {missing}"
                )
            seen.add(st.name)

        out: dict[str, DataFrame] = {}
        manifests: dict[str, dict | None] = {}
        waiting = list(stages)
        done: queue.Queue = queue.Queue()
        running = 0
        error: BaseException | None = None
        logged = 0
        while True:
            ready = [] if error else [
                st for st in waiting if all(i in out for i in st.inputs)
            ]
            for st in ready:
                waiting.remove(st)
                args = [out[i] for i in st.inputs]
                threading.Thread(
                    target=inheritable_thread_target(self.spark)(self._worker),
                    args=(st, args, done),
                    name=f"stage:{st.name}",
                    daemon=True,
                ).start()
                running += 1
            if not running:
                break
            name, res, exc = done.get()
            running -= 1
            if exc is not None:
                error = error or exc
                continue
            out[name], manifests[name] = res
            while logged < len(stages) and stages[logged].name in manifests:
                m = manifests[stages[logged].name]
                if m is not None:  # resumed stages log nothing
                    self._append_metrics(m)
                logged += 1
        if error is not None:
            for st in stages[logged:]:
                if manifests.get(st.name) is not None:
                    self._append_metrics(manifests[st.name])
            raise error
        return out

    def _worker(self, st: Stage, args: list, done: queue.Queue) -> None:
        try:
            done.put((st.name, self._stage(st, args), None))
        except BaseException as e:  # noqa: BLE001 - re-raised by run_graph
            done.put((st.name, None, e))

    def _stage(self, st: Stage, args: list) -> tuple[DataFrame, dict | None]:
        """Resume or compute + commit one stage; (DataFrame, manifest),
        manifest None when resumed."""
        data_dir, mpath = self._paths(st.name)
        if self.completed(st.name):
            out = self.spark.read.parquet(data_dir)
            if set(st.required_cols) <= set(out.columns):
                return out, None
        t0 = time.time()
        df = st.fn(*args)
        # invalidate BEFORE the data overwrite: mode('overwrite')
        # deletes the old parquet first, so a crash mid-recompute must
        # not leave a stale 'complete' manifest (written under an
        # earlier config) pointing at destroyed/partial data — a later
        # run under that earlier config would resume from garbage.
        # Atomic replace, same pattern as the commit below.
        if os.path.exists(mpath):
            tmp = mpath + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {"status": "recomputing", "run_id": self.run_id}, f
                )
            os.replace(tmp, mpath)
        out = write_barrier(df, data_dir)
        wall = time.time() - t0
        # no Spark job after the write: counts come from the parquet
        # footers, so the manifest costs no rescan of the stage output.
        # jcr restore-report analogue (/root/reference/src/do_restore.c:
        # 243-277): data size, throughput MB/s, and the speed factor —
        # destor normalizes restored bytes by containers READ; the
        # parquet restatement normalizes stage bytes by files written
        # (the unit a downstream stage must open), same packing-density
        # meaning.
        part_rows, data_size, n_files = _footer_stats(data_dir)
        manifest = {
            "status": "complete",
            "run_id": self.run_id,
            "context_fp": self.context_fp,
            "stage": st.name,
            "rows": int(sum(part_rows.values())),
            "n_partitions": len(part_rows),
            "partition_rows": part_rows,
            "wall_s": round(wall, 3),
            "data_size": data_size,
            "n_files": n_files,
            "throughput_mb_s": round(data_size / (1024 * 1024 * wall), 3)
            if wall > 0
            else None,
            "speed_factor": round(data_size / (1024 * 1024 * n_files), 4)
            if n_files
            else None,
        }
        # atomic: a crash mid-dump must leave either no manifest or the
        # previous complete one, never a truncated file — the manifest
        # IS the stage's commit record
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, mpath)
        return out, manifest

    def _append_metrics(self, manifest: dict) -> None:
        """jcr-equivalent metrics log (/root/reference/src/jcr.h:19-61)."""
        with open(os.path.join(self.base_dir, "metrics.jsonl"), "a") as f:
            slim = {k: v for k, v in manifest.items() if k != "partition_rows"}
            f.write(json.dumps(slim) + "\n")

    def metrics(self) -> list[dict]:
        p = os.path.join(self.base_dir, "metrics.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]
