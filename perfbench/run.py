#!/usr/bin/env python3
"""destor_spark benchmark: one command, oracle-checked workloads.

    python3 perfbench/run.py --workload batch_dupheavy --seed 1 \
        --seconds 28 --trace 0

Run from the root of a checkout.  It generates the workload's inputs
from --seed (cached with their pandas-oracle answers under
.perfbench/cache), builds a local[3] session, times the program's
public entry points (`run_checkpointed` as `cli.py` calls it, or
`run_incremental_dedup`), checks every job's output against the
oracle, and prints one JSON object as the last line of stdout.

--trace 0 reports the end-to-end metrics; --trace 1 instead runs the
layers one by one with a status-store span around each and reports
the per-layer metrics.  See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# one core fewer than the 4-core host has: the driver JVM's scheduler,
# GC and JIT threads, the Python driver and the memory sampler get a
# core of their own instead of turning a task slot into a straggler
# whenever a tenant steals a vCPU
SLOTS = 3
MASTER = f"local[{SLOTS}]"
# set-ups per timed run; setup_s is their median
N_SETUPS = 3


def configure_env(work: str) -> None:
    """Keep every byte the run writes inside the checkout, and let the
    Python workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_MAT_DIR"] = os.path.join(work, "mat")
    os.makedirs(os.environ["SPARK_GRAFT_MAT_DIR"], exist_ok=True)
    # -XX:-UsePerfData: the JVM's perf counters go to /tmp/hsperfdata_*
    # whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    # a 2 GB pinned driver heap is ample at these sizes and keeps the
    # benchmark a small neighbour on a shared host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = tmp


class Session:
    """The SparkSession plus the JVM that backs it; `close` stops both
    and waits for the JVM (and with it the Python workers) to exit."""

    def __init__(self) -> None:
        self.spark = None

    def build(self, inp) -> float:
        """One set-up: session build (worker prewarm included) plus the
        first scan of the input.  Returns its wall seconds."""
        t0 = time.perf_counter()
        from destor_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        self.spark = build_session(
            app="perfbench", master=MASTER,
            extra={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.read_input(inp).count()
        return time.perf_counter() - t0

    def settle(self) -> None:
        """Untimed, before every compared job: a full GC in the driver
        JVM and in this process, so that no job pays for collecting the
        garbage of the job before it."""
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def read_input(self, inp):
        if inp.workload.kind == "batch":
            return self.spark.read.parquet(inp.path)
        from destor_spark.streaming.dedup_stream import WEB_PAGES_DDL

        return self.spark.read.schema(WEB_PAGES_DDL).parquet(inp.path)

    def close(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        except Exception:  # noqa: BLE001 - py4j link broken by a kill mid-call
            traceback.print_exc()
        if gw is None:
            return
        try:
            gw.shutdown()
        finally:
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


class Jobs:
    """Runs checked jobs of one workload and tallies the failures."""

    def __init__(self, sess: Session, inp, cfg, work: str):
        self.sess, self.inp, self.cfg, self.work = sess, inp, cfg, work
        self.attempted = 0
        self.errors: list[str] = []

    def attempt(self, what: str, fn):
        """fn() as one attempted job; a raise (a failed oracle check
        included) counts as failed and returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - a failed job is a result
            traceback.print_exc()
            self.errors.append(f"{what}: {type(e).__name__}: {e}")
            print(f"perfbench: {self.errors[-1]}", file=sys.stderr)
            return None

    def untraced(self, warmup: bool = False) -> dict:
        """One checked job through the program's public entry point, in
        a fresh checkpoint or state dir.  The stream's warm-up runs a
        single small file (its pairs are still checked)."""
        from perfbench import jobs

        inp, cfg, spark = self.inp, self.cfg, self.sess.spark
        d = jobs.fresh_dir(os.path.join(self.work, f"job{self.attempted}"))
        try:
            if inp.workload.kind == "batch":
                r = jobs.batch_job(spark, self.sess.read_input(inp), inp, cfg, d)
                r["recall"] = jobs.check_batch(r["assign"], inp)
                r["p50"] = r["wall"]  # a batch job is one batch
                r["ckpt"] = jobs.checkpoint_manifests(d)
            else:
                path, n = ((inp.warmup_path, 1) if warmup
                           else (inp.path, inp.workload.n_files))
                with jobs.StreamListener(spark) as lis:
                    r = jobs.stream_job(spark, path, n, cfg, d, lis)
                r["recall"], r["pairs"] = jobs.check_stream(d, inp, cfg.tau)
                r["p50"] = statistics.median(r["trigger_s"])
            return r
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def result(self, **kw) -> dict:
        return {"attempted": self.attempted, "failed": len(self.errors),
                "errors": self.errors, **kw}


def timed_run(sess: Session, inp, cfg, work: str, seconds: float) -> dict:
    from perfbench.host import MemSampler

    setups = [sess.build(inp) for _ in range(N_SETUPS)]
    js = Jobs(sess, inp, cfg, work)
    # The first job in a JVM runs ~1.5-2x slower while the JIT compiles
    # Spark's planner and codegen paths, and by how much swings with
    # host load (CPU the compiler threads need); it is checked, not
    # timed.  Then whole jobs that fit in the window, at least one.
    warm = js.attempt("warm-up job", lambda: js.untraced(warmup=True))
    done, timed, last = [], 0, 0.0
    with MemSampler() as mem:
        t_start = time.perf_counter()
        while timed == 0 or time.perf_counter() - t_start + last <= seconds:
            timed += 1
            sess.settle()
            t0 = time.perf_counter()
            r = js.attempt(f"job {timed}", js.untraced)
            last = time.perf_counter() - t0
            if r is not None:
                done.append(r)

    def med(key):
        return statistics.median([r[key] for r in done]) if done else 0.0

    metrics = {
        "docs_per_s": inp.n_docs / med("wall") if done else 0.0,
        "microbatch_p50_s": med("p50"),
        "setup_s": statistics.median(setups),
        "peak_rss_mb": mem.peak,
        "state_mb": med("state_mb"),
        "pair_recall": med("recall"),
    }
    return js.result(metrics=metrics, setups=setups,
                     walls=[r["wall"] for r in done],
                     warmup_s=warm["wall"] if warm else None,
                     mem_peak=mem.peak_detail)


def _traced_batch(js: Jobs, ref: dict | None, m: dict) -> float:
    from perfbench import jobs

    d = jobs.fresh_dir(os.path.join(js.work, "traced"))
    try:
        tr = jobs.traced_batch(js.sess.spark, js.sess.read_input(js.inp),
                               js.inp, js.cfg, d, SLOTS)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    sp = tr["spans"]
    _span_metrics(m, sp.values())
    m.update(tr["counts"])
    m["simhash.pairs"] = sp["simhash"].metrics["rows_out"]
    if m["lsh.candidates"]:
        m["verify.yield"] = sp["verify"].metrics["rows_out"] / m["lsh.candidates"]
    if m["substring.candidates"]:
        m["substring.yield"] = (sp["substring"].metrics["rows_out"]
                                / m["substring.candidates"])
    jobs.check_batch(tr["assign"], js.inp)
    if ref is None:
        raise jobs.CheckFailed("no reference job to guard drift against")
    m["checkpoint.mb"], m["checkpoint.files"] = ref["ckpt"]
    a = tr["assign"].sort_values("url").reset_index(drop=True)
    b = ref["assign"].sort_values("url").reset_index(drop=True)
    if not a.equals(b):
        raise jobs.CheckFailed(
            "drift: the traced layer sequence disagrees with run_checkpointed")
    return tr["wall"]


def _traced_stream(js: Jobs, m: dict) -> float:
    from perfbench import jobs, spans
    from perfbench.host import tree_mb
    from perfbench.metrics import STREAM_DURATIONS, STREAM_STORES

    spark, inp = js.sess.spark, js.inp
    d = jobs.fresh_dir(os.path.join(js.work, "traced"))

    def stores():
        return {k: tree_mb(os.path.join(d, sub))
                for k, sub in STREAM_STORES.items()}

    try:
        with jobs.StreamListener(spark, stores) as lis:
            with spans.Span(spark.sparkContext, "stream", SLOTS) as sp:
                r = jobs.stream_job(spark, inp.path, inp.workload.n_files,
                                    js.cfg, d, lis)
            sp.read(extra_groups=lis.run_ids)
        _span_metrics(m, [sp])
        for b, rec in enumerate(r["progress"]):
            for k, key in STREAM_DURATIONS.items():
                m[f"stream.{k}.{b}"] = rec["duration_ms"].get(key, 0) / 1000.0
            for k, mb in rec["snapshot"].items():
                m[f"stream.{k}_mb.{b}"] = mb
        _, m["stream.pairs"] = jobs.check_stream(d, inp, js.cfg.tau)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return r["wall"]


def _span_metrics(m: dict, spans_) -> None:
    for sp in spans_:
        for k, v in sp.metrics.items():
            m[f"{sp.layer}.{k}"] = v
        m["spark.fetch_wait_s"] += sp.totals["fetch_wait_ms"] / 1000.0


def traced_run(sess: Session, inp, cfg, work: str) -> dict:
    """Warm-up job (as in timed_run; for the batch it is also the drift
    reference), traced job, untraced job.  Tracing overhead is the
    traced wall minus the untraced wall after it."""
    from perfbench.metrics import per_layer

    sess.build(inp)
    js = Jobs(sess, inp, cfg, work)
    m = {name: 0 for name, _, _ in per_layer()}
    ref = js.attempt("warm-up job", lambda: js.untraced(warmup=True))
    sess.settle()
    if inp.workload.kind == "batch":
        traced = js.attempt("traced job", lambda: _traced_batch(js, ref, m))
    else:
        traced = js.attempt("traced job", lambda: _traced_stream(js, m))
    sess.settle()
    u = js.attempt("untraced job", js.untraced)
    if traced is not None and u is not None:
        m["trace.overhead_s"] = traced - u["wall"]
        m["trace.untraced_s"] = u["wall"]
    return js.result(metrics=m, walls=[traced, u["wall"] if u else None])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "destor_spark", "__init__.py")):
        print(f"perfbench: no destor_spark package under {ROOT}; run from "
              "the root of a destor_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.data import WORKLOADS, prepare

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    # a kill runs the finally below: stop the JVM, delete the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    configure_env(work)
    from perfbench.host import HostNote

    note = HostNote()
    sess = Session()
    try:
        from destor_spark.config import DedupConfig

        inp = prepare(ROOT, os.path.join(ROOT, ".perfbench", "cache"),
                      WORKLOADS[args.workload], args.seed)
        cfg = DedupConfig()
        if args.trace:
            res = traced_run(sess, inp, cfg, work)
        else:
            res = timed_run(sess, inp, cfg, work, args.seconds)
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
    host = note.finish()
    print(json.dumps({"annotation": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "n_docs": inp.n_docs, "host": host, "errors": res["errors"],
        "walls_s": res["walls"], "setups_s": res.get("setups"),
        "mem_peak": res.get("mem_peak"), "warmup_s": res.get("warmup_s"),
    }}))
    from perfbench.metrics import units

    unit = units()
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": unit[k]}
                    for k, v in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
