"""Benchmark runner for the clinical DWH engine.

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 1 --trace 0

Runs one workload (star_etl, corpus_release or query_mix) in one
process on local[nproc]: set-up (session, seeded inputs, indexes), then
passes while one is expected to end within --seconds, at least one. The
first pass is the workload's first run in a fresh JVM, as a nightly
batch job or a newly opened analyst session meets it. Every
operation's output is checked after the pass, outside its timed
interval. The last stdout line is one JSON object {correct, attempted,
failed, metrics}: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. BENCHMARK.json lists both; perfbench/README.md
explains them.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import ExitStack

from tracing import (
    SparkAccount,
    StealClock,
    Tracer,
    descendants,
    layer_totals,
    peak_rss_mb,
    python_worker_cpu_s,
    reset_peak_rss,
)
from workloads import FAMILIES, LAYERS, SETUP_LAYERS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "clinical_data_warehouse_bi_spark", "__init__.py")
HEAP = "3g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and size Spark to
    this machine's cores."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEMORY": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = None
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]


def median(xs):
    """None when every pass failed: a failed operation adds no time."""
    return statistics.median(xs) if xs else None


class Runner:
    """Runs the passes of one workload and counts its operations."""

    def __init__(self, spark, wl, acct, tracer, run_id: str):
        self.spark, self.wl, self.acct, self.tr = spark, wl, acct, tracer
        self.run_id = run_id
        self.pids = (acct.jvm_pid, os.getpid())
        self.n_pass = 0
        self.attempted = self.failed = 0

    def run_pass(self, traced: bool) -> dict | None:
        """One pass; returns its record, or None when an operation failed.
        Only the operations are timed: their outputs are checked after
        the pass, under a job group of their own."""
        self.n_pass += 1
        group = f"{self.run_id}-pass{self.n_pass}"
        sc = self.spark.sparkContext
        ops = self.wl.ops()
        times, raw, outs, py_cpu, stolen = {}, {}, {}, 0.0, 0.0
        for pid in self.pids:
            reset_peak_rss(pid)
        span_mark = len(self.tr.spans)
        self.tr.enabled = traced
        with self.wl.traced() if traced else ExitStack():
            sc.setJobGroup(group, self.wl.name)
            with self.tr.span(self.wl.name):
                for name, fn, _ in ops:
                    self.attempted += 1
                    py0 = python_worker_cpu_s(self.acct.jvm_pid)
                    clock = StealClock()
                    try:
                        outs[name] = fn()
                    except Exception:  # noqa: BLE001 - counted, not fatal
                        log(f"{name} raised:\n{traceback.format_exc()}")
                        continue
                    raw[name], times[name], steal = clock.read()
                    stolen += steal
                    py_cpu += python_worker_cpu_s(self.acct.jvm_pid) - py0
        self.tr.enabled = False
        rec = {
            "wall_s": sum(times.values()),
            "cpu_s": py_cpu + self.acct.group(group)["cpu_s"],
            "peak_rss_mb": sum(peak_rss_mb(pid) for pid in self.pids),
            "ops": times,
            "raw_wall_s": sum(raw.values()),
            "steal_s": stolen,
        }
        failed = len(ops) - len(times)
        sc.setJobGroup(f"{group}-check", "output checks")
        for name, _, check in ops:
            if name not in outs:
                continue
            try:
                good = check is None or bool(check(outs[name]))
            except Exception:  # noqa: BLE001 - counted, not fatal
                log(f"checking {name} raised:\n{traceback.format_exc()}")
                good = False
            if not good:
                log(f"{name}: wrong output")
                failed += 1
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.failed += failed
        if traced:
            spans = self.tr.spans[span_mark:]
            self.tr.close(spans)
            rec["spans"] = spans
        self.wl.after_pass()
        return rec if failed == 0 else None


def op_gmean(passes: list[dict]) -> float | None:
    """Geometric mean over the operations of their median latency."""
    if not passes:
        return None
    per_op = [median([p["ops"][op] for p in passes]) for op in passes[0]["ops"]]
    return math.exp(statistics.fmean(math.log(t) for t in per_op))


def end_to_end(passes: list[dict], setup_s: float) -> dict:
    return {
        "wall_s": (median([p["wall_s"] for p in passes]), "s"),
        "cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (median([p["peak_rss_mb"] for p in passes]), "MB"),
        "op_gmean_s": (op_gmean(passes), "s"),
    }


FAMILY_UNITS = {
    "self_s": "s", "cpu_s": "s", "py_cpu_s": "s", "wait_s": "s",
    "tasks": "count", "shuffle_mb": "MB", "spill_mb": "MB", "input_rows": "count",
}


def per_layer(traced: list[dict], setup_spans: list[dict]) -> dict:
    """Every per-layer metric of every workload: a layer this workload
    does not run reads 0."""
    totals = [layer_totals(p["spans"]) for p in traced]
    out = {}
    for wl, layers in LAYERS.items():
        for layer in layers:
            for fam in FAMILIES[wl]:
                vals = [t.get(layer, {}).get(fam, 0.0) for t in totals]
                out[f"{layer}.{fam}"] = (median(vals), FAMILY_UNITS[fam])
    setup = layer_totals(setup_spans)
    for layer in SETUP_LAYERS:
        out[f"{layer}.self_s"] = (setup.get(layer, {}).get("self_s", 0.0), "s")
    out["trace.traced_wall_s"] = (median([p["wall_s"] for p in traced]), "s")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(PACKAGE):
        log(f"the engine package is missing: {PACKAGE}")
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    prepare_env(work)
    import pyspark

    from clinical_data_warehouse_bi_spark.session import get_spark

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
        "pyspark": pyspark.__version__,
        "load_1m_start": os.getloadavg()[0],
    }
    run_id = f"pb{os.getpid()}"
    spark = None
    try:
        clock = StealClock()
        spark = get_spark(
            "perfbench",
            extra_conf={
                # a fixed-size heap: peak RSS then follows what the run
                # touches, not when G1 decides to grow or shrink the heap
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Xms{HEAP}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        acct = SparkAccount(spark)
        session_raw, session_s, session_steal = clock.read()
        tracer = Tracer(spark, acct, run_id)
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, work)
        runner = Runner(spark, wl, acct, tracer, run_id)

        tracer.enabled = bool(args.trace)
        clock = StealClock()
        with tracer.span("setup"):
            wl.setup()
        inputs_raw, inputs_s, inputs_steal = clock.read()
        tracer.enabled = False
        setup_spans = list(tracer.spans)
        tracer.close(setup_spans)
        wl.mark()
        setup_s = session_s + inputs_s
        log(
            f"setup {setup_s:.2f}s (session {session_s:.2f}, inputs {inputs_s:.2f}; "
            f"raw {session_raw + inputs_raw:.2f}, steal {session_steal + inputs_steal:.2f})"
        )

        # start a pass only while it is expected to end within --seconds
        passes, took = [], []
        t_end = time.perf_counter() + args.seconds
        while True:
            t = time.perf_counter()
            rec = runner.run_pass(traced=bool(args.trace))
            took.append(time.perf_counter() - t)
            if rec is not None:
                passes.append(rec)
                ops = " ".join(f"{k}={v:.2f}" for k, v in rec["ops"].items())
                log(
                    f"pass {runner.n_pass} wall {rec['wall_s']:.2f}s (raw {rec['raw_wall_s']:.2f}, "
                    f"steal {rec['steal_s']:.2f}) cpu {rec['cpu_s']:.2f}s: {ops}"
                )
            if time.perf_counter() + median(took) > t_end:
                break

        if args.trace:
            metrics = per_layer(passes, setup_spans)
            tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{run_id}.jsonl"))
        else:
            metrics = end_to_end(passes, setup_s)
        stamp["load_1m_end"] = os.getloadavg()[0]
        stamp["passes"] = len(passes)
        log(json.dumps(stamp))
        result = {
            "correct": runner.failed == 0 and bool(passes),
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    kids = descendants(jvm_pid)
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
