#!/usr/bin/env python3
"""Engine benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Inputs are generated
from the seed into ``.perfbench_work/`` under the checkout. Then the
Spark session starts and a warm-up pass runs every operation once in a
cheaper form. ``setup_s`` runs from process start to the end of the
warm-up, less the input generation.
Full passes over the operations follow, in a seeded order, until
``--seconds`` have passed. Each operation starts cache-cold
(``testing.release_caches``) and its output is checked after its clock
stops. See README.md for the workloads and metrics.

With ``--trace 1`` passes alternate traced, untraced, traced, ... (at
least three). The first pass, traced, gives the per-layer metrics and
the span file (``.perfbench_work/spans-<workload>-<seed>.json``); the
passes after it give the tracing overhead, free of the first full-size
pass's JIT and codegen cost.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import datagen
import jobs
import layers
import probes
import workloads
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ray_mapreduce_spark"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Runner:
    """One Spark session, the operations run in it, and their outcomes."""

    def __init__(self, workload, run_dir: str):
        self.workload = workload
        self.run_dir = run_dir
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.warm_failed = 0  # warm-up ops raising; their outputs are unchecked

    def setup(self, startup_s: float) -> float:
        """Session start plus one warm-up pass: every operation once in a
        cheaper form, which pays the first-run costs (JIT, codegen,
        Python worker start). Returns the set-up seconds, counting the
        ``startup_s`` the process spent before it."""
        from ray_mapreduce_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cpus=len(os.sched_getaffinity(0)),
            extra_conf={
                # Keep every file Spark writes inside the run directory.
                "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={self.run_dir}",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.tracer = Tracer(self.spark)
        self.ctx = workloads.Context(self.spark, self.tracer)
        warm = {op.name: self.run_op(op, counted=False)[0] for op in self.workload.warm_ops(self.ctx)}
        t2 = time.perf_counter()
        log("warm-up " + " ".join(f"{k}={v:.2f}" for k, v in warm.items()))
        self.session_spans = [("session.startup", t0 - startup_s, t0), ("session.get_spark", t0, t1),
                              ("session.warmup", t1, t2)]
        return startup_s + t2 - t0

    def run_op(self, op, counted: bool = True):
        """Run one operation cache-cold; returns (seconds, CPU seconds,
        cached bytes left by it). Uncounted (warm-up) operations stay out
        of ``attempted`` and ``failed``."""
        from ray_mapreduce_spark.testing import release_caches, storage_bytes

        release_caches(self.spark)
        self.attempted += counted
        cpu0 = probes.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            result, err = op.run(), ""
        except Exception:
            result, err = None, traceback.format_exc(limit=3)
        t1 = time.perf_counter()
        cpu1 = probes.tree_cpu_s()
        cached = sum(storage_bytes(self.spark)) if self.tracer.enabled else 0
        if not err:
            try:
                err = op.check(result)
            except Exception:
                err = traceback.format_exc(limit=3)
        if err:
            if counted:
                self.failed += 1
            else:
                self.warm_failed += 1
            log(f"FAILED {op.name}{'' if counted else ' (warm-up)'}: {err}")
        return t1 - t0, cpu1 - cpu0, cached

    def run_pass(self, order, traced: bool, status: probes.SparkStatus, index: int) -> dict:
        """One pass over the operations; Spark jobs and spans when traced."""
        # Start every pass from the same heap state: G1 sizes the heap
        # adaptively, and a heap grown by the previous pass changes GC cost.
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()
        rec = {"traced": traced, "pass_s": 0.0, "cpu_s": 0.0, "op_s": {}, "cached_peak": 0, "records": 0}
        steal0 = probes.steal_s()
        if traced:
            status.drain()
            job_mark, span_mark = status.max_job_id(), len(self.tracer.spans)
            layers.layer_patches(self.tracer)
            self.tracer.enabled = True
        try:
            for op in order:
                self.tracer.op = f"pass{index}:{op.name}"
                dt, cpu, cached = self.run_op(op)
                rec["pass_s"] += dt
                rec["cpu_s"] += cpu
                rec["op_s"][op.name] = dt
                rec["records"] += op.records
                rec["cached_peak"] = max(rec["cached_peak"], cached)
        finally:
            self.tracer.enabled = False
            self.tracer.unpatch()
        rec["steal_s"] = probes.steal_s() - steal0
        if traced:
            status.drain()
            rec["jobs"] = status.jobs_since(job_mark)
            rec["stages"] = status.stages(min((s for _, ids in rec["jobs"] for s in ids), default=0))
            rec["spans"] = self.tracer.spans[span_mark:]
        return rec

    def stop(self) -> None:
        """Stop Spark, then make sure the JVM and the Python workers it
        started have exited."""
        started = [p for p in probes.process_tree() if p != os.getpid()]
        if self.spark is not None:
            jvm = self.spark.sparkContext._gateway.proc
            try:
                self.spark.stop()
            except Exception:
                traceback.print_exc()
            try:
                jvm.stdin.close()  # the gateway exits on EOF
                jvm.wait(timeout=30)
            except Exception:
                jvm.kill()
                jvm.wait()
        # Python workers can outlive the JVM briefly; they were
        # reparented, so poll for them by pid.
        deadline = time.time() + 30
        while time.time() < deadline:
            left = [p for p in started if probes.alive(p)]
            if not left:
                return
            for pid in left:
                try:
                    os.kill(pid, signal.SIGTERM)
                except OSError:
                    pass
            time.sleep(0.2)
        log(f"processes still running after stop: {left}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE} package under {ROOT}; run from a checkout of the repository")
        return 2
    sys.path.insert(1, ROOT)
    # Spark's Python workers unpickle the shim's functions from jobs.py.
    os.environ["PYTHONPATH"] = os.pathsep.join([HERE, ROOT, os.environ.get("PYTHONPATH", "")])
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=work)
    # Keep Spark's scratch files and the launcher's inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tempfile.tempdir = run_dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        return measure(args, workloads.WORKLOADS[args.workload](), run_dir, work)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, workload, run_dir: str, work: str) -> int:
    import ray_mapreduce_spark.engine  # noqa: F401
    from ray_mapreduce_spark.plans import all_queries

    all_queries()
    # Set-up runs from process start: interpreter start, imports and the
    # query registry count; only the input generation below does not.
    startup_s = probes.process_age_s()
    t = time.perf_counter()
    workload.prepare(run_dir, args.seed)
    baseline_records = datagen.shim_records(args.seed, workloads.SHIM_RECORDS)
    log(f"startup {startup_s:.2f}s; inputs ready in {time.perf_counter() - t:.1f}s")

    r = Runner(workload, run_dir)
    try:
        setup_s = r.setup(startup_s)
        log(f"setup {setup_s:.2f}s")
        ops = workload.ops(r.ctx)
        rng = random.Random(args.seed)
        status = probes.SparkStatus(r.spark)
        passes, start = [], time.perf_counter()
        while len(passes) < 1 + 2 * args.trace or time.perf_counter() - start < args.seconds:
            order = rng.sample(ops, len(ops))
            p = r.run_pass(order, bool(args.trace) and len(passes) % 2 == 0, status, len(passes))
            t = time.perf_counter()
            jobs.python_job(baseline_records)
            p["baseline_s"] = time.perf_counter() - t
            passes.append(p)
            log(f"pass {len(passes)}{' traced' if p['traced'] else ''}: {p['pass_s']:.2f}s "
                f"cpu {p['cpu_s']:.1f}s baseline {p['baseline_s']:.3f}s steal {p['steal_s']:.1f}s "
                + " ".join(f"{k}={v:.2f}" for k, v in p["op_s"].items()))
        rss = probes.peak_rss_mb([os.getpid(), probes.jvm_pid(r.spark)])
        if args.trace:
            r.tracer.write(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"), r.session_spans)
    finally:
        t = time.perf_counter()
        r.stop()
        log(f"stopped in {time.perf_counter() - t:.1f}s")

    if r.warm_failed:
        log(f"{r.warm_failed} warm-up operations raised")
    log(f"failed_ops_frac {r.failed / r.attempted:.4f} ({r.failed}/{r.attempted}); "
        f"baseline.python_single_process_s {statistics.median(p['baseline_s'] for p in passes):.3f}; "
        f"peak_rss_mb {rss:.0f}")
    if args.trace:
        metrics = layers.layer_metrics(r, passes, workload, rss)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(p["pass_s"] for p in passes), "s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
            "ok_ops_frac": (1.0 - r.failed / r.attempted, "frac"),
        }
    print(json.dumps({
        "correct": r.failed == 0 and r.warm_failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
