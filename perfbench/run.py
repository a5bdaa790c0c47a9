#!/usr/bin/env python3
"""Run one benchmark workload against the kats_spark checkout it sits in.

    python3 perfbench/run.py --workload ts_fleet --seed 1 --seconds 15 --trace 0

The load is a closed loop with one client: this process sets up a session
several times, then runs passes of the workload back to back on
``local[1]``.  The first pass runs with empty memos and freshly started
Python workers; the steady passes after it measure about ``--seconds``:
their number is ``--seconds`` over the workload's nominal pass time, at
least two.  The outputs are then checked, untimed.

The program runs from a fresh copy of ``kats_spark`` and
``__spark_entry__.py`` in a scratch directory under ``perfbench/_work``,
which is deleted at the end: stored indexes, the Spark warehouse, Spark's
local dirs and temporary files all land there, so no run sees what an
earlier one left and the checkout is left as it was.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, and the
spans with their Spark task metrics go to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# set-ups per run; the first also launches the JVM, so setup_s is the
# median of the others
SETUPS = 4
# Spark task slots.  One slot leaves three of the box's four cores to the
# JVM's own threads, the Python worker and anything else on the host, so a
# busy neighbour slows a pass less; at these input sizes local[2] was no
# faster and burned more CPU per pass.
CPUS = 1
MIN_STEADY_PASSES = 2


def _isolate(work: str, traced: bool) -> None:
    """Copy the program into ``work`` and point every write there."""
    skip = shutil.ignore_patterns("__pycache__", "spark-warehouse", "*.pyc")
    shutil.copytree(os.path.join(ROOT, "kats_spark"), os.path.join(work, "kats_spark"), ignore=skip)
    shutil.copy2(os.path.join(ROOT, "__spark_entry__.py"), work)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        " -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ.update({
        # fixed thread counts, like the GC flags above: sized from the core
        # count, the JVM, BLAS and OpenMP pools would hold more threads
        # than the cores a run can get
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": "2g",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the Python workers import kats_spark from the copy too
        "PYTHONPATH": work,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v!r}" for k, v in conf.items())
        + " pyspark-shell",
    })
    os.chdir(work)  # the session warehouse defaults to ./spark-warehouse
    sys.path.insert(0, work)


def _stop_children(timeout: float = 60.0) -> None:
    """Shut the JVM down and wait until no process this one started is left."""
    from pyspark import SparkContext

    import procstat

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while True:
        rest = [p for p in procstat.tree(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.2)


def _spark_work(sc, group: str) -> dict[str, float]:
    """What Spark ran under the job group ``group``: jobs, completed tasks,
    and the parquet bytes read and shuffle bytes written by their stages.
    A stage that several jobs share counts once; a skipped stage runs no
    task."""
    # the status store is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    st, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = st.getJobIdsForGroup(group)
    stages = [store.lastStageAttempt(s) for s in {s for j in jobs for s in st.getJobInfo(j).stageIds}]
    return {
        "jobs": len(jobs),
        "tasks": sum(d.numCompleteTasks() for d in stages),
        "input_mb": sum(d.inputBytes() for d in stages) / 2**20,
        "shuffle_mb": sum(d.shuffleWriteBytes() for d in stages) / 2**20,
    }


def run(workload: str, seed: int, seconds: int, traced: bool, work: str) -> dict:
    import procstat
    from spans import Tracer
    from workloads import WORKLOADS

    tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", traced)
    me = os.getpid()
    wl = WORKLOADS[workload](seed, work)  # generates the inputs, untimed
    attempted = failed = 0

    def one_pass(i: int, ops) -> tuple[dict[str, tuple[float, float]], dict[str, float]]:
        """Run one pass; return each operation's wall and CPU time of its
        call and action, which leaves out the clear-cache-and-GC steps,
        and what Spark ran in the pass."""
        nonlocal attempted, failed
        times = {}
        sc = spark.sparkContext
        # every pass starts from an empty cache and a collected heap, as
        # every bench.py row does
        spark.catalog.clearCache()
        sc._jvm.System.gc()
        sc.setJobGroup(f"perfbench-pass-{i}", f"pass {i}")
        with tracer.span(f"pass#{i}"):
            for op in ops:
                attempted += 1
                try:
                    with tracer.span(op.name):
                        if op.pre is not None:
                            op.pre()
                        cpu0, t0 = procstat.cpu_seconds(me), time.perf_counter()
                        try:
                            with tracer.span(f"{op.name}:call"):
                                out = op.call()
                            with tracer.span(f"{op.name}:action"):
                                op.action(out)
                        finally:
                            times[op.name] = (
                                time.perf_counter() - t0,
                                procstat.cpu_seconds(me) - cpu0,
                            )
                except Exception:  # count it and keep the run going
                    failed += 1
                    traceback.print_exc()
        sc.setLocalProperty("spark.jobGroup.id", None)
        done = _spark_work(sc, f"perfbench-pass-{i}")
        wall = sum(w for w, _ in times.values())
        cpu = sum(c for _, c in times.values())
        print(
            f"pass {i}: {wall:.3f} s, {cpu:.3f} core-s, {json.dumps(done)}, "
            f"rss {procstat.rss_mb(me):.1f} MB, peak {procstat.peak_rss_mb(me):.1f} MB "
            + " ".join(f"{k.rsplit('.', 1)[-1]}={w:.3f}/{c:.2f}" for k, (w, c) in times.items()),
            file=sys.stderr,
        )
        return times, done

    with tracer.span("run"):
        setup_times = []
        spark = None
        for k in range(SETUPS):
            with tracer.span(f"setup#{k}"):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                with tracer.span("session.get_spark"):
                    from kats_spark.session import get_spark

                    spark = get_spark(f"perfbench_{workload}")
                spark.sparkContext.setLogLevel("ERROR")
                with tracer.span("register"):
                    wl.register(spark)
                setup_times.append(time.perf_counter() - t0)
                print(f"setup {k}: {setup_times[-1]:.3f} s", file=sys.stderr)
        ops = wl.ops()
        first, first_work = one_pass(0, ops)
        first_pass_s = sum(w for w, _ in first.values())
        # a fixed number of passes, not a deadline: the JIT keeps warming
        # over the first passes, so a run that fits one more pass into the
        # time would read faster, and two commits compared would do
        # different work
        n_steady = max(MIN_STEADY_PASSES, round(seconds / wl.pass_s))
        passes = [one_pass(i, ops) for i in range(1, n_steady + 1)]
        steady = [sum(w for w, _ in p.values()) for p, _ in passes]
        steady_cpu = [sum(c for _, c in p.values()) for p, _ in passes]
        peak_rss_mb = procstat.peak_rss_mb(me)
        t0 = time.perf_counter()
        with tracer.span("check"):
            problems = wl.check()
        print(f"check: {time.perf_counter() - t0:.3f} s", file=sys.stderr)
        app_id = spark.sparkContext.applicationId
        spark.stop()
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)

    end_to_end = {
        "setup_s": (median(setup_times[1:]), "s"),
        "pass_jobs": (median(w["jobs"] for _, w in passes), "count"),
        "pass_tasks": (median(w["tasks"] for _, w in passes), "count"),
        "pass_input_mb": (median(w["input_mb"] for _, w in passes), "MB"),
        "pass_shuffle_mb": (median(w["shuffle_mb"] for _, w in passes), "MB"),
        "first_pass_jobs": (first_work["jobs"], "count"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    # The pass times swing with the host's speed by more than any bound a
    # regression check could use (see the README), so they are reported
    # here and as per-layer metrics of the traced run, not as end-to-end
    # metrics.
    timing = {
        "run.first_pass_s": first_pass_s,
        "run.pass_s": median(steady),
        "run.cpu_s": median(steady_cpu),
    }
    print("timing: " + json.dumps(timing), file=sys.stderr)
    result = {"correct": not problems, "attempted": attempted, "failed": failed}
    if not traced:
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
        return result

    import layers

    tracer.attach_event_log(os.path.join(work, "eventlog", app_id))
    per_layer = layers.values(tracer.spans) | timing
    result["metrics"] = {n: {"value": per_layer[n], "unit": u} for n, u in layers.names()}
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"trace-{workload}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": workload,
                "seed": seed,
                "run": tracer.run_id,
                "end_to_end": {k: v for k, (v, _) in end_to_end.items()} | timing,
                "steady_passes": steady,
                "per_layer": per_layer,
                "self_time_s": tracer.self_times(),
                "spans": tracer.spans,
            },
            f,
            indent=1,
        )
    print(f"trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
    return result


def main() -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (
        os.path.isdir(os.path.join(ROOT, "kats_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"no kats_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still shuts Spark down and removes its scratch copy
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _isolate(work, bool(args.trace))
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        try:
            _stop_children()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only when no other run uses it
            except OSError:
                pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
