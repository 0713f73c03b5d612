"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The workloads are listed in BENCHMARK.json and
described in ``workloads.py``. The seed orders the queries of each batch pass
and picks the time slice of the events log the stream replays. The batch
workload times whole passes, stopping at the pass boundary nearest to
``--seconds``; the stream times one drain of ``2 * --seconds`` micro-batches.
The outputs are checked outside the timed region. The last line of standard
output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it, prefixed
``detail``, carries the raw pass times.

Everything the run writes goes under ``.bench_build/perfbench`` in the
repository root; its scratch directory is removed at exit. The expected
results kept there are computed by the first run that needs them. Before the
result line is printed, the Spark JVM and every process it started (Python
workers) have ended and been reaped, on every path out of the run.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "streaming_ml_with_ksql_spark"
WORKLOADS = ("stream_serve", "batch_kernels")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


@contextlib.contextmanager
def scratch_dir(path: str):
    """The run's scratch directory: replay files, checkpoints, collections
    and Spark's temporary files. Removed on exit, also after an error."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so Python
    workers whose JVM has exited become our children and can be waited for.
    Linux only; elsewhere the call fails and only direct children are
    waited for."""
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    pids: list[int] = []
    with contextlib.suppress(OSError):
        for tid in os.listdir("/proc/self/task"):
            with open(f"/proc/self/task/{tid}/children") as fh:
                pids += [int(p) for p in fh.read().split()]
    return pids


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until every child process has ended and been reaped; after
    ``grace_s`` seconds the remaining ones are killed."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


def stop_spark() -> None:
    """Stop the session, then the JVM behind it: the gateway exits when its
    standard input closes; it is killed if it has not after 20 s."""
    with contextlib.suppress(ImportError):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            with contextlib.suppress(Exception):
                sc.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
    reap_children()


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def _environment(work_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python into the
    run's directory and fix the session's width to the host's cores. Must
    run before pyspark starts the JVM."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # -XX:-UsePerfData: a JVM's perf-counter file goes to /tmp whatever
    # java.io.tmpdir says. The launcher JVM of spark-submit takes its own.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '{java_opts}' pyspark-shell"
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    adopt_orphans()
    signal.signal(signal.SIGTERM, _terminate)
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    with scratch_dir(os.path.join(base, f"run-{os.getpid()}")) as work_dir:
        _environment(work_dir)
        try:
            code, lines = _run(args, work_dir)
        finally:
            stop_spark()
    for line in lines:
        print(line, flush=True)
    return code


def _run(args, work_dir: str) -> tuple[int, list[str]]:
    sys.path.insert(0, ROOT)
    from streaming_ml_with_ksql_spark.io import default_sf_dir

    import workloads

    testdata = os.path.dirname(default_sf_dir())
    batch_sf = os.path.join(testdata, workloads.BATCH_SF)
    stream_sf = os.path.join(testdata, workloads.STREAM_SF)
    for d in (batch_sf, stream_sf):
        if not os.path.isdir(d):
            print(f"perfbench: test data {d} not found", file=sys.stderr)
            return 2, []

    run = workloads.Run(work_dir, args.seed, bool(args.trace))
    if args.workload == "stream_serve":
        wl = workloads.StreamWorkload(run, stream_sf, args.seconds)
    else:
        wl = workloads.BatchWorkload(run, workloads.KERNEL_QUERIES, batch_sf)
    t0 = time.perf_counter()
    wl.setup()
    run.setup_s = time.perf_counter() - t0
    wl.measure(args.seconds)
    wl.verify()
    if args.trace:
        run.finish_layers(wl.per_pass)

    if args.trace:
        values, units = run.layers, dict(workloads.PER_LAYER)
    else:
        values, units = run.end_to_end(), dict(workloads.END_TO_END)
    for problem in run.problems:
        print(f"perfbench: {problem}", file=sys.stderr)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "setup_s": run.setup_s,
        "pass_times": run.pass_times,
        "traced_times": run.traced_times,
        "pass_kinds": run.pass_kinds,
        "problems": len(run.problems),
    }
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }
    return 0, ["detail " + json.dumps(detail), json.dumps(result)]


if __name__ == "__main__":
    sys.exit(main())
