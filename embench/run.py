"""YAML-project benchmark for earthmover_spark.

    python3 embench/run.py --workload bulk_render --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The workload's inputs, project and
oracle are generated from ``--seed`` into ``.embench_work/``. Then:

- ``--trace 0``: a set-up probe (a fresh process that only starts a
  session) and one worker process that starts a session, runs the
  project once cold and then warm for ``--seconds``. Set-up is the
  median of the two set-ups. Prints the end-to-end metrics.
- ``--trace 1``: one worker whose warm runs alternate traced and
  untraced, with the Spark event log on. Prints the per-layer metrics.

Every run's outputs are checked against the oracle. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (each ``{"value", "unit"}``).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

#: fresh processes timed for ``setup_s``, the worker being one of them;
#: each costs a JVM start (~10 s on 4 cores), so a third does not fit
#: the time budget of the benchmark's runs
SETUP_SAMPLES = 2
#: a worker or probe still running this long after start-up is killed,
#: so that the benchmark ends within its 180 s
DEADLINE_S = 165

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_run_s": "s",
    "run_s": "s",
    "rows_per_s": "rows/s",
    "ok_frac": "ratio",
}

LAYER_UNITS = {
    "config.compile_s": "s",
    "graph.build_s": "s",
    "runs.hash_s": "s",
    "runs.hashed_mb": "MB",
    "sources.build_s": "s",
    "sources.calls": "count",
    "operators.build_s": "s",
    "operators.calls": "count",
    "operators.build_jobs": "count",
    "functions.template_s": "s",
    "functions.templates": "count",
    "functions.lowered_frac": "ratio",
    "python.rows": "count",
    "python.sent_mb": "MB",
    "python.received_mb": "MB",
    "python.start_s": "s",
    "python.run_s": "s",
    "destinations.spark_write_s": "s",
    "destinations.concat_s": "s",
    "destinations.out_mb": "MB",
    "destinations.out_rows": "count",
    "executor.self_s": "s",
    "executor.cached_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_util": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.driver_gap_s": "s",
    "trace.overhead_s": "s",
    "jvm_rss_mb": "MB",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _child_env(work: str) -> dict:
    env = dict(os.environ)
    # Spark's Python workers import earthmover_spark from the checkout
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(_cpus())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONF",
                "SPARK_GRAFT_SHUFFLE_PARTITIONS", "PYSPARK_SUBMIT_ARGS"):
        env.pop(var, None)
    return env


def _become_subreaper() -> None:
    """Have the processes that the workers leave behind (the Spark JVM,
    PySpark's Python daemon, which runs in a process group of its own)
    re-parented to this process when their parent dies, so that
    ``_reap`` can stop them and collect them as soon as they have ended
    instead of leaving that to the init process."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me = os.getpid()
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            found.append(int(pid))
    return found


def _reap(pgid: int) -> None:
    """Wait until every process of a killed group has ended, killing
    every process re-parented to this one on the way."""
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
            children = True
        except ChildProcessError:
            children = False
        try:
            os.killpg(pgid, 0)
            group = True
        except ProcessLookupError:
            group = False
        if not (children or group):
            return
        for pid in _children():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.01)


def spawn(spec: dict, work: str, name: str, deadline: float) -> float:
    """Start a worker process for ``spec`` and return the seconds until
    it reported READY. The process group is killed once the worker has
    printed its last line (READY for a probe, DONE for a run, whose
    result is on disk by then), and waited for until every process it
    started has ended."""
    spec_path = os.path.join(work, f"{name}.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    last = "READY" if spec["mode"] == "probe" else "DONE"
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
        cwd=work, env=_child_env(work), stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, start_new_session=True, text=True,
    )
    watchdog = threading.Timer(
        max(0.0, deadline - time.monotonic()), os.killpg, (proc.pid, signal.SIGKILL)
    )
    watchdog.start()
    setup = finished = None
    try:
        for line in proc.stdout:
            if line.strip() == "READY" and setup is None:
                setup = time.perf_counter() - t0
            if line.strip() == last:
                finished = time.perf_counter() - t0
                break
    finally:
        watchdog.cancel()
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        _reap(proc.pid)
    if setup is None or finished is None:
        raise RuntimeError(f"{name} exited with {proc.returncode}")
    print(f"{name}: ready after {setup:.2f} s, done after {finished:.2f} s",
          file=sys.stderr)
    return setup


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the benchmark's (tests)")
    args = ap.parse_args(argv)
    # a terminated benchmark still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()

    if not os.path.isfile(os.path.join(ROOT, "earthmover_spark", "plans", "executor.py")):
        print(f"earthmover_spark not found under {ROOT}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + DEADLINE_S
    base = os.path.join(ROOT, ".embench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("data", "tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    try:
        t0 = time.perf_counter()
        project = workloads.build(
            args.workload, args.seed, os.path.join(work, "data"), args.scale
        )
        print(f"inputs and oracle: {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        spec = {
            **project,
            "mode": "run", "work": work, "seconds": args.seconds,
            "trace": bool(args.trace),
            "result": os.path.join(work, "result.json"),
        }
        setups = []
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            spec["event_log"] = os.path.join(work, "eventlog")
            spec["trace_out"] = os.path.join(
                base, "traces", f"{args.workload}-{args.seed}.json"
            )
        else:
            for i in range(SETUP_SAMPLES - 1):
                setups.append(spawn(
                    {"mode": "probe", "work": work}, work, f"probe{i}", deadline
                ))
        setups.append(spawn(spec, work, "worker", deadline))
        with open(spec["result"]) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for msg in res["failures"]:
        print(f"FAILED RUN: {msg}", file=sys.stderr)
    if args.trace:
        values = res["layers"]
        units = LAYER_UNITS
    else:
        run_s = statistics.median(res["warm_s"])
        values = {
            "setup_s": statistics.median(setups),
            "cold_run_s": res["cold_run_s"],
            "run_s": run_s,
            "rows_per_s": project["input_rows"] / run_s,
            "ok_frac": 1 - res["failed"] / res["attempted"],
        }
        units = END_TO_END_UNITS
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
