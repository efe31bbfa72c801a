"""One Spark process of the benchmark: set up, then run the project.

``python3 embench/worker.py SPEC.json`` reads the job from a JSON file
written by ``run.py``. It builds the session exactly as the CLI does
(``get_spark()`` plus a first trivial action) and prints ``READY`` on
stdout, so the parent can time set-up from process start. A ``probe``
job stops there. A ``run`` job then calls ``run_project`` once cold and
repeatedly warm in the same session, checks every run's outputs against
the oracle, writes its measurements to the spec's ``result`` path and
prints ``DONE``. Either way the parent then kills the process group.
With ``trace`` set, warm runs alternate between traced and untraced,
and the per-layer metrics come from the traced ones.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans  # noqa: E402
import workloads  # noqa: E402

#: warm runs: at least three for a median, and a cap for fast programs
MIN_WARM = 3
MAX_WARM = 40
#: how long a worker that is done waits to be killed by its parent
PROCESS_WAIT_S = 60


def _session_conf(spec: dict) -> dict:
    work = spec["work"]
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # keep the JVM's temp files and perf counters inside the work dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if spec.get("event_log"):
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + spec["event_log"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    return conf


def jvm_rss_mb() -> float:
    """Resident memory of the Spark JVM this process started."""
    me = os.getpid()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if int(fields[1]) != me:
                continue
            with open(f"/proc/{pid}/status") as fh:
                status = dict(ln.split(":", 1) for ln in fh if ":" in ln)
        except (OSError, ValueError):
            continue
        if status.get("Name", "").strip() == "java":
            return int(status["VmRSS"].split()[0]) / 1024
    raise RuntimeError("no Spark JVM child found")


def _output_size(out_dir: str) -> tuple[float, int]:
    size = rows = 0
    for dirpath, _, files in os.walk(out_dir):
        for f in files:
            path = os.path.join(dirpath, f)
            size += os.path.getsize(path)
            with open(path, "rb") as fh:
                rows += sum(chunk.count(b"\n") for chunk in iter(lambda: fh.read(1 << 20), b""))
    return size / spans.MB, rows


class Runner:
    def __init__(self, spark, spec: dict, tracer=None, run_project=None):
        if run_project is None:
            from earthmover_spark.plans.executor import run_project
        self.run_project = run_project
        self.spark = spark
        self.spec = spec
        self.tracer = tracer
        self.n = 0  # runs attempted
        self.failed = 0
        self.failures: list[str] = []

    def run_once(self, traced: bool = False) -> tuple[float, bool, dict]:
        """One ``run_project`` into a fresh output directory and state
        file; returns (seconds, ok, output stats)."""
        spec = self.spec
        run_dir = os.path.join(spec["work"], "runs", str(self.n))
        out_dir = os.path.join(run_dir, "output")
        overrides = (
            {"config.state_file": os.path.join(run_dir, "runs.csv")}
            if spec["state_file"] else None
        )
        self.n += 1
        stats: dict = {}
        ok = False
        # start every run from collected heaps, so that garbage left by
        # the previous run is not collected on this one's clock
        gc.collect()
        if self.spark is not None:
            self.spark.sparkContext._jvm.System.gc()
        if traced:
            self.tracer.install()
            self.tracer.run_id = self.n
            root = self.tracer.open_span("executor.run_project")
        t = time.perf_counter()
        try:
            result = self.run_project(
                self.spark, spec["config"], overrides=overrides, output_dir=out_dir
            )
        except Exception:  # a failed run is counted, not fatal
            seconds = time.perf_counter() - t
            self.failures.append(traceback.format_exc(limit=3))
        else:
            seconds = time.perf_counter() - t
            if "__skipped__" in result:
                self.failures.append(f"run skipped: {result['__skipped__']}")
            else:
                errors = workloads.check_outputs(out_dir, spec["expected"])
                self.failures.extend(errors)
                ok = not errors
        finally:
            if traced:
                self.tracer.close_span(root)
                self.tracer.uninstall()
        if traced and os.path.isdir(out_dir):
            stats["destinations.out_mb"], stats["destinations.out_rows"] = (
                _output_size(out_dir)
            )
        shutil.rmtree(run_dir, ignore_errors=True)
        self.failed += int(not ok)
        return seconds, ok, stats


def _warm_schedule(seconds: float, timed: list[float]):
    """Yield warm-run indexes until the runs appended to ``timed`` add up
    to ``seconds`` (at least MIN_WARM runs, at most MAX_WARM). Output
    checks between runs do not count, so the number of runs follows the
    program's speed only."""
    i = 0
    while i < MAX_WARM and (i < MIN_WARM or sum(timed) < seconds):
        yield i
        i += 1


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    from earthmover_spark import get_spark

    spark = get_spark("embench", extra_conf=_session_conf(spec))
    spark.range(1).count()
    print("READY", flush=True)
    if spec["mode"] == "run":
        measure(spark, spec)
        print("DONE", flush=True)
    time.sleep(PROCESS_WAIT_S)  # the parent kills the process group
    return 1


def measure(spark, spec: dict) -> None:
    """Cold run, then warm runs; writes the result file."""
    tracer = spans.Tracer() if spec["trace"] else None
    runner = Runner(spark, spec, tracer)
    cold, _, _ = runner.run_once(traced=bool(tracer))
    print(f"cold run: {cold:.3f} s", file=sys.stderr)
    warm: list[float] = []
    traced_warm: list[tuple[int, float, dict]] = []
    timed: list[float] = []  # every warm run, traced or not
    for i in _warm_schedule(spec["seconds"], timed):
        # traced mode alternates traced and untraced warm runs, so the
        # difference of their medians is the tracing overhead
        traced = bool(tracer) and i % 2 == 0
        seconds, _, stats = runner.run_once(traced=traced)
        print(f"warm run {i}: {seconds:.3f} s", file=sys.stderr)
        timed.append(seconds)
        if traced:
            traced_warm.append((runner.n, seconds, stats))
        else:
            warm.append(seconds)
    result = {
        "attempted": runner.n,
        "failed": runner.failed,
        "failures": runner.failures[:10],
        "cold_run_s": cold,
        "warm_s": warm,
    }
    if tracer:
        # a full collection first, so the figure is what the session holds
        # on to (cached blocks, caches) rather than when the heap last grew
        spark.sparkContext._jvm.System.gc()
        rss = jvm_rss_mb()
        spark.stop()  # flushes the event log
        log = spans.parse_event_log(
            spans.find_event_log(spec["event_log"])
        )
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
        per_run = []
        for run_id, _, stats in traced_warm:
            m = spans.layer_metrics(tracer.spans, log, run_id, cores)
            m.update(stats)
            per_run.append(m)
        layers = spans.median_metrics(per_run)
        layers["trace.overhead_s"] = statistics.median(
            s for _, s, _ in traced_warm
        ) - statistics.median(warm)
        layers["jvm_rss_mb"] = rss
        result["layers"] = layers
        tracer.dump(spec["trace_out"], {"per_run": per_run})
    with open(spec["result"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
