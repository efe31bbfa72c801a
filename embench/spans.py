"""Layer spans recorded from outside the program, and the Spark event log.

``Tracer.install`` wraps the module-level names the executor actually
calls through (``from … import`` bindings included, since patching the
defining module alone would miss them), every ``OPERATIONS`` entry and
the ``DataFrameWriter`` write methods. Each call records a span
``{name, start, end, parent, run_id}`` in memory; ``uninstall`` puts the
originals back. ``layer_metrics`` turns one run's spans plus the parsed
event log into the per-layer metrics.

Span times are ``time.time()`` so they line up with the event log's
millisecond wall-clock timestamps.
"""

from __future__ import annotations

import json
import os
import statistics
import time

MB = 1e6

#: DataFrameWriter methods that start a write job
_WRITER_METHODS = (
    "save", "text", "parquet", "csv", "json", "orc", "saveAsTable", "insertInto",
)


def _rchar() -> int:
    """Bytes this process has read through read(2) so far."""
    with open("/proc/self/io") as fh:
        for line in fh:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.run_id: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------------

    def open_span(self, name: str, **attrs) -> int:
        self.spans.append({
            "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id, **attrs,
        })
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close_span(self, idx: int, **attrs) -> None:
        self._stack.pop()
        self.spans[idx]["end"] = time.time()
        self.spans[idx].update(attrs)

    def wrap(self, name: str, fn, on_call=None, on_return=None):
        """``on_call(args, kwargs)`` and ``on_return(result, before)``
        return extra span attributes."""
        def traced(*args, **kwargs):
            before = on_call(args, kwargs) if on_call else {}
            idx = self.open_span(name, **before)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                after = on_return(result, before) if on_return else {}
                self.close_span(idx, **after)

        traced.__wrapped__ = fn
        return traced

    def _patch(self, owner, attr: str, name: str, **hooks) -> None:
        orig = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        wrapped = self.wrap(name, orig, **hooks)
        if isinstance(owner, dict):
            owner[attr] = wrapped
        else:
            setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    # -- install / uninstall ----------------------------------------------------

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter

        import earthmover_spark.plans.executor as executor
        import earthmover_spark.plans.runs as runs
        from earthmover_spark.destinations import file_destination
        from earthmover_spark.functions import jinja_compute
        from earthmover_spark.operators import OPERATIONS, column

        self._patch(executor, "compile_config", "config.compile")
        self._patch(executor, "Graph", "graph.build")
        self._patch(executor, "read_source", "sources.read")
        dest = {"on_call": lambda a, k: {"dest": a[1] if len(a) > 1 else k.get("name")}}
        self._patch(executor, "write_destination", "destinations.write", **dest)
        self._patch(file_destination, "write_columnar", "destinations.write", **dest)
        self._patch(file_destination, "render_lines", "destinations.render")
        for owner in (executor, file_destination, column):
            self._patch(owner, "template_column", "functions.template")
        self._patch(
            jinja_compute, "lower_template", "functions.lower",
            on_return=lambda r, b: {"lowered": r is not None},
        )
        self._patch(
            runs, "compute_hashes", "runs.hash",
            on_call=lambda a, k: {"rchar": _rchar()},
            on_return=lambda r, b: {"rchar": _rchar() - b["rchar"]},
        )
        for op in list(OPERATIONS):
            self._patch(OPERATIONS, op, f"operators.{op}")
        for meth in _WRITER_METHODS:
            self._patch(DataFrameWriter, meth, "destinations.spark_write")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - _union(children.get(i, []))
        for i, s in enumerate(spans)
    ]


def _top_level(spans: list[dict], prefix: str) -> list[int]:
    """Indexes of ``prefix`` spans with no ``prefix`` ancestor."""
    out = []
    for i, s in enumerate(spans):
        if not s["name"].startswith(prefix):
            continue
        p = s["parent"]
        while p is not None and not spans[p]["name"].startswith(prefix):
            p = spans[p]["parent"]
        if p is None:
            out.append(i)
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_NODE = "Python"  # ArrowEvalPython, BatchEvalPython, FlatMapGroupsInPandas, …
#: SQL metric of a Python node -> layer metric
_PY_METRICS = {
    "number of output rows": "python.rows",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.received_mb",
    "time to start Python workers": "python.start_s",
    "time to run Python workers": "python.run_s",
}
#: SQL metric type -> factor to the layer metric's unit (MB, s)
_UNIT_SCALE = {"size": 1 / MB, "timing": 1e-3, "nsTiming": 1e-9}


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (
            plan.get("nodeName", ""), m["name"], m.get("metricType", "")
        )
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def parse_event_log(path: str) -> dict:
    """Jobs, stages, tasks, SQL-metric ownership and block updates from
    an uncompressed, non-rolling JSON event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, int] = {}  # completed stage id -> job id
    tasks: list[dict] = []
    acc_owner: dict[int, tuple[str, str, str]] = {}
    blocks: list[tuple[float, str, int]] = []  # (time, block, held bytes)
    now = 0.0
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                now = ev["Submission Time"] / 1000
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "start": now, "end": None,
                    "group": props.get("spark.jobGroup.id"),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                now = ev["Completion Time"] / 1000
                jobs[ev["Job ID"]]["end"] = now
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    stages[sid] = stage_job[sid]
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                now = info["Finish Time"] / 1000
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "job": stage_job.get(ev["Stage ID"]),
                    "failed": bool(info.get("Failed")),
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "input": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                    # SQL metric updates are logged as decimal strings
                    "acc": [
                        (a["ID"], int(a["Update"]))
                        for a in info.get("Accumulables", [])
                        if str(a.get("Update", "")).isdigit()
                    ],
                })
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_owner)
            elif kind == "SparkListenerBlockUpdated":
                bi = ev["Block Updated Info"]
                held = bi.get("Memory Size", 0) + bi.get("Disk Size", 0)
                blocks.append((now, bi["Block ID"], held))
    return {
        "jobs": jobs, "stages": stages, "tasks": tasks,
        "acc_owner": acc_owner, "blocks": blocks,
    }


def _cached_bytes(blocks, until: float) -> int:
    """Bytes held by persisted RDD blocks after the last update at or
    before ``until``."""
    held: dict[str, int] = {}
    for t, block, size in blocks:
        if t > until:
            break
        if block.startswith("rdd_"):
            held[block] = size
    return sum(held.values())


# ---------------------------------------------------------------------------
# per-run layer metrics
# ---------------------------------------------------------------------------


def spans_of_run(spans: list[dict], run_id: int) -> list[dict]:
    """The run's spans, with ``parent`` re-pointed into the returned list."""
    index = {i: n for n, i in enumerate(
        i for i, s in enumerate(spans) if s["run_id"] == run_id
    )}
    return [
        {**spans[i], "parent": index.get(spans[i]["parent"])} for i in index
    ]


def layer_metrics(spans: list[dict], log: dict, run_id: int, cores: int) -> dict:
    """Per-layer metrics of one traced run."""
    own = spans_of_run(spans, run_id)
    selft = self_times(own)
    by_name: dict[str, list[int]] = {}
    for i, s in enumerate(own):
        by_name.setdefault(s["name"], []).append(i)

    def dur(i: int) -> float:
        return own[i]["end"] - own[i]["start"]

    def total(name: str) -> float:
        return sum(dur(i) for i in by_name.get(name, []))

    (root,) = by_name["executor.run_project"]
    t0, t1 = own[root]["start"], own[root]["end"]
    wall = t1 - t0

    ops = _top_level(own, "operators.")
    funcs = _top_level(own, "functions.")
    lowers = _top_level(own, "functions.lower")
    writes = by_name.get("destinations.write", [])

    # jobs and tasks of this run: submitted inside the run's interval
    jobs = {
        j: v for j, v in log["jobs"].items() if t0 <= v["start"] <= t1 + 1e-3
    }
    tasks = [t for t in log["tasks"] if t["job"] in jobs]
    op_intervals = [(own[i]["start"], own[i]["end"]) for i in ops]
    build_jobs = sum(
        1 for v in jobs.values()
        if any(s - 1e-3 <= v["start"] <= e + 1e-3 for s, e in op_intervals)
    )
    gap = 0.0
    for i in writes:
        s, e = own[i]["start"], own[i]["end"]
        group = f"$destinations.{own[i]['dest']}"
        covered = [
            (max(s, v["start"]), min(e, v["end"] or e))
            for v in jobs.values() if v["group"] == group
        ]
        gap += (e - s) - _union([c for c in covered if c[1] > c[0]])

    py = dict.fromkeys(_PY_METRICS.values(), 0.0)
    for t in tasks:
        for acc_id, upd in t["acc"]:
            node, metric, kind = log["acc_owner"].get(acc_id, ("", "", ""))
            if _PY_NODE in node and metric in _PY_METRICS:
                py[_PY_METRICS[metric]] += upd * _UNIT_SCALE.get(kind, 1)

    task_run = sum(t["run_ms"] for t in tasks) / 1000
    n_lower = len(lowers)
    hashes = by_name.get("runs.hash", [])
    return {
        "config.compile_s": total("config.compile"),
        "graph.build_s": total("graph.build"),
        "runs.hash_s": total("runs.hash"),
        "runs.hashed_mb": sum(own[i]["rchar"] for i in hashes) / MB,
        "sources.build_s": total("sources.read"),
        "sources.calls": len(by_name.get("sources.read", [])),
        "operators.build_s": sum(dur(i) for i in ops),
        "operators.calls": len(ops),
        "operators.build_jobs": build_jobs,
        "functions.template_s": sum(dur(i) for i in funcs),
        "functions.templates": len(by_name.get("functions.template", [])),
        "functions.lowered_frac": (
            sum(1 for i in lowers if own[i]["lowered"]) / n_lower if n_lower else 1.0
        ),
        **py,
        "destinations.spark_write_s": sum(
            dur(i) for i in _top_level(own, "destinations.spark_write")
        ),
        "destinations.concat_s": sum(selft[i] for i in writes)
        + sum(selft[i] for i in by_name.get("destinations.render", [])),
        "executor.self_s": selft[root],
        "executor.cached_mb": _cached_bytes(log["blocks"], t1) / MB,
        "spark.jobs": len(jobs),
        "spark.stages": sum(1 for j in log["stages"].values() if j in jobs),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": sum(1 for t in tasks if t["failed"]),
        "spark.task_run_s": task_run,
        "spark.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
        "spark.slot_util": task_run / (wall * cores),
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / MB,
        "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / MB,
        "spark.spill_mb": sum(t["spill"] for t in tasks) / MB,
        "spark.input_mb": sum(t["input"] for t in tasks) / MB,
        "spark.driver_gap_s": gap,
    }


def median_metrics(per_run: list[dict]) -> dict:
    return {k: statistics.median(m[k] for m in per_run) for k in per_run[0]}


def find_event_log(log_dir: str) -> str:
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    return os.path.join(log_dir, name)
