"""Self-tests of the benchmark: span arithmetic, the output oracle, the
failure accounting, and each workload end to end at a tiny size.

    python3 -m pytest embench/test_embench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import spans  # noqa: E402
import worker  # noqa: E402
import workloads  # noqa: E402


def _span(name, start, end, parent=None, run_id=1, **attrs):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "run_id": run_id, **attrs}


def test_self_time_subtracts_children_once():
    tree = [
        _span("executor.run_project", 0.0, 10.0),
        _span("operators.join", 1.0, 4.0, parent=0),
        _span("functions.template", 2.0, 3.0, parent=1),
        _span("destinations.write", 5.0, 9.0, parent=0),
        # overlapping children are covered once, not twice
        _span("destinations.spark_write", 5.5, 7.0, parent=3),
        _span("destinations.spark_write", 6.0, 8.0, parent=3),
    ]
    assert spans.self_times(tree) == pytest.approx([3.0, 2.0, 1.0, 1.5, 1.5, 2.0])


def test_layer_metrics_on_synthetic_run():
    tree = [
        _span("executor.run_project", 100.0, 110.0),
        _span("operators.pivot", 101.0, 103.0, parent=0),
        _span("operators.group_by", 101.5, 102.0, parent=1),
        _span("functions.lower", 103.0, 103.5, parent=0, lowered=True),
        _span("functions.lower", 103.5, 104.0, parent=0, lowered=False),
        _span("destinations.write", 104.0, 109.0, parent=0, dest="out"),
        _span("destinations.spark_write", 105.0, 108.0, parent=5),
        _span("config.compile", 0.0, 1.0, run_id=2),  # another run
    ]
    log = {
        "jobs": {
            0: {"start": 102.5, "end": 102.9, "group": None},
            1: {"start": 105.0, "end": 108.0, "group": "$destinations.out"},
            2: {"start": 200.0, "end": 201.0, "group": None},
        },
        "stages": {0: 0, 1: 1, 2: 2},
        "tasks": [
            {"job": 1, "failed": False, "run_ms": 4000, "cpu_ns": 3e9,
             "gc_ms": 0, "spill": 0, "shuffle_read": 0, "shuffle_write": 0,
             "input": 2e6, "acc": []},
        ],
        "acc_owner": {},
        "blocks": [(102.9, "rdd_3_0", 5_000_000), (201.0, "rdd_9_0", 1)],
    }
    m = spans.layer_metrics(tree, log, run_id=1, cores=4)
    assert m["operators.calls"] == 1  # the nested group_by is not a call
    assert m["operators.build_s"] == pytest.approx(2.0)
    assert m["operators.build_jobs"] == 1
    assert m["functions.lowered_frac"] == 0.5
    assert m["config.compile_s"] == 0.0
    assert m["spark.jobs"] == 2 and m["spark.tasks"] == 1
    assert m["spark.slot_util"] == pytest.approx(4.0 / (10.0 * 4))
    assert m["spark.driver_gap_s"] == pytest.approx(2.0)
    assert m["destinations.concat_s"] == pytest.approx(2.0)
    assert m["executor.self_s"] == pytest.approx(10.0 - 2.0 - 1.0 - 5.0)
    assert m["executor.cached_mb"] == pytest.approx(5.0)
    assert set(m) | {"destinations.out_mb", "destinations.out_rows"} == (
        set(run.LAYER_UNITS) - {"trace.overhead_s", "jvm_rss_mb"}
    )


def _oracle_output(tmp_path, corrupt: bool):
    """A fake ``run_project`` that writes the oracle's own lines for the
    tiny bulk workload, optionally with one line changed."""
    data = tmp_path / "data"
    spec = workloads.build("bulk_render", 3, str(data), scale=0.001)
    rows = [workloads._mapped(r) for r in workloads._bulk_rows(3, spec["input_rows"])]
    lines = workloads._render_expected(
        rows, workloads._EVENT_NAMES, workloads._BULK_ADD, workloads._BULK_TEMPLATE
    )
    if corrupt:
        lines[0] = lines[0].replace(b"Present", b"Presnet").replace(b"Absent", b"Absnet")

    def fake_run_project(spark, config, overrides=None, output_dir=None):
        os.makedirs(output_dir)
        with open(os.path.join(output_dir, "attendance.jsonl"), "wb") as fh:
            fh.write(b"\n".join(lines) + b"\n")
        return {"$destinations.attendance": output_dir}

    spec.update(work=str(tmp_path))
    return worker.Runner(None, spec, run_project=fake_run_project)


def test_oracle_accepts_its_own_lines(tmp_path):
    _, ok, _ = _oracle_output(tmp_path, corrupt=False).run_once()
    assert ok


def test_corrupted_line_counts_as_failure(tmp_path):
    runner = _oracle_output(tmp_path, corrupt=True)
    _, ok, _ = runner.run_once()
    assert not ok
    assert "attendance.jsonl" in runner.failures[0]


def test_skipped_run_counts_as_failure(tmp_path):
    spec = {"work": str(tmp_path), "config": "unused", "state_file": True,
            "expected": {}}
    runner = worker.Runner(
        None, spec,
        run_project=lambda *a, **k: {"__skipped__": "inputs unchanged"},
    )
    _, ok, _ = runner.run_once()
    assert not ok
    assert "skipped" in runner.failures[0]


def test_seed_determines_inputs(tmp_path):
    a = workloads.build("udf_render", 5, str(tmp_path / "a"), scale=0.01)
    b = workloads.build("udf_render", 5, str(tmp_path / "b"), scale=0.01)
    c = workloads.build("udf_render", 6, str(tmp_path / "c"), scale=0.01)
    assert a["expected"] == b["expected"] != c["expected"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "embench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "embench/run.py", "--workload", "bulk_render",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _run_bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace),
         "--scale", "0.01"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_passes_oracle_traced(workload):
    out = _run_bench(workload, trace=1)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 4
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == set(run.LAYER_UNITS)
    assert m["spark.jobs"] > 0 and m["destinations.out_rows"] > 0
    if workload == "bulk_render":
        # the control: no shuffle, no Python rows, every template lowered
        assert m["python.rows"] == 0
        assert m["spark.shuffle_write_mb"] == 0
        assert m["functions.lowered_frac"] == 1.0
        assert m["runs.hashed_mb"] > 0
    else:
        # every row crosses to Python; the pivot runs jobs while it is built
        assert m["python.rows"] >= m["destinations.out_rows"] - 10
        assert m["functions.lowered_frac"] < 1.0
        assert m["operators.build_jobs"] > 0
        assert m["spark.shuffle_write_mb"] > 0
        assert m["executor.cached_mb"] > 0


def test_end_to_end_metrics_untraced():
    out = _run_bench("bulk_render", trace=0)
    assert out["correct"]
    assert set(out["metrics"]) == set(run.END_TO_END_UNITS)
    assert all(v["value"] > 0 for v in out["metrics"].values())
