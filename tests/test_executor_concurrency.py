"""Concurrent destination writes in ``Executor.run``.

Each destination is written on a pool thread as soon as its source
frame is built. These tests pin the behaviour that must not change with
that: overlap without timing assertions, one failure cancelling the
rest, topological result order, per-destination job groups, streaming
destinations, and fan-out caches released when the run ends.
"""

import json
import os
import textwrap
import threading
import time

import pytest
from pyspark import StorageLevel

import earthmover_spark.plans.executor as executor
from earthmover_spark.plans.config import compile_config
from earthmover_spark.plans.executor import Executor, run_project
from earthmover_spark.util import EarthmoverSparkError

#: one CSV fanned out to two destinations (so the source is persisted)
FAN_OUT_YAML = """\
config:
  output_dir: ./output
  state_file: ./runs.csv
sources:
  people:
    file: ./people.csv
    header_rows: 1
destinations:
  a:
    source: $sources.people
    extension: jsonl
  b:
    source: $sources.people
    extension: jsonl
"""


def _project(tmp_path, rows=(("1", "ann"), ("2", "bob"))):
    (tmp_path / "earthmover.yaml").write_text(FAN_OUT_YAML)
    _write_people(tmp_path, rows)
    return str(tmp_path / "earthmover.yaml")


def _write_people(tmp_path, rows):
    (tmp_path / "people.csv").write_text(
        "id,name\n" + "".join(f"{i},{n}\n" for i, n in rows)
    )


def _lines(path):
    with open(path) as fh:
        return sorted(json.loads(ln)["name"] for ln in fh if ln.strip())


def _wrap_writes(monkeypatch, before=None, after=None):
    """Patch the executor's ``write_destination`` so ``before(name)``
    runs before each real write and ``after(name)`` after it."""
    orig = executor.write_destination

    def wrapped(df, name, *args, **kwargs):
        if before:
            before(name)
        out = orig(df, name, *args, **kwargs)
        if after:
            after(name)
        return out

    monkeypatch.setattr(executor, "write_destination", wrapped)


def test_two_destinations_are_written_at_once(spark, tmp_path, monkeypatch):
    # each write waits at the barrier until the other has started too;
    # a sequential executor would break it after 30 s
    barrier = threading.Barrier(2, timeout=30)
    _wrap_writes(monkeypatch, before=lambda name: barrier.wait())
    res = run_project(spark, _project(tmp_path), skip_hashing=True)
    assert _lines(res["$destinations.a"]) == ["ann", "bob"]
    assert _lines(res["$destinations.b"]) == ["ann", "bob"]


def test_failed_write_cancels_the_others(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    baseline = threading.active_count()
    earlier = set(sc.statusTracker().getJobIdsForGroup("$destinations.a"))

    def before(name):
        if name == "a":
            # a long job under a's job group: only a cancel ends it early
            sc.parallelize([0], 1).foreach(lambda _: __import__("time").sleep(120))
        else:
            deadline = time.monotonic() + 60
            while set(sc.statusTracker().getJobIdsForGroup("$destinations.a")) <= earlier:
                assert time.monotonic() < deadline, "a's job never started"
                time.sleep(0.05)
            raise RuntimeError("disk full")

    _wrap_writes(monkeypatch, before=before)
    t0 = time.monotonic()
    with pytest.raises(EarthmoverSparkError, match=r"\$destinations\.b: disk full"):
        run_project(spark, _project(tmp_path))
    assert time.monotonic() - t0 < 100  # did not wait for the 120 s job
    jobs = set(sc.statusTracker().getJobIdsForGroup("$destinations.a")) - earlier
    assert jobs
    assert {sc.statusTracker().getJobInfo(j).status for j in jobs} == {"FAILED"}
    assert threading.active_count() == baseline
    assert not os.path.exists(tmp_path / "runs.csv")


def test_failed_build_names_the_node_and_joins_writes(spark, tmp_path):
    (tmp_path / "earthmover.yaml").write_text(FAN_OUT_YAML + textwrap.dedent("""\
          c:
            source: $transformations.broken
        transformations:
          broken:
            source: $sources.people
            operations:
              - operation: sql
                query: SELECT no_such_column FROM $sources.people
    """))
    _write_people(tmp_path, [("1", "ann")])
    baseline = threading.active_count()
    with pytest.raises(EarthmoverSparkError, match=r"\$transformations\.broken"):
        run_project(spark, str(tmp_path / "earthmover.yaml"))
    assert threading.active_count() == baseline
    assert not os.path.exists(tmp_path / "runs.csv")


def test_results_keep_topological_order(spark, tmp_path, monkeypatch):
    # a, first in topological order, finishes only after b has finished
    b_done = threading.Event()
    _wrap_writes(
        monkeypatch,
        before=lambda name: name == "a" and b_done.wait(30),
        after=lambda name: name == "b" and b_done.set(),
    )
    results_file = str(tmp_path / "results.json")
    res = run_project(
        spark, _project(tmp_path), skip_hashing=True, results_file=results_file
    )
    assert list(res) == ["$destinations.a", "$destinations.b"]
    with open(results_file) as fh:
        report = json.load(fh)
    assert list(report["nodes"]) == [
        "$sources.people", "$destinations.a", "$destinations.b"
    ]
    assert report["nodes"]["$sources.people"]["rows"] == 2


def test_each_destination_has_its_own_job_group(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=30)
    seen = {}

    def before(name):
        barrier.wait()  # both groups are set before either write runs
        seen[name] = sc.getLocalProperty("spark.jobGroup.id")

    def group_jobs(name):
        return set(sc.statusTracker().getJobIdsForGroup(f"$destinations.{name}"))

    earlier = group_jobs("a") | group_jobs("b")
    _wrap_writes(monkeypatch, before=before)
    run_project(spark, _project(tmp_path), skip_hashing=True)
    assert seen == {"a": "$destinations.a", "b": "$destinations.b"}
    a, b = group_jobs("a") - earlier, group_jobs("b") - earlier
    assert a and b and not a & b
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_streaming_destination_next_to_batch(spark, tmp_path):
    import glob

    inbox = tmp_path / "inbox"
    spark.createDataFrame([(1, "x"), (2, "y")], ["id", "word"]) \
        .coalesce(1).write.parquet(str(inbox))
    _write_people(tmp_path, [("1", "ann")])
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""\
        sources:
          events:
            file: inbox
            type: parquet
            stream: True
          people:
            file: ./people.csv
            header_rows: 1
        destinations:
          events_out:
            source: $sources.events
          people_out:
            source: $sources.people
    """))
    res = run_project(
        spark, str(tmp_path / "earthmover.yaml"), output_dir=str(tmp_path / "o")
    )
    assert list(res) == ["$destinations.events_out", "$destinations.people_out"]
    words = sorted(
        json.loads(ln)["word"]
        for part in glob.glob(res["$destinations.events_out"] + "/part-*")
        for ln in open(part).read().splitlines()
    )
    assert words == ["x", "y"]
    assert _lines(res["$destinations.people_out"]) == ["ann"]
    assert spark.streams.active == []


def test_fan_out_cache_released_after_run(spark, tmp_path):
    config = _project(tmp_path)
    out = str(tmp_path / "o")
    ex = Executor(spark, compile_config(config))
    res = ex.run(output_dir=out)
    assert _lines(res["$destinations.a"]) == ["ann", "bob"]
    assert ex.data
    assert all(df.storageLevel == StorageLevel.NONE for df in ex.data.values())

    # the same file path read again in the same session must not be
    # served from the first run's cache
    _write_people(tmp_path, [("3", "cy")])
    res = run_project(spark, config, output_dir=out, skip_hashing=True)
    assert _lines(res["$destinations.a"]) == ["cy"]
    assert _lines(res["$destinations.b"]) == ["cy"]
