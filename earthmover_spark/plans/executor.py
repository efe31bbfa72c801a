"""DAG executor: topological node evaluation -> lazy DataFrame per node
-> destination writes (reference: earthmover/earthmover.py:251-279).

Improvements over the reference noted in SURVEY.md §4:
- a node feeding multiple downstream consumers is ``.persist()``ed
  (the reference recomputes it per destination), and released when the
  run ends, so a later run in the same session reads its inputs afresh;
- everything stays lazy until a destination writes;
- destinations are written concurrently: each write goes to a thread
  pool the moment its source frame is built, while the main thread
  builds the rest of the DAG (the reference runs one node at a time).
  Each write runs in its own Spark job group. The first failure, of a
  build or a write, cancels the other writes' job groups, waits for
  every thread and raises an error that names the node.
"""

from __future__ import annotations

import json
import os
import re
import time
from concurrent.futures import FIRST_EXCEPTION, Future, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from earthmover_spark.destinations import write_destination
from earthmover_spark.functions.jinja_compute import template_column
from earthmover_spark.operators import OPERATIONS
from earthmover_spark.plans.config import ProjectConfig, compile_config
from earthmover_spark.plans.graph import Graph
from earthmover_spark.sources import read_source
from earthmover_spark.util import EarthmoverSparkError

from pyspark.sql import functions as F

#: operation config keys that are engine-level, not operator kwargs
_META_KEYS = {"operation", "repartition", "sources", "source"}


def _node_error(name: str, exc: BaseException) -> EarthmoverSparkError:
    """``exc`` as an engine error whose message starts with the node."""
    msg = str(exc)
    return EarthmoverSparkError(msg if msg.startswith(name) else f"{name}: {msg}")


def _raise_failed(writes: dict[str, Future]) -> None:
    """Raise the error of the first destination write that failed."""
    for dest, fut in writes.items():
        if fut.done() and not fut.cancelled() and fut.exception() is not None:
            raise _node_error(dest, fut.exception()) from fut.exception()


class Executor:
    def __init__(self, spark: SparkSession, project: ProjectConfig):
        self.spark = spark
        self.project = project
        self.graph = Graph(project)
        self.data: dict[str, DataFrame] = {}
        self.results: dict[str, str] = {}
        #: frames this executor persisted; released when ``run`` ends
        self._persisted: list[DataFrame] = []

    # -- node evaluation ----------------------------------------------------

    def _resolve(self, ref: str) -> DataFrame:
        if ref not in self.data:
            raise EarthmoverSparkError(f"reference {ref!r} not yet evaluated")
        return self.data[ref]

    def _eval_source(self, name: str, cfg: dict) -> DataFrame:
        cfg = dict(cfg)
        if cfg.get("stream"):
            # `stream: True` — engine extension (the reference is batch-
            # only): the source becomes a Structured Streaming file
            # source, and with the destination's checkpoint each run
            # processes only files that arrived since the last run —
            # per-file incremental pipelines instead of the reference's
            # all-or-nothing run skip.
            from earthmover_spark.streaming import read_stream_source

            file = cfg.get("file")
            if not file:
                raise EarthmoverSparkError(f"{name}: streaming source needs `file`")
            if not os.path.isabs(file):
                file = os.path.join(self.project.base_dir, file)
            fmt = cfg.get("type") or "parquet"
            return read_stream_source(self.spark, file, format=fmt)
        connection = cfg.get("connection")
        if connection:
            if connection.startswith("ftp://"):
                from earthmover_spark.sources import read_ftp

                return read_ftp(self.spark, connection)
            from earthmover_spark.sources import read_sql

            if not cfg.get("query"):
                raise EarthmoverSparkError(f"{name}: SQL source needs `query`")
            return read_sql(self.spark, connection, cfg["query"])
        file = cfg.pop("file", None)
        if file and not os.path.isabs(file):
            file = os.path.join(self.project.base_dir, file)
        kwargs = {
            k: v
            for k, v in cfg.items()
            if k
            in (
                "type", "columns", "optional", "optional_fields", "encoding",
                "header_rows", "fill_sparse_headers", "sheet", "match",
                "xpath", "orientation", "object_type", "colspecs",
                "colspec_file", "colspec_headers", "sep",
                "record_types", "strip_http", "rename_cols",
                "merge_schema",
            )
        }
        return read_source(self.spark, file, **kwargs)

    def _sql_operation(self, name: str, query: str) -> DataFrame:
        """dbt-style SQL transformation (engine extension): the query
        references upstream nodes as ``$sources.x`` / ``$transformations.y``;
        each is registered as a temp view and the reference rewritten, so
        the full Spark SQL surface (CTEs, window functions, lateral
        views) composes with YAML operations — Catalyst optimizes across
        the boundary since views are just plans."""
        def _sub(m: "re.Match[str]") -> str:
            ref = m.group(0)
            df = self._resolve(ref)
            view = ref.replace("$", "em_").replace(".", "__")
            df.createOrReplaceTempView(view)
            return view

        rewritten = re.sub(
            r"\$(?:sources|transformations)\.\w+", _sub, query
        )
        return self.spark.sql(rewritten)

    def _eval_transformation(self, name: str, cfg: dict) -> DataFrame:
        df = self._resolve(cfg["source"]) if cfg.get("source") else None
        for op_cfg in cfg["operations"]:
            # YAML 1.1 reads a bare `on:` key as boolean True — map it
            # back (join_stream / enrich_stream use an `on` parameter)
            op_cfg = {("on" if k is True else k): v for k, v in op_cfg.items()}
            op_name = op_cfg.pop("operation")
            if op_name == "sql":
                df = self._sql_operation(name, op_cfg["query"])
                continue
            fn = OPERATIONS.get(op_name)
            if fn is None:
                raise EarthmoverSparkError(f"{name}: unknown operation {op_name!r}")
            repartition = op_cfg.pop("repartition", None)
            for path_key in ("map_file", "colspec_file"):
                if op_cfg.get(path_key) and not os.path.isabs(op_cfg[path_key]):
                    op_cfg[path_key] = os.path.join(
                        self.project.base_dir, op_cfg[path_key]
                    )
            kwargs = {k: v for k, v in op_cfg.items() if k not in ("sources",)}
            if op_name in ("join", "union", "intersect_rows", "except_rows"):
                srcs = [self._resolve(s) for s in op_cfg["sources"]]
                if df is None and srcs:
                    # source-less transformation (valid when the first op
                    # carries op-level `sources`): the first source is the
                    # left frame, like the reference's multi-source fold.
                    df, srcs = srcs[0], srcs[1:]
                kwargs["sources"] = srcs
            if op_name == "semi_join":
                kwargs["source"] = self._resolve(op_cfg["source"])
            if op_name in (
                "asof_join", "interval_join", "join_stream", "lsh_join"
            ):
                kwargs["right"] = self._resolve(op_cfg["right"])
            if op_name == "enrich_stream":
                kwargs["static_df"] = self._resolve(op_cfg["static_df"])
            if op_name in ("resolve_duplicates", "resolve_duplicates_by_score"):
                kwargs["pairs"] = self._resolve(op_cfg["pairs"])
            if op_name in ("decontaminate", "decontaminate_near"):
                kwargs["benchmark"] = self._resolve(op_cfg["benchmark"])
            if op_name == "decontaminate_bloom":
                for side in ("benchmark", "sketch"):
                    if op_cfg.get(side):
                        kwargs[side] = self._resolve(op_cfg[side])
            if op_name in ("quality_classifier", "score_with_model"):
                kwargs["weights"] = self._resolve(op_cfg["weights"])
            if op_name == "merge_upsert":
                kwargs["updates"] = self._resolve(op_cfg["updates"])
            if op_name == "novel_docs":
                kwargs["seen"] = self._resolve(op_cfg["seen"])
            if op_name in ("snapshot_diff", "profile_compare"):
                kwargs["new"] = self._resolve(op_cfg["new"])
            if op_name in ("cm_estimate", "bloom_probe"):
                kwargs["keys"] = self._resolve(op_cfg["keys"])
            if op_name in ("lm_divergence", "kmv_jaccard"):
                kwargs["b"] = self._resolve(op_cfg["b"])
            if op_name == "dsir_weights":
                kwargs["target"] = self._resolve(op_cfg["target"])
            if op_name in (
                "hard_negatives", "mine_triplets", "mine_triplets_bucketed"
            ):
                kwargs["corpus"] = self._resolve(op_cfg["corpus"])
            if op_name == "unigram_logprob_ref":
                kwargs["ref"] = self._resolve(op_cfg["ref"])
            if op_name == "retrieval_metrics":
                kwargs["qrels"] = self._resolve(op_cfg["qrels"])
            if op_name == "validate_table" and op_cfg.get("references"):
                kwargs["references"] = {
                    k: self._resolve(v)
                    for k, v in op_cfg["references"].items()
                }
            if op_name == "filter_domains":
                for side in ("blocklist", "allowlist"):
                    v = op_cfg.get(side)
                    if isinstance(v, str) and v.startswith("$"):
                        kwargs[side] = self._resolve(v)
            if op_name in ("add_columns", "modify_columns"):
                kwargs.setdefault("macros", self.project.macros)
            if df is None:
                raise EarthmoverSparkError(f"{name}: no upstream data for {op_name}")
            df = fn(df, **kwargs)
            if repartition:
                df = df.repartition(int(repartition))
        return df

    def _check_expectations(self, name: str, cfg: dict, df: DataFrame) -> None:
        """`expect` row predicates + `require_rows`
        (reference node.py:165-194, 74-78)."""
        require = cfg.get("require_rows")
        if require:
            n = df.count()
            want = 1 if require is True else int(require)
            if n < want:
                raise EarthmoverSparkError(
                    f"{name}: require_rows {want} not met (got {n})"
                )
        for exp in cfg.get("expect") or []:
            tmpl = exp if "{{" in str(exp) or "{%" in str(exp) else "{{" + str(exp) + "}}"
            rendered = template_column(
                tmpl, df.columns, macros=self.project.macros,
                schema=df.schema,
            )
            failing = df.filter(~(rendered == F.lit("True"))).count()
            if failing:
                raise EarthmoverSparkError(
                    f"{name}: expectation {exp!r} failed for {failing} rows"
                )

    # -- run ----------------------------------------------------------------

    def _build(self, name: str, cfg: dict, fan_out: bool) -> DataFrame:
        """One source or transformation frame, checked; a frame with
        more than one consumer is persisted until the end of the run."""
        if self.graph.nodes[name].kind == "sources":
            df = self._eval_source(name, cfg)
        else:
            df = self._eval_transformation(name, cfg)
        if df.isStreaming:
            return df
        self._check_expectations(name, cfg, df)
        if cfg.get("debug"):
            print(f"-- {name}: {len(df.columns)} columns {df.columns}")
            df.show(5, truncate=False)
        if cfg.get("repartition"):
            df = df.repartition(int(cfg["repartition"]))
        if fan_out:
            df = df.persist()
            self._persisted.append(df)
        return df

    def run(
        self,
        selector: str = "*",
        output_dir: str | None = None,
        results_file: str | None = None,
        show_graph: bool = False,
    ) -> dict[str, str]:
        subset = self.graph.select(selector)
        order = self.graph.topological_order(subset)
        consumers = self.graph.consumer_counts(subset)
        out_dir = output_dir or os.path.join(
            self.project.base_dir, self.project.output_dir
        )
        # destinations by the frame they write; each one is submitted
        # the moment that frame is built
        waiting: dict[str, list[str]] = {}
        for name in order:
            node = self.graph.nodes[name]
            if node.kind == "destinations":
                waiting.setdefault(node.config["source"], []).append(name)
        n_dest = sum(map(len, waiting.values()))
        pool = ThreadPoolExecutor(
            max(1, min(n_dest, self.spark.sparkContext.defaultParallelism)),
            thread_name_prefix="earthmover-destination",
        )
        writes: dict[str, Future] = {}
        node_stats: dict[str, dict] = {}
        t_start = time.time()
        try:
            try:
                for name in order:
                    node = self.graph.nodes[name]
                    if node.kind == "destinations":
                        continue
                    _raise_failed(writes)
                    t0 = time.time()
                    try:
                        df = self._build(
                            name, node.config, consumers.get(name, 0) > 1
                        )
                    except Exception as exc:
                        raise _node_error(name, exc) from exc
                    self.data[name] = df
                    node_stats[name] = {"seconds": round(time.time() - t0, 3)}
                    for dest in waiting.get(name, ()):
                        writes[dest] = pool.submit(
                            inheritable_thread_target(self.spark)(
                                self._write_destination
                            ),
                            dest, self.graph.nodes[dest].config, df, out_dir,
                        )
                wait(writes.values(), return_when=FIRST_EXCEPTION)
                _raise_failed(writes)
            except BaseException:
                self._cancel_writes(writes)
                raise
            finally:
                pool.shutdown(wait=True)
            for name in order:
                if name in writes:
                    self.results[name], seconds = writes[name].result()
                    node_stats[name] = {"seconds": seconds}
            node_stats = {name: node_stats[name] for name in order}
            if results_file:
                self._write_results(results_file, node_stats, t_start)
        finally:
            for df in self._persisted:
                df.unpersist()
            self._persisted.clear()
        if show_graph:
            # DOT DAG next to the outputs (reference -g/--show-graph,
            # earthmover/__main__.py:94); row counts included when a
            # results run computed them. A PNG render is attempted too
            # (reference graph.py:116-160) when a renderer exists.
            from earthmover_spark.plans.graph import render_png, to_dot

            os.makedirs(out_dir, exist_ok=True)
            graph_path = os.path.join(out_dir, "graph.dot")
            with open(graph_path, "w") as fh:
                fh.write(to_dot(self.graph, subset, node_stats))
            self.results["__graph__"] = graph_path
            png = render_png(
                self.graph, os.path.join(out_dir, "graph.png"), subset, node_stats
            )
            if png:
                self.results["__graph_png__"] = png
        return self.results

    def _cancel_writes(self, writes: dict[str, Future]) -> None:
        """Drop queued writes and cancel the job groups of running ones
        until every write has ended (a write may start its next job
        after its group was cancelled, so cancelling repeats)."""
        for fut in writes.values():
            fut.cancel()
        sc = self.spark.sparkContext
        while running := {d: f for d, f in writes.items() if not f.done()}:
            for dest in running:
                sc.cancelJobGroup(dest)
            wait(running.values(), timeout=0.5)

    def _write_results(
        self, results_file: str, node_stats: dict[str, dict], t_start: float
    ) -> None:
        # row counts force one count per node — opt-in, like the
        # reference's --results-file (earthmover.py:409-419)
        for name, df in self.data.items():
            if name in node_stats and not df.isStreaming:
                node_stats[name]["rows"] = df.count()
        with open(results_file, "w") as fh:
            json.dump(
                {
                    "total_seconds": round(time.time() - t_start, 3),
                    "nodes": node_stats,
                    "destinations": self.results,
                },
                fh,
                indent=2,
            )

    def _write_streaming(
        self, name: str, cfg: dict, df: DataFrame, out_dir: str
    ) -> str:
        """Streaming destination: availableNow trigger drains whatever
        is new, the checkpoint remembers processed files, and the query
        stops — batch ergonomics, per-file incremental semantics.
        Text destinations render through the same ``render_lines`` path
        (template exprs and the Jinja pandas_udf both compose onto
        streaming frames); columnar formats write part files."""
        from earthmover_spark.destinations.file_destination import render_lines
        from earthmover_spark.streaming import write_stream_destination

        short = name.split(".", 1)[1]
        fmt = cfg.get("format")
        checkpoint = os.path.join(out_dir, ".checkpoints", short)
        if fmt in ("parquet", "orc", "csv"):
            out_path = os.path.join(out_dir, f"{short}.{fmt}.d")
        else:
            template_file = cfg.get("template")
            template = None
            if template_file:
                if not os.path.isabs(template_file):
                    template_file = os.path.join(self.project.base_dir, template_file)
                with open(template_file) as fh:
                    template = fh.read()
            df = render_lines(
                df, template, macros=self.project.macros,
                loader_dir=self.project.base_dir,
                linearize=cfg.get("linearize", True),
            )
            fmt = "text"
            out_path = os.path.join(
                out_dir, f"{short}.{cfg.get('extension', 'jsonl')}.d"
            )
        os.makedirs(out_dir, exist_ok=True)
        output_mode = cfg.get("output_mode", "append")
        if output_mode != "append":
            # file sinks only accept append; update/complete-mode plans
            # (applyInPandasWithState, non-watermarked aggs) route
            # through foreachBatch, appending each micro-batch's rows.
            sink_fmt = fmt

            def _sink(batch_df: DataFrame, _batch_id: int) -> None:
                batch_df.write.mode("append").format(sink_fmt).save(out_path)

            q = (
                df.writeStream.outputMode(output_mode)
                .option("checkpointLocation", checkpoint)
                .foreachBatch(_sink)
                .trigger(availableNow=True)
                .start()
            )
        else:
            q = write_stream_destination(
                df, path=out_path, format=fmt, checkpoint=checkpoint,
                trigger_once=True,
            )
        q.awaitTermination()
        return out_path

    def _show_progress(self, cfg: dict) -> bool:
        """Node-level ``show_progress`` with a config-level default —
        reference node.py:59 (ProgressBar per node). The Spark mapping
        is job-group tagging (every destination's jobs are attributed to
        it in the Spark UI) plus an opt-in per-destination timing line,
        printed when the write ends. Writes run concurrently, so these
        are overlapping wall times: they need not add up to the run's
        total, and the lines come in completion order."""
        return bool(
            cfg.get("show_progress", self.project.config.get("show_progress"))
        )

    def _write_destination(
        self, name: str, cfg: dict, df: DataFrame, out_dir: str
    ) -> tuple[str, float]:
        """Write one destination on a pool thread; returns its path and
        wall seconds."""
        t0 = time.time()
        # Attribute all jobs this destination triggers to the node name
        # (Spark UI: job group = node), the engine's ProgressBar analog.
        # Local properties are per thread (pinned-thread mode), so
        # concurrent writes keep their own groups.
        sc = self.spark.sparkContext
        sc.setJobGroup(name, f"earthmover_spark destination {name}")
        try:
            path = self._write_destination_inner(name, cfg, df, out_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        seconds = round(time.time() - t0, 3)
        if self._show_progress(cfg):
            print(f"-- {name}: written in {seconds}s")
        return path, seconds

    def _write_destination_inner(
        self, name: str, cfg: dict, df: DataFrame, out_dir: str
    ) -> str:
        if df.isStreaming:
            return self._write_streaming(name, cfg, df, out_dir)
        if cfg.get("format") in ("parquet", "orc", "csv"):
            from earthmover_spark.destinations.file_destination import write_columnar

            return write_columnar(
                df,
                name.split(".", 1)[1],
                out_dir,
                format=cfg["format"],
                partition_by=cfg.get("partition_by"),
                compression=cfg.get("compression"),
                target_file_mb=cfg.get("target_file_mb"),
            )
        template_file = cfg.get("template")
        if template_file and not os.path.isabs(template_file):
            template_file = os.path.join(self.project.base_dir, template_file)
        short = name.split(".", 1)[1]
        return write_destination(
            df,
            short,
            out_dir,
            template_file=template_file,
            extension=cfg.get("extension", "jsonl"),
            macros=self.project.macros,
            loader_dir=self.project.base_dir,
            linearize=cfg.get("linearize", True),
            header=cfg.get("header"),
            footer=cfg.get("footer"),
            mode=cfg.get("mode", "file"),
        )


def explain_project(
    spark: SparkSession,
    config_path: str,
    params: dict[str, str] | None = None,
    selector: str = "*",
    mode: str = "formatted",
) -> dict[str, str]:
    """Compile a YAML project and return {destination: physical plan}
    WITHOUT writing anything — the plan-inspection surface for tuning:
    check that filters pushed down, joins broadcast, and nothing fell
    back to a Python UDF before paying for a full run. Streaming
    destinations fall back to the analyzed logical plan (their physical
    plan exists only once a query starts)."""
    project = compile_config(config_path, params)
    ex = Executor(spark, project)
    subset = ex.graph.select(selector)
    plans: dict[str, str] = {}
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    for name in ex.graph.topological_order(subset):
        node = ex.graph.nodes[name]
        if node.kind == "sources":
            ex.data[name] = ex._eval_source(name, node.config)
        elif node.kind == "transformations":
            ex.data[name] = ex._eval_transformation(name, node.config)
        else:
            df = ex._resolve(node.config["source"])
            try:
                plans[name] = df._jdf.queryExecution().explainString(jvm_mode)
            except Exception:
                plans[name] = df._jdf.queryExecution().analyzed().toString()
    return plans


def run_project(
    spark: SparkSession,
    config_path: str,
    params: dict[str, str] | None = None,
    overrides: dict[str, object] | None = None,
    selector: str = "*",
    output_dir: str | None = None,
    skip_if_unchanged: bool = False,
    runs_file: str | None = None,
    results_file: str | None = None,
    show_graph: bool = False,
    force: bool = False,
    skip_hashing: bool = False,
) -> dict[str, str]:
    """Compile + execute a YAML project; returns {destination: path}.

    Run-state semantics match the reference (earthmover.py:282-341 +
    __main__.py:82-89): when the config declares a ``state_file`` (or
    ``skip_if_unchanged``/``runs_file`` opt in), input hashes (config,
    source files, templates, map files, params) are computed, an
    unchanged run is skipped entirely — returning ``{"__skipped__":
    ...}``, exit code 99 at the CLI — and every executed run is appended
    to the runs file. ``force`` executes regardless but still logs the
    run; ``skip_hashing`` disables hashing AND the run-log write."""
    project = compile_config(config_path, params, overrides)
    # config-level toggles (reference docs/configuration.md:39-74)
    show_graph = show_graph or bool(project.config.get("show_graph"))
    log_level = project.config.get("log_level")
    if log_level:
        spark.sparkContext.setLogLevel(
            {"WARNING": "WARN"}.get(str(log_level).upper(), str(log_level).upper())
        )
    tracker = None
    hashing = not skip_hashing and (
        skip_if_unchanged
        or runs_file is not None
        or bool(project.config.get("state_file"))
    )
    if hashing:
        from earthmover_spark.plans.runs import RunsFile, compute_hashes

        hashes = compute_hashes(project, params, selector)
        tracker = RunsFile(project, runs_file)
        if not force:
            prior = tracker.find_matching_run(hashes)
            if prior:
                return {
                    "__skipped__": f"inputs unchanged since run {prior['run_timestamp']}"
                }
    results = Executor(spark, project).run(
        selector, output_dir, results_file, show_graph=show_graph
    )
    if tracker is not None:
        tracker.write_run(hashes)
    return results


def run_golden_test(
    spark: SparkSession,
    config_path: str,
    params: dict[str, str] | None = None,
    expected_dir: str | None = None,
) -> dict[str, str]:
    """Golden-file test harness (reference `earthmover -t`,
    earthmover/earthmover.py:422-450): run the project into a temp
    output dir, then compare each destination's output to
    ``expected/<filename>`` as SORTED lines — order-insensitive, since a
    distributed engine may emit rows in any order. Returns
    {output_name: failure message} (empty = pass)."""
    import tempfile

    project = compile_config(config_path, params)
    expected_dir = expected_dir or os.path.join(project.base_dir, "expected")
    if not os.path.isdir(expected_dir):
        raise EarthmoverSparkError(f"expected dir not found: {expected_dir!r}")
    out_dir = tempfile.mkdtemp(prefix="em_test_out_")
    results = Executor(spark, project).run("*", out_dir)
    failures: dict[str, str] = {}
    for dest, path in results.items():
        fname = os.path.basename(path)
        want_path = os.path.join(expected_dir, fname)
        if not os.path.exists(want_path):
            failures[fname] = "no expected file"
            continue
        got = sorted(ln for ln in open(path).read().splitlines() if ln)
        want = sorted(ln for ln in open(want_path).read().splitlines() if ln)
        if got != want:
            diff = next(
                (f"first difference: {g!r} != {w!r}"
                 for g, w in zip(got, want) if g != w),
                f"line counts differ: {len(got)} vs {len(want)}",
            )
            failures[fname] = diff
    return failures
