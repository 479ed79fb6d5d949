"""Per-layer tracing for the benchmark, taken from the benchmark's side.

Two sources:

- ``Tracer`` wraps the engine's public layer functions (sources,
  operators, streaming) and two PySpark classes, and records per name the
  number of calls and the seconds spent inside them. Wrappers must be
  installed before the plan modules are imported, because those bind
  ``from ... import load_table`` at import time.
- ``spark_stats`` reads the Spark event log (uncompressed, not rolling)
  and sums jobs, stages and task metrics over the time intervals of the
  passes the benchmark timed.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import time
from collections import defaultdict

# (module, function) -> span name. A span nested in a span of the same
# name (a materialize_frame that calls localCheckpoint) counts once.
FUNCTION_SPANS = {
    ("mle_proj_datapipeline_spark.sources.catalog", "load_table"): "catalog.load_table",
    ("mle_proj_datapipeline_spark.sources.snapshots", "materialize_frame"): "snapshots.cut",
    ("mle_proj_datapipeline_spark.sources.snapshots", "write_snapshot"): "snapshots.write",
    ("mle_proj_datapipeline_spark.sources.snapshots", "read_snapshot"): "snapshots.read",
    ("mle_proj_datapipeline_spark.operators.graph", "pagerank"): "operators.pagerank",
    ("mle_proj_datapipeline_spark.operators.linalg", "top_eigvec"): "operators.top_eigvec",
    ("mle_proj_datapipeline_spark.streaming.lm", "incremental_lm_counts"): "streaming.maintenance",
    ("mle_proj_datapipeline_spark.streaming.lm", "merge_batch_counts"): "streaming.batch",
}

# class methods -> span name; parquet writes are split by target path.
METHOD_SPANS = {
    ("pyspark.sql.classic.dataframe", "DataFrame", "localCheckpoint"): "snapshots.cut",
    ("pyspark.sql.classic.dataframe", "DataFrame", "checkpoint"): "snapshots.cut",
    ("pyspark.sql.readwriter", "DataFrameWriter", "parquet"): "write.parquet",
}


class Tracer:
    """Call counts and inclusive seconds per span name."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self._active: dict[str, int] = defaultdict(int)

    def _wrap(self, name: str, fn, by_path: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = name
            if by_path:
                path = str(kwargs.get("path", args[1] if len(args) > 1 else ""))
                span = f"{name}.{'silver' if '/silver/' in path else 'gold' if '/gold/' in path else 'other'}"
            if self._active[span]:
                return fn(*args, **kwargs)
            self._active[span] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[span] += time.perf_counter() - t0
                self.calls[span] += 1
                self._active[span] -= 1

        return traced

    def install(self) -> None:
        for (mod_name, fn_name), span in FUNCTION_SPANS.items():
            mod = importlib.import_module(mod_name)
            setattr(mod, fn_name, self._wrap(span, getattr(mod, fn_name)))
        for (mod_name, cls_name, meth), span in METHOD_SPANS.items():
            cls = getattr(importlib.import_module(mod_name), cls_name)
            setattr(cls, meth, self._wrap(span, getattr(cls, meth), by_path=span == "write.parquet"))

    def snapshot(self) -> tuple[dict[str, int], dict[str, float]]:
        return dict(self.calls), dict(self.seconds)


def read_events(event_dir: str) -> list[dict]:
    events = []
    for path in glob.glob(f"{event_dir}/*"):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def spark_stats(events: list[dict], passes: list[tuple[float, float]], cores: int) -> dict[str, float]:
    """Spark execution numbers per pass (mean over ``passes``, each an
    epoch-seconds interval). Jobs and stages belong to the pass in which
    they were submitted, tasks to their stage's pass."""

    def pass_of(ms: float) -> int | None:
        t = ms / 1000.0
        for i, (a, b) in enumerate(passes):
            if a <= t <= b:
                return i
        return None

    jobs = [0] * len(passes)
    stage_pass: dict[tuple[int, int], int] = {}
    stage_span: dict[int, list[tuple[float, float]]] = defaultdict(list)
    stage_tasks: dict[tuple[int, int], list[float]] = defaultdict(list)
    totals = defaultdict(float)
    per_pass = [defaultdict(float) for _ in passes]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            p = pass_of(ev["Submission Time"])
            if p is not None:
                jobs[p] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" not in info:
                continue
            p = pass_of(info["Submission Time"])
            if p is None:
                continue
            stage_pass[(info["Stage ID"], info["Stage Attempt ID"])] = p
            stage_span[p].append((info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            m = ev["Task Metrics"]
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            run_s = m["Executor Run Time"] / 1000.0
            stage_tasks[key].append(run_s)
            shuffle_read = m["Shuffle Read Metrics"]
            totals_for = {
                "task_run_s": run_s,
                "input_mb": m["Input Metrics"]["Bytes Read"] / 1e6,
                "output_bytes": m["Output Metrics"]["Bytes Written"],
                "shuffle_read_mb": (shuffle_read["Remote Bytes Read"] + shuffle_read["Local Bytes Read"]) / 1e6,
                "shuffle_write_mb": m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6,
                "spill_mb": (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 1e6,
            }
            for k, v in totals_for.items():
                totals[(key, k)] += v

    for key, p in stage_pass.items():
        tasks = stage_tasks.get(key, [])
        pp = per_pass[p]
        pp["stages"] += 1
        pp["tasks"] += len(tasks)
        for k in ("task_run_s", "input_mb", "output_bytes", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            pp[k] += totals.get((key, k), 0.0)
        if tasks:
            pp["max_task_s"] += max(tasks)
            pp["mean_task_s"] += sum(tasks) / len(tasks)

    n = max(1, len(passes))
    out = {"jobs": sum(jobs) / n}
    for k in ("stages", "tasks", "task_run_s", "input_mb", "output_bytes", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb"):
        out[k] = sum(pp[k] for pp in per_pass) / n
    mean_task = sum(pp["mean_task_s"] for pp in per_pass)
    out["task_skew"] = sum(pp["max_task_s"] for pp in per_pass) / mean_task if mean_task else 1.0
    gaps, busy = [], []
    for i, (a, b) in enumerate(passes):
        wall = b - a
        busy.append(per_pass[i]["task_run_s"] / (wall * cores) if wall > 0 else 0.0)
        gaps.append(wall - _union_length(stage_span[i]))
    out["driver_gap_s"] = sum(gaps) / n
    out["executor_busy_frac"] = sum(busy) / n
    return out


def _union_length(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
