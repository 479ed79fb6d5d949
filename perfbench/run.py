"""Benchmark of the engine's public surface on local[4].

    python3 perfbench/run.py --workload queries --seed 7 --seconds 10 --trace 0

One run, in one process:

1. generate the workload's inputs from ``--seed`` (cached; timed apart);
2. set up: import PySpark, start the SparkSession, load the query
   registry through ``__spark_entry__.queries()``, scan one input;
3. cold pass: the workload once in the fresh session;
4. warm-up passes until ``WARMUP_S`` have passed since the cold pass,
   then measured passes until ``--seconds`` have passed (at least
   ``MIN_MEASURED``; the pass running at the deadline completes). Every
   measured pass does the same work, so a faster engine fits more passes
   of it, not other work. ``warm_s`` is the sum over the steps of a pass
   (its queries, or a week's pipeline and training-frame read) of each
   step's median over the measured passes;
5. read the peak RSS, then check the outputs of the cold and the last
   measured pass against the DuckDB oracles (or, for ``medallion``, the
   week-by-week gold against the full rebuild of the cold pass), outside
   the timed region.

Every state directory (warehouse, Spark local dirs, medallion output,
event log) lives in a fresh directory under ``.perfbench/`` that the run
deletes at the end; generated inputs and oracle results are cached there
by seed.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The line before it
gives the end-to-end figures and ``fail_frac`` for a human reader; the
per-pass lines on standard error give the CPU time the hypervisor stole
from the machine during the pass, which is what slows whole runs on a
shared host.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEMORY = "2g"
# The JIT compiles through the first ~30 s of warm passes: the first runs
# 20-30% slower than the third. Passes that start within this many
# seconds after the cold pass are not measured.
WARMUP_S = 12.0
MIN_MEASURED = 3

WORKLOADS = {
    # the read side: relational and feature-store queries (scans through
    # load_table, joins, windows) and served LLM-data / vector queries
    # (streaming and snapshot state, graph and linear-algebra operators)
    "queries": {
        "inputs": ("tables", {"scale": 0.01}),
        "queries": [
            "pricing_summary",
            "feature_store_build",
            "asof_purchase_click",
            "embedding_pca_power",
            "bigram_lm_scores_served",
            "supplier_pagerank_served",
        ],
    },
    # the write side: the cold pass rebuilds both weeks on an empty output;
    # every later pass reruns week 2 on the week-1 history (see run_medallion)
    "medallion": {"inputs": ("domain", {"weeks": 2, "rows_per_week": 500})},
}

# Smallest inputs, used instead when PERFBENCH_SMOKE is set (perfbench/test_smoke.py).
SMOKE_INPUTS = {"tables": {"scale": 0.001}, "domain": {"weeks": 2, "rows_per_week": 100}}

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "peak_rss_mb": "MB"}

# per-layer metric -> unit; values are per warm pass, except those that
# SPAN_METRICS takes from the cold pass.
PER_LAYER = {
    "session.start_s": "s",
    "entry.queries_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    "plans.cold_minus_warm_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "snapshots.cuts": "count",
    "snapshots.cut_s": "s",
    "snapshots.write_calls": "count",
    "snapshots.write_s": "s",
    "snapshots.read_s": "s",
    "operators.pagerank_s": "s",
    "operators.top_eigvec_s": "s",
    "streaming.maintenance_s": "s",
    "streaming.batches": "count",
    "medallion.week_p50_s": "s",
    "medallion.week_max_s": "s",
    "medallion.week_jobs": "count",
    "medallion.silver_write_s": "s",
    "medallion.gold_write_s": "s",
    "medallion.training_frame_s": "s",
    "medallion.bytes_written": "bytes",
    "medallion.gold_partitions_rewritten_per_new": "ratio",
    "medallion.last_over_first_week": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.task_run_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.executor_busy_frac": "ratio",
    "trace.warm_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def generate(kind: str, seed: int, params: dict, cache: str) -> str:
    """Input directory for (kind, seed), made by gen.py in a child process
    so its memory never counts towards the run's peak RSS."""
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), kind, "--seed", str(seed),
         "--cache", cache, "--params", json.dumps(params)],
        check=True, capture_output=True, text=True, timeout=170,
    ).stdout.strip()
    log(f"inputs {kind} seed={seed}: {out} ({time.perf_counter() - t0:.2f} s, not in setup_s)")
    return out


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def warm_seconds(warm: list[dict[str, float]]) -> float:
    """Sum over the steps of a pass of each step's median over the
    measured passes. A JVM hiccup (a collection, a deoptimisation) in one
    step of one pass moves no step's median; with three passes it moves
    the median pass as soon as two passes have one."""
    return sum(statistics.median(p[step] for p in warm) for step in warm[0])


def release_blocks(spark) -> None:
    """Unpersist cached and checkpointed RDD blocks between queries, as
    bench.py does, so each query runs as the self-contained job it is."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


class Run:
    """State of one benchmark run: directories, session, timings."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench")
        self.dir = os.path.join(self.work, f"run-{os.getpid()}")
        self.passes: list[tuple[float, float]] = []  # epoch intervals of the measured warm passes
        self.measuring = False  # True during the measured warm passes
        self.layer: dict[str, float] = {name: 0.0 for name in PER_LAYER}
        self.attempted = 0
        self.failed = 0
        self.job_intervals: dict[str, list[tuple[float, float]]] = {}  # build/exec of each query
        self.tracer = None
        self.trace_cold = self.trace_warmup = self.trace_warm = None  # tracer snapshots after those passes
        self.spark = None
        self.rss_mb = 0.0

    # -- set-up ---------------------------------------------------------
    def prepare_env(self) -> None:
        for sub in ("warehouse", "local", "tmp", "events", "sql-warehouse"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        os.environ.update({
            "SPARK_GRAFT_WAREHOUSE": os.path.join(self.dir, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "TMPDIR": os.path.join(self.dir, "tmp"),
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        })
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def setup(self, first_scan: str) -> float:
        t0 = time.perf_counter()
        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        from mle_proj_datapipeline_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dir}/tmp -XX:-UsePerfData -XX:+UseSerialGC",
            "spark.local.dir": os.path.join(self.dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.dir, "sql-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.dir}/events",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        t2 = time.perf_counter()
        self.spark.read.parquet(first_scan).limit(1).write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        self.layer.update({"session.start_s": t1 - t0, "entry.queries_s": t2 - t1,
                           "session.warmup_s": t3 - t2})
        return t3 - t0

    def peak_rss_mb(self) -> float:
        """Peak RSS (MB) so far of the driver JVM plus this Python driver."""
        from pyspark import SparkContext

        rss_jvm, rss_py = vm_hwm_mb(SparkContext._gateway.proc.pid), vm_hwm_mb("self")
        log(f"peak rss: driver JVM {rss_jvm:.0f} MB, Python driver {rss_py:.0f} MB")
        return rss_jvm + rss_py

    def stop(self) -> None:
        """Stop Spark and its JVM and wait until the JVM has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        jvm = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        jvm.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    # -- timed passes -----------------------------------------------------
    def timed_passes(self, one_pass, after_cold=None) -> tuple[float, list[dict[str, float]]]:
        """Run pass 0 (cold), then ``after_cold()`` and warm-up passes until
        ``WARMUP_S`` have passed since the cold pass ended, then measured
        passes until ``--seconds`` have passed, at least ``MIN_MEASURED``.
        ``one_pass(i)`` returns the seconds of each step it timed; this
        returns the cold seconds and the steps of the measured passes and
        reads the peak RSS before any output check runs."""
        cold = sum(self.one_logged(one_pass, 0).values())
        self.trace_mark("cold")
        warm_until = time.perf_counter() + WARMUP_S
        if after_cold is not None:
            after_cold()
        i = 1
        while time.perf_counter() < warm_until:
            self.one_logged(one_pass, i)
            i += 1
        self.trace_mark("warmup")
        self.measuring = True
        deadline = time.perf_counter() + self.args.seconds
        warm: list[dict[str, float]] = []
        while time.perf_counter() < deadline or len(warm) < MIN_MEASURED:
            start = time.time()
            warm.append(self.one_logged(one_pass, i + len(warm)))
            self.passes.append((start, time.time()))
        self.measuring = False
        self.trace_mark("warm")
        self.rss_mb = self.peak_rss_mb()
        return cold, warm

    def one_logged(self, one_pass, i: int) -> dict[str, float]:
        stolen = steal_s()
        steps = one_pass(i)
        kind = "measured" if self.measuring else "cold" if i == 0 else "warm-up"
        log(f"pass {i} ({kind}): {sum(steps.values()):.2f} s, host steal {steal_s() - stolen:.2f} CPU-s: "
            + " ".join(f"{k}={v:.2f}" for k, v in steps.items()))
        return steps

    def trace_mark(self, phase: str) -> None:
        if self.tracer is not None:
            setattr(self, f"trace_{phase}", self.tracer.snapshot())

    def span_delta(self, span: str, field: str, phase: str) -> float:
        """Calls (``field="calls"``) or seconds of ``span`` in the cold
        pass, or per warm pass."""
        if self.tracer is None:
            return 0.0
        i = 0 if field == "calls" else 1
        before = self.trace_warmup[i] if phase == "warm" else {}
        after = getattr(self, f"trace_{phase}")[i]
        n = len(self.passes) if phase == "warm" else 1
        return (after.get(span, 0) - before.get(span, 0)) / n


# per-layer metric -> (tracer span, "calls" or "s", pass it is taken from)
SPAN_METRICS = {
    "catalog.load_table_calls": ("catalog.load_table", "calls", "warm"),
    "catalog.load_table_s": ("catalog.load_table", "s", "warm"),
    "snapshots.cuts": ("snapshots.cut", "calls", "warm"),
    "snapshots.cut_s": ("snapshots.cut", "s", "warm"),
    "snapshots.write_calls": ("snapshots.write", "calls", "cold"),
    "snapshots.write_s": ("snapshots.write", "s", "cold"),
    "snapshots.read_s": ("snapshots.read", "s", "warm"),
    "operators.top_eigvec_s": ("operators.top_eigvec", "s", "warm"),
    "operators.pagerank_s": ("operators.pagerank", "s", "cold"),
    "streaming.maintenance_s": ("streaming.maintenance", "s", "cold"),
    "streaming.batches": ("streaming.batch", "calls", "cold"),
    "medallion.silver_write_s": ("write.parquet.silver", "s", "warm"),
    "medallion.gold_write_s": ("write.parquet.gold", "s", "warm"),
}


# -- query workloads ---------------------------------------------------------
def oracle_rows(data: str, names: list[str]) -> dict[str, dict]:
    """Canonical DuckDB oracle result per query, cached per input set."""
    from mle_proj_datapipeline_spark.plans.registry import ORACLES
    from tests.oracle_harness import canonicalize, duck_connection

    con = None
    out = {}
    os.makedirs(os.path.join(data, "oracle"), exist_ok=True)
    for name in names:
        sql = ORACLES[name]
        path = os.path.join(data, "oracle", f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:12]}.json")
        if not os.path.exists(path):
            con = con or duck_connection(data)
            want = con.execute(sql).fetchdf()
            tmp = f"{path}.tmp{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump({"cols": sorted(want.columns), "rows": canonicalize(want)}, fh)
            os.replace(tmp, path)
        with open(path) as fh:
            out[name] = json.load(fh)
    return out


def run_queries(run: Run, data: str, names: list[str]) -> tuple[float, list[dict[str, float]]]:
    spark, sc = run.spark, run.spark.sparkContext
    checked: dict[int, dict] = {}
    jobs_mark: dict[str, list[tuple[float, float]]] = {"build": [], "exec": []}
    build_s = exec_s = 0.0

    def one_pass(i: int) -> dict[str, float]:
        nonlocal build_s, exec_s
        outputs, each = {}, {}
        for name in names:
            sc.setJobGroup(f"pass{i}:{name}", f"perfbench pass {i} {name}")
            run.attempted += 1
            t0, e0 = time.perf_counter(), time.time()
            try:
                df = run.queries[name](spark, data)
                t1, e1 = time.perf_counter(), time.time()
                outputs[name] = df.toPandas()
            except Exception as exc:  # a failing query is counted, the run goes on
                log(f"FAILED {name} (pass {i}): {type(exc).__name__}: {exc}")
                run.failed += 1
                t1, e1 = time.perf_counter(), time.time()
            t2, e2 = time.perf_counter(), time.time()
            each[name] = t2 - t0
            if run.measuring:
                build_s += t1 - t0
                exec_s += t2 - t1
                jobs_mark["build"].append((e0, e1))
                jobs_mark["exec"].append((e1, e2))
            release_blocks(spark)
        checked[i] = outputs
        for old in [k for k in checked if 0 < k < i]:
            del checked[old]
        return each

    cold, warm = run.timed_passes(one_pass)
    sc.setJobGroup("perfbench:check", "perfbench output check")

    from tests.oracle_harness import canonicalize

    want = oracle_rows(data, names)
    for i, outputs in checked.items():
        for name, got in outputs.items():
            ok = (sorted(got.columns) == want[name]["cols"]
                  and [list(r) for r in canonicalize(got)] == want[name]["rows"])
            if not ok:
                log(f"MISMATCH {name} (pass {i}) against its DuckDB oracle")
                run.failed += 1
    n = len(warm)
    run.layer.update({"plans.build_s": build_s / n, "plans.exec_s": exec_s / n,
                      "plans.cold_minus_warm_s": cold - warm_seconds(warm)})
    run.job_intervals = jobs_mark
    return cold, warm


# -- medallion workload ------------------------------------------------------
BATCH_FILLED = ("dti", "inq_last_6mths", "pub_rec", "delinq_2yrs")


def run_medallion(run: Run, data: str, n_weeks: int) -> tuple[float, list[dict[str, float]]]:
    """Pass 0 rebuilds both weeks on an empty output (a backfill, the first
    cron run in a fresh JVM); its gold is the reference of the check. Week
    1 is then run on an empty output and kept as the history. Every later
    pass restores the history (untimed) and runs week 2 on it, so each
    measured pass does the same work."""
    import pyspark.sql.functions as F

    from gen import week_starts
    from mle_proj_datapipeline_spark.plans.medallion import run_pipeline, training_frame
    from mle_proj_datapipeline_spark.schemas import DOMAIN_TABLES

    spark, sc = run.spark, run.spark.sparkContext
    first, second = week_starts(n_weeks)
    bronze = {
        name: spark.read.parquet(f"{data}/{name}.parquet").select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields])
        for name, schema in DOMAIN_TABLES.items()
    }
    out, history, full = (os.path.join(run.dir, "medallion", d) for d in ("out", "history", "full"))
    rewritten: list[float] = []

    def gold_files() -> dict[str, frozenset]:
        parts = {}
        for store in ("label_store", "feature_store"):
            root = os.path.join(out, "gold", store)
            for part in os.listdir(root) if os.path.isdir(root) else []:
                if part.startswith("snapshot_week="):
                    parts[f"{store}/{part}"] = frozenset(os.listdir(os.path.join(root, part)))
        return parts

    def one_week(week: str | None, target: str, label: str) -> dict[str, float]:
        """Run ``week`` (all weeks if None) into ``target``; return the
        seconds of the pipeline and of the training-frame read."""
        sc.setJobGroup(f"{label}:{week or 'all'}", f"perfbench medallion {label} week {week or 'all'}")
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            run_pipeline(spark, bronze, target, week_start=week)
            t1 = time.perf_counter()
            training_frame(spark, target, end_week=week or second).toPandas()
        except Exception as exc:  # a failing week is counted, the run goes on
            log(f"FAILED week {week or 'all'} ({label}): {type(exc).__name__}: {exc}")
            run.failed += 1
            t1 = time.perf_counter()
        t2 = time.perf_counter()
        release_blocks(spark)
        return {"pipeline": t1 - t0, "training_frame": t2 - t1}

    def one_pass(i: int) -> dict[str, float]:
        if i == 0:
            return one_week(None, full, "pass0")
        shutil.rmtree(out)
        shutil.copytree(history, out)
        before = gold_files() if run.tracer else {}
        steps = one_week(second, out, f"pass{i}")
        if run.measuring and run.tracer:
            after = gold_files()
            changed = sum(1 for k, v in after.items() if before.get(k) != v)
            rewritten.append(changed / 2.0)  # one new partition per gold store
        return steps

    def make_history() -> None:
        log(f"history: week {first}: {sum(one_week(first, out, 'history').values()):.2f} s")
        shutil.copytree(out, history)

    cold, warm = run.timed_passes(one_pass, make_history)

    # Gold built week by week must equal the full rebuild of the cold
    # pass, except the silver columns filled with a statistic of the
    # weekly batch (mode / mean), which differ by design.
    from tests.oracle_harness import canonicalize

    sc.setJobGroup("perfbench:check", "perfbench output check")
    for store in ("label_store", "feature_store"):
        got, want = (spark.read.parquet(f"{d}/gold/{store}").drop(*BATCH_FILLED).toPandas()
                     for d in (out, full))
        if sorted(got.columns) != sorted(want.columns) or canonicalize(got) != canonicalize(want):
            log(f"MISMATCH gold {store}: week-by-week build differs from a full rebuild")
            run.failed += 1

    weeks = [sum(p.values()) for p in warm]
    run.layer.update({
        "medallion.week_p50_s": statistics.median(weeks),
        "medallion.week_max_s": max(weeks),
        "medallion.training_frame_s": statistics.median(p["training_frame"] for p in warm),
        "medallion.gold_partitions_rewritten_per_new": statistics.mean(rewritten) if rewritten else 0.0,
    })
    if run.tracer:
        # week 1 on an empty output in the warm session: the history-free
        # cost that the measured week 2 is compared with
        shutil.rmtree(out)
        first_s = sum(one_week(first, out, "first").values())
        run.layer["medallion.last_over_first_week"] = statistics.median(weeks) / first_s
    return cold, warm


# -- main ----------------------------------------------------------------------
def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="Benchmark the engine on one workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        log(f"no engine at {ROOT}: __spark_entry__.py is missing")
        return 2

    spec = WORKLOADS[args.workload]
    run = Run(args)
    try:
        run.prepare_env()
        kind, params = spec["inputs"]
        if os.environ.get("PERFBENCH_SMOKE"):
            params = SMOKE_INPUTS[kind]
        data = generate(kind, args.seed, params, os.path.join(run.work, "inputs"))
        first_scan = os.path.join(data, "lineitem.parquet" if kind == "tables" else "loan_terms.parquet")
        setup_s = run.setup(first_scan)
        if args.workload == "medallion":
            cold, warm = run_medallion(run, data, params["weeks"])
        else:
            cold, warm = run_queries(run, data, spec["queries"])
        run.stop()
        run.spark = None
        warm_s = warm_seconds(warm)
        if args.trace:
            finish_trace(run, warm_s, args.workload)
    finally:
        if run.spark is not None:
            run.stop()
        shutil.rmtree(run.dir, ignore_errors=True)

    e2e = {"setup_s": setup_s, "cold_s": cold, "warm_s": warm_s, "peak_rss_mb": run.rss_mb}
    print(f"{args.workload} seed={args.seed}: "
          + " ".join(f"{k}={v:.4f} {END_TO_END[k]}" for k, v in e2e.items())
          + f" warm_passes={len(warm)} fail_frac={run.failed / run.attempted:.4f} ratio"
          + f" ({run.failed}/{run.attempted})")
    values = ({k: run.layer[k] for k in PER_LAYER} if args.trace else e2e)
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


def finish_trace(run: Run, warm_s: float, workload: str) -> None:
    """Per-layer metrics from the tracer and the event log (after stop)."""
    from tracing import read_events, spark_stats

    for metric, (span, field, phase) in SPAN_METRICS.items():
        run.layer[metric] = run.span_delta(span, field, phase)
    events = read_events(os.path.join(run.dir, "events"))
    warm = run.passes
    stats = spark_stats(events, warm, CORES)
    for k in ("jobs", "stages", "tasks", "driver_gap_s", "task_run_s", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_skew", "executor_busy_frac"):
        run.layer[f"spark.{k}"] = stats[k]
    run.layer["trace.warm_s"] = warm_s
    if workload == "medallion":
        run.layer["medallion.week_jobs"] = stats["jobs"]
        run.layer["medallion.bytes_written"] = stats["output_bytes"]
    else:
        for phase, spans in run.job_intervals.items():
            per_span = spark_stats(events, spans, CORES)["jobs"]
            run.layer[f"plans.{phase}_jobs"] = per_span * len(spans) / len(warm)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
