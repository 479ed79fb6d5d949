"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose the engine's registry
(mle_proj_datapipeline_spark/plans/*) for the DuckDB correctness gate.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Importing the plan modules populates the registry.
import mle_proj_datapipeline_spark.plans.relational  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.pipeline_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.llm_dedup_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.llm_ann_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.llm_text_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.llm_corpus_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.feature_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.rollup_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.profile_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.series_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.matching_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.lifecycle_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.tpch_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.quality_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.graph_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.sampling_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.stats_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.linalg_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.featurize_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.served_queries  # noqa: F401,E402
import mle_proj_datapipeline_spark.plans.feature_store  # noqa: F401,E402

from mle_proj_datapipeline_spark.plans.registry import ORACLES, QUERIES  # noqa: E402
from mle_proj_datapipeline_spark.session import tune_session  # noqa: E402

FLAGSHIP = "top_supplier_per_nation_week"
SMOKE_SF_DIR = "/root/testdata/sf0.001"
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def _git_mtime(path: str, first_parent: bool = False) -> float:
    """Last-commit unix time of ``path`` (fallback: filesystem mtime).

    Driver CORRECTNESS files and source modules are both git-tracked, so
    commit times give a consistent clock for row-vs-implementation
    freshness even on a fresh checkout where fs mtimes are meaningless.

    ``first_parent=True`` walks only the main line, so a change authored
    on a prep branch is timed at its MERGE to main, not its (earlier)
    branch-side authoring commit.  Implementation files must use this:
    the round-11 skew was prep commits (12:25) predating the driver
    artifacts committed at the next hour zero (15:26), which made
    pre-change driver rows look fresh against post-merge code.
    """
    import subprocess

    cmd = ["git", "-C", _REPO_DIR, "log", "-1", "--format=%ct"]
    if first_parent:
        cmd.append("--first-parent")
    try:
        out = subprocess.run(
            cmd + ["--", path],
            capture_output=True,
            text=True,
            timeout=30,
        ).stdout.strip()
        if out:
            return float(out)
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    try:
        return os.path.getmtime(path)
    except OSError:
        return 0.0


def _row_time(path: str) -> float:
    """Generation-or-commit time of a driver artifact, whichever is
    EARLIER.

    Driver CORRECTNESS files are generated at round N's end but only
    committed at round N+1's hour zero — after any prep-branch merge —
    so the commit clock alone can postdate code changes the rows never
    saw.  In the persistent round workspace the artifact's fs mtime is
    its true generation time (verified: CORRECTNESS_r11.json mtime ==
    the driver pass at 19:40); on a fresh checkout fs mtime is checkout
    time (newer than the commit), so ``min`` degrades to the commit
    clock.  Taking the minimum is conservative in the safe direction: a
    row can only be re-classified stale (re-verified), never fresh.
    """
    t = _git_mtime(path)
    try:
        fs = os.path.getmtime(path)
    except OSError:
        return t
    return min(t, fs) if t else fs


def _coverage_order(names: list[str]) -> list[str]:
    """Order queries so the least driver-checked surface first.

    The driver's correctness harness caps the number of queries it
    verifies per round (round 1 recorded exactly the first 50 of 65
    registered).  Sorting by (FRESH driver rows, total driver rows,
    registration index) rotates the cap across rounds until every
    registered query has a hard driver-verified row — and re-surfaces a
    query whose implementing plan module changed AFTER its last driver
    row (a stale green row is weaker evidence than no row, so stale
    rows count only in the secondary key).  Stable, deterministic, and
    a no-op when no CORRECTNESS files exist.
    """
    import glob
    import json

    module_mtime: dict[str, float] = {}
    module_deps: dict[str, list[str]] = {}
    blame_times: dict[str, list[float]] = {}

    def _blame_line_times(path: str) -> list[float]:
        """Per-line last-change committer times for ``path`` (git blame,
        first-parent), used by the per-QUERY tie-break clock below.
        Uncommitted working-tree lines blame to the zero commit, whose
        committer-time git reports as "now" — exactly right (an edited
        query is maximally unverified).  One subprocess per plan module,
        cached; [] on any failure (tie-break then falls back to the
        module clock)."""
        import subprocess

        if path in blame_times:
            return blame_times[path]
        times: list[float] = []
        try:
            proc = subprocess.run(
                [
                    "git",
                    "-C",
                    _REPO_DIR,
                    "blame",
                    "--first-parent",
                    "--porcelain",
                    "--",
                    path,
                ],
                capture_output=True,
                text=True,
                timeout=60,
            )
            if proc.returncode != 0:
                # a failed blame's stdout is not porcelain to trust
                return blame_times.setdefault(path, [])
            out = proc.stdout
            # Porcelain: every content line (TAB-prefixed) is preceded
            # by its own "<sha> <orig> <final> [groupsize]" header;
            # commit metadata (committer-time …) follows only the FIRST
            # header mentioning that sha, so remember times per sha.
            sha_time: dict[str, float] = {}
            cur_sha = ""
            cur_final = 0
            for line in out.splitlines():
                parts = line.split()
                if (
                    not line.startswith("\t")
                    and len(parts) in (3, 4)
                    and len(parts[0]) == 40
                    and all(c in "0123456789abcdef" for c in parts[0])
                    and parts[1].isdigit()
                    and parts[2].isdigit()
                ):
                    cur_sha = parts[0]
                    cur_final = int(parts[2])
                elif line.startswith("committer-time ") and cur_sha:
                    sha_time[cur_sha] = float(parts[1])
                elif line.startswith("\t") and cur_final:
                    while len(times) < cur_final:
                        times.append(0.0)
                    times[cur_final - 1] = sha_time.get(cur_sha, 0.0)
                    cur_final = 0
        except (OSError, ValueError, subprocess.SubprocessError):
            return blame_times.setdefault(path, [])
        blame_times[path] = times
        return times

    def _dep_files(path: str) -> list[str]:
        """The freshness clock for a query is the newest commit among
        its plan module AND the package-internal modules that file
        imports (one level, top-level or function-local): an operator
        edit re-stales the queries built on it even though their plan
        module didn't change — the round-6 blind spot where e.g. a
        dedup.py change left neardup_clusters' old driver rows looking
        fresh."""
        import re

        if path in module_deps:
            return module_deps[path]
        deps = [path]
        try:
            with open(path) as fh:
                src = fh.read()
        except OSError:
            module_deps[path] = deps
            return deps
        pkg_root = os.path.join(_REPO_DIR, "mle_proj_datapipeline_spark")

        def add(mod_path: str) -> bool:
            base = os.path.join(pkg_root, *mod_path.split("."))
            for cand in (base + ".py", os.path.join(base, "__init__.py")):
                if os.path.exists(cand):
                    if cand not in deps:
                        deps.append(cand)
                    return True
            return False

        for m in re.finditer(
            r"^\s*from\s+mle_proj_datapipeline_spark\.([\w.]+)\s+import\s+([\w, ]+)",
            src,
            re.M,
        ):
            add(m.group(1))
            for nm in m.group(2).split(","):
                nm = nm.strip().split(" as ")[0].strip()
                if nm:
                    add(f"{m.group(1)}.{nm}")
        for m in re.finditer(
            r"^\s*import\s+mle_proj_datapipeline_spark\.([\w.]+)", src, re.M
        ):
            add(m.group(1))
        module_deps[path] = deps
        return deps

    file_time: dict[str, float] = {}

    def _file_time(path: str) -> float:
        if path not in file_time:
            file_time[path] = _git_mtime(path, first_parent=True)
        return file_time[path]

    def impl_mtime(name: str) -> float:
        mod = sys.modules.get(getattr(QUERIES[name], "__module__", ""), None)
        path = getattr(mod, "__file__", None)
        if not path:
            return 0.0
        if path not in module_mtime:
            module_mtime[path] = max(_file_time(p) for p in _dep_files(path))
        return module_mtime[path]

    span_time: dict[str, float] = {}

    def query_change_time(name: str) -> float:
        """Tie-break clock: when did THIS query last change.  Max of
        (a) the git-blame span time of its registered function
        (decorators included, so an edited oracle literal counts) and
        (b) the module clock of every package-internal file the plan
        module imports EXCLUDING the plan module itself (an operator
        edit re-stales its consumers).  The plan module's own
        whole-file clock is deliberately left out: with it, one edited
        query dragged all ~20 same-module neighbours up the order and
        they flooded the driver's ~50-row cap ahead of queries that
        actually changed (r12: 18 of the 32 changed queries missed the
        rotation).  Falls back to the module clock when blame is
        unavailable.  Freshness CLASSIFICATION (above) keeps the
        conservative whole-module dep clock — this only orders the
        already-stale."""
        if name in span_time:
            return span_time[name]
        import inspect

        fn = QUERIES[name]
        mod = sys.modules.get(getattr(fn, "__module__", ""), None)
        path = getattr(mod, "__file__", None)
        t = 0.0
        if path:
            try:
                lines, start = inspect.getsourcelines(fn)
                lt = _blame_line_times(path)
                t = max(lt[start - 1 : start - 1 + len(lines)], default=0.0)
            except (OSError, TypeError):
                t = 0.0
            if t <= 0.0:
                t = impl_mtime(name)
            else:
                for p in _dep_files(path):
                    if p != path:
                        t = max(t, _file_time(p))
        span_time[name] = t
        return t

    fresh: dict[str, int] = {n: 0 for n in names}
    total: dict[str, int] = {n: 0 for n in names}
    for path in sorted(glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        row_time = _row_time(path)
        for name, row in rows.items():
            if name not in total:
                continue
            # A failed/errored driver row is not coverage — the query
            # must re-surface until it has a GREEN row (round-3 lesson:
            # the NTZ breakage left err rows that must not satisfy the
            # rotation).
            if isinstance(row, dict) and (
                row.get("err") or row.get("hash_match") is False
            ):
                continue
            total[name] += 1
            if row_time >= impl_mtime(name):
                fresh[name] += 1
    index = {n: i for i, n in enumerate(names)}
    # Among equally-fresh queries, most-recently-CHANGED first (r13):
    # every green row of a fresh==0 query predates its implementation,
    # so historical row count is not evidence about the current code —
    # but a query whose code changed last round is the likeliest to
    # harbor an unverified regression, while one whose code froze many
    # rounds ago has at least survived every intervening full-registry
    # parity suite. With >cap stale queries (107 of 165 after round
    # 12's 32-query optimization sweep), the old (total, index)
    # tie-break spent the cap on long-frozen never-rechecked names and
    # left the round's actual changes unverified for another round.
    return sorted(
        names,
        key=lambda n: (fresh[n], -query_change_time(n), total[n], index[n]),
    )


@functools.cache
def _rotation(names: tuple[str, ...]) -> tuple[str, ...]:
    """``_coverage_order`` once per process and registry: it runs git
    log per dependency file and git blame per plan module (~0.85 s per
    call in a checkout), and the driver calls both ``queries()`` and
    ``oracle_sql()``."""
    return tuple(_coverage_order(list(names)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    tune_session(spark)
    return QUERIES[FLAGSHIP](spark, SMOKE_SF_DIR)


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(tune_session(spark), sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered least-driver-checked-first so a capped correctness harness
    eventually produces a hard row for every registered query.
    """
    return {name: _wrap(QUERIES[name]) for name in _rotation(tuple(QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (same column aliases)."""
    return {name: ORACLES[name] for name in _rotation(tuple(QUERIES)) if name in ORACLES}
