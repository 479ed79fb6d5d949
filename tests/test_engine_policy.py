"""Engine-policy meta-tests: the anti-patterns the engine promises to
avoid (SURVEY §4, SCALE.md) are enforced by scanning the source tree,
so a future operator can't quietly reintroduce them.

Allowlists are explicit — adding a new legitimate site means editing
the list here, which is exactly the review conversation we want."""

from __future__ import annotations

import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "mle_proj_datapipeline_spark"


def _sources() -> dict[str, str]:
    return {str(p.relative_to(PKG)): p.read_text() for p in PKG.rglob("*.py")}


def test_no_row_at_a_time_udfs():
    """Only Arrow-vectorized Python (pandas_udf / mapInPandas /
    applyInPandas*) is allowed — never F.udf / @udf row UDFs."""
    for name, text in _sources().items():
        assert not re.search(r"\bF\.udf\(|@udf\b|functions\.udf\(", text), name


def test_cross_joins_are_broadcast_only():
    """Every crossJoin must broadcast its right side (1-row/tiny
    aggregates); a bare crossJoin is a cartesian time bomb."""
    for name, text in _sources().items():
        for m in re.finditer(r"crossJoin\(([^)]*)", text):
            assert "broadcast" in m.group(1), f"{name}: bare crossJoin({m.group(1)}...)"


COLLECT_ALLOWED = {
    # driver-side scalars/dictionaries by design (small, documented):
    "operators/encode.py",  # global dictionary build
    "operators/kmeans.py",  # k-means codebook collect (k·dim, driver-held)
    "operators/ann_ivf.py",  # trained/pinned codebook collect (k·dim)
    "streaming/gold.py",  # partition-value listings
    "operators/bpe.py",  # per-step merge rule argmax (1 row, driver-held)
    "operators/cc_local.py",  # gated small-graph union-find (edge-count gate)
    "operators/linalg.py",  # d²-bounded spectral solve (declared-dim gate)
}


def test_collect_sites_are_allowlisted():
    """.collect()/.toPandas() must not appear in data paths — only in
    the known scalar/dictionary sites — and every allowlisted file must
    still hold one, so the list cannot outlive the sites it names."""
    found = {
        name
        for name, text in _sources().items()
        if ".collect()" in text or ".toPandas()" in text
    }
    assert found == COLLECT_ALLOWED


def test_no_infer_schema():
    """Schema inference is banned (a second full scan at 100 TB) —
    flag actual option usage, not docstring mentions."""
    pat = re.compile(r"option\(\s*[\"']inferSchema[\"']\s*,\s*(?:True|[\"']true)")
    for name, text in _sources().items():
        code = "\n".join(
            ln for ln in text.splitlines() if not ln.lstrip().startswith("#")
        )
        # docstring mentions cite the reference's anti-pattern; only the
        # reader option itself is banned
        assert not pat.search(code), name


def test_partitioned_overwrites_set_dynamic_on_writer():
    """Every partitionBy(...) overwrite writer must carry the writer-
    level dynamic option (ADVICE r2): grep each write chain."""
    pat = re.compile(r"write\.mode\(\s*[\"']overwrite[\"']\s*\)(.{0,400}?)\.parquet\(", re.S)
    for name, text in _sources().items():
        for m in pat.finditer(text):
            chain = m.group(1)
            if ".partitionBy(" in chain:
                assert "partitionOverwriteMode" in chain, (
                    f"{name}: partitioned overwrite without writer-level dynamic option"
                )


def test_lineage_cuts_go_through_materialize_frame():
    """Every lineage cut is a ``materialize_frame`` call: raw
    ``localCheckpoint(`` / ``checkpoint(`` live only in the primitive
    itself (sources/snapshots.py), so each materialization boundary is
    one greppable call."""
    pat = re.compile(r"\.(localCheckpoint|checkpoint)\(")
    found = {name for name, text in _sources().items() if pat.search(text)}
    assert found == {"sources/snapshots.py"}


# Package definitions that no registered query, module-level code, the
# CLI, the driver contract, bench.py or perfbench/ reaches, kept on
# purpose. Any other unreached definition is dead code: wire it into a
# registered query's path or delete it.
UNREACHED_ALLOWED = {
    # The one gold driver-to-be (ROADMAP item 6): run_pipeline's gold
    # step is to call maintain_gold with the week it builds.
    "streaming/gold.py:incremental_gold",
    "streaming/gold.py:maintain_gold",
    "streaming/gold.py:partition_weeks",
    "streaming/weekly.py:incremental_silver",
    # Observed writes (ROADMAP item 8): medallion and snapshot writes
    # are to report rows and nulls through these.
    "sources/observe.py:ExpectationError",
    "sources/observe.py:enforce_expectations",
    "sources/observe.py:observed_write",
    # State compaction: the benchmarked served_state reads the compacted
    # layout these write.
    "streaming/compaction.py:compact_state",
    "streaming/compaction.py:gc_state",
    "streaming/lm.py:compact_counts",
    "streaming/lm.py:gc_counts",
    "streaming/sketch.py:compact_cells",
    "streaming/sketch.py:gc_cells",
    "sources/snapshots.py:delete_dir",
    "streaming/compaction.py:KEEP_COMPACT_VERSIONS",
    # The package version string, read by packaging tools, not by code.
    "__init__.py:__version__",
    # The table list the oracle test harness registers as DuckDB views.
    "sources/catalog.py:TABLES",
    # The hypothesis test's handle on impute._agg_stats.
    "operators/impute.py:compute_modes",
}

_IDENT = re.compile(r"[A-Za-z_]\w*\Z")


def _names(
    node: ast.AST, strings: bool = False, skip: frozenset[str] = frozenset()
) -> set[str]:
    """Names ``node`` refers to: bare names (minus ``skip``) and
    attribute names (import statements excluded, so a re-export alone
    reaches nothing); with ``strings``, identifier-shaped string
    constants too (perfbench wraps functions by name)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            if n.id not in skip:
                out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif (
            strings
            and isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and _IDENT.match(n.value)
        ):
            out.add(n.value)
    return out


def _local_only(tree: ast.Module) -> frozenset[str]:
    """Names a file binds only inside functions (locals and parameters),
    never at module level: a bare use of one refers to the local, not to
    a package definition of the same name."""
    local: set[str] = set()
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            for n in ast.walk(fn):
                if isinstance(n, ast.arg):
                    local.add(n.arg)
                elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                    local.add(n.id)
    module: set[str] = set()
    for st in tree.body:
        if isinstance(st, (ast.Import, ast.ImportFrom)):
            module |= {(a.asname or a.name).split(".")[0] for a in st.names}
        elif isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            module.add(st.name)
        else:
            module |= {
                n.id
                for n in ast.walk(st)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
            }
    return frozenset(local - module)


def _assigned_name(st: ast.stmt) -> str | None:
    """The target of a top-level ``NAME = ...`` / ``NAME: T = ...``."""
    if isinstance(st, ast.Assign) and len(st.targets) == 1:
        target = st.targets[0]
    elif isinstance(st, ast.AnnAssign) and st.value is not None:
        target = st.target
    else:
        return None
    return target.id if isinstance(target, ast.Name) else None


def _unreached_definitions() -> set[str]:
    """Top-level package definitions (``def``, ``class`` and
    ``NAME = ...``) not reached by name from the roots: ``@register``
    queries, other module-level code (decorators included), and every
    name in cli.py, __spark_entry__.py, bench.py and perfbench/ apart
    from names those files bind only as locals or parameters. A reached
    definition reaches every same-named definition its body mentions.
    Name-based, so it over-approximates what is reached: it never flags
    live code, and it misses dead code only when the name is used
    somewhere live."""
    defs: dict[str, ast.AST] = {}
    by_name: dict[str, list[str]] = {}
    seed: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = str(path.relative_to(PKG))
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                key = f"{mod}:{st.name}"
                defs[key] = st
                by_name.setdefault(st.name, []).append(key)
                for deco in st.decorator_list:
                    seed |= _names(deco)
                    if "register" in _names(deco):
                        seed.add(st.name)
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                continue
            elif (name := _assigned_name(st)) == "__all__":
                continue
            elif name is not None:
                key = f"{mod}:{name}"
                defs[key] = st.value
                by_name.setdefault(name, []).append(key)
            else:
                seed |= _names(st)
    entry_files = [REPO / "__spark_entry__.py", REPO / "bench.py", PKG / "cli.py"]
    for path in entry_files + sorted((REPO / "perfbench").glob("*.py")):
        tree = ast.parse(path.read_text())
        seed |= _names(tree, strings=True, skip=_local_only(tree))
    reached: set[str] = set()
    todo = [key for name in seed for key in by_name.get(name, [])]
    while todo:
        key = todo.pop()
        if key in reached:
            continue
        reached.add(key)
        todo += [k for name in _names(defs[key]) for k in by_name.get(name, [])]
    return set(defs) - reached


def test_no_unreached_package_code():
    """Regrowth gate: the package holds no definition that only tests
    reach, apart from the documented UNREACHED_ALLOWED groups."""
    assert _unreached_definitions() == UNREACHED_ALLOWED
