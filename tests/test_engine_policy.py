"""Engine-policy meta-tests: the anti-patterns the engine promises to
avoid (SURVEY §4, SCALE.md) are enforced by scanning the source tree,
so a future operator can't quietly reintroduce them.

Allowlists are explicit — adding a new legitimate site means editing
the list here, which is exactly the review conversation we want."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "mle_proj_datapipeline_spark"


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
    "operators/impute.py",  # imputation stats
    "operators/kmeans.py",  # k-means codebook collect (k·dim, driver-held)
    "operators/ann_ivf.py",  # trained/pinned codebook collect (k·dim)
    "streaming/gold.py",  # partition-value listings
    "sources/snapshots.py",  # z-order min/max bounds (1 row)
    "plans/lifecycle_queries.py",  # none today
    "streaming/drift.py",  # pinned baseline fractions (10 rows, deploy-time)
    "operators/bpe.py",  # per-step merge rule argmax (1 row, driver-held)
    "streaming/transitions.py",  # snapshot partition-id listing (ints)
    "operators/cc_local.py",  # gated small-graph union-find (edge-count gate)
    "operators/linalg.py",  # d²-bounded spectral solve (declared-dim gate)
}


def test_collect_sites_are_allowlisted():
    """.collect()/.toPandas() must not appear in data paths — only in
    the known scalar/dictionary sites."""
    for name, text in _sources().items():
        if ".collect()" in text or ".toPandas()" in text:
            assert name in COLLECT_ALLOWED, f"unexpected driver materialization in {name}"


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
