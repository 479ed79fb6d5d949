"""Snapshot-table layer (sources/snapshots.py): versioned commits,
version pinning, expiry and concurrent commits over plain parquet +
JSON manifests, plus the ``materialize_frame`` lineage cut."""

from __future__ import annotations

import pytest

from mle_proj_datapipeline_spark.sources.snapshots import (
    expire,
    history,
    read_snapshot,
    write_snapshot,
)


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v string")


def test_versioned_commits_and_time_travel(spark, root):
    v1 = write_snapshot(_df(spark, [(1, "a"), (2, "b")]), root)
    v2 = write_snapshot(_df(spark, [(3, "c")]), root, mode="append")
    v3 = write_snapshot(_df(spark, [(9, "z")]), root)
    assert (v1, v2, v3) == (1, 2, 3)

    assert _rows(read_snapshot(spark, root)) == _rows(_df(spark, [(9, "z")]))
    assert _rows(read_snapshot(spark, root, version=2)) == _rows(
        _df(spark, [(1, "a"), (2, "b"), (3, "c")])
    )
    with pytest.raises(ValueError):
        read_snapshot(spark, root, version=7)

    h = history(spark, root)
    assert [s["version"] for s in h] == [1, 2, 3]
    assert [s["parent"] for s in h] == [None, 1, 2]
    # manifest timestamps never run backwards along the lineage
    assert [s["timestamp"] for s in h] == sorted(s["timestamp"] for s in h)
    # append manifests carry the parent's files forward
    assert set(h[0]["files"]) < set(h[1]["files"])


def test_compact_and_expire(spark, root):
    for i in range(4):  # 4 tiny commits => many small files
        write_snapshot(_df(spark, [(i, f"v{i}")]).repartition(4), root, mode="append")
    before = history(spark, root)[-1]
    # compaction is an overwrite commit of the coalesced latest version
    v = write_snapshot(read_snapshot(spark, root).coalesce(1), root)
    after = history(spark, root)[-1]
    assert after["version"] == v and len(after["files"]) < len(before["files"])
    expected = _rows(_df(spark, [(0, "v0"), (1, "v1"), (2, "v2"), (3, "v3")]))
    assert _rows(read_snapshot(spark, root)) == expected
    # pre-compaction version still readable...
    assert _rows(read_snapshot(spark, root, version=before["version"])) == expected

    # ...until expired: only the compacted version survives, and its
    # rows are intact after the dead files are vacuumed
    gone = expire(spark, root, keep_last=1)
    assert gone == [1, 2, 3, 4]
    assert [s["version"] for s in history(spark, root)] == [v]
    assert _rows(read_snapshot(spark, root)) == expected
    with pytest.raises(ValueError):
        read_snapshot(spark, root, version=2)


def test_concurrent_writers_never_lose_a_commit(spark, tmp_path_factory):
    """Optimistic-concurrency commit: N threads racing overwrite commits
    must produce N DISTINCT versions (no silent manifest clobber — the
    local-FS rename-overwrites hazard) and the final table must read
    back as exactly one winner's content."""
    import threading

    from mle_proj_datapipeline_spark.sources.snapshots import (
        history,
        read_snapshot,
        write_snapshot,
    )

    root = str(tmp_path_factory.mktemp("cas"))
    frames = {
        i: spark.range(10).selectExpr("id", f"{i} AS writer") for i in range(6)
    }
    got: dict[int, int] = {}
    errs: list[Exception] = []

    def commit(i: int) -> None:
        try:
            got[i] = write_snapshot(frames[i], root)
        except Exception as ex:  # pragma: no cover - surfaced by assert
            errs.append(ex)

    threads = [threading.Thread(target=commit, args=(i,)) for i in frames]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errs, errs
    versions = sorted(got.values())
    assert len(versions) == len(set(versions)) == 6, f"lost commit: {got}"
    snaps = history(spark, root)
    assert [s["version"] for s in snaps] == versions
    # Latest version reads back as exactly one writer's frame.
    last = read_snapshot(spark, root)
    writers = {r["writer"] for r in last.select("writer").distinct().collect()}
    assert len(writers) == 1 and last.count() == 10


def test_orphaned_claim_probe_is_age_gated(spark, tmp_path_factory):
    """A crashed writer's claim (old file, no manifest) must be probed
    past — but ONLY once it ages beyond CLAIM_STALL_SECONDS. A young
    claim means a possibly-live writer (GC pause / slow FS): committing
    a sibling version from a stale parent would fork the lineage, so
    the committer must fail fast instead (ADVICE r4: the 150ms stall
    probe misclassified live writers as crashed)."""
    import os
    import time

    import pytest

    from mle_proj_datapipeline_spark.sources import snapshots as S

    root = str(tmp_path_factory.mktemp("claims"))
    assert S.write_snapshot(spark.range(3), root) == 1

    # Simulate a writer that crashed between claim and manifest rename.
    claim = os.path.join(root, S.SNAP_DIR, ".v00000002.claim")
    open(claim, "w").close()

    # Young claim: treated as live — the next writer must NOT fork past
    # it, and errors out after its retry budget.
    with pytest.raises(RuntimeError, match="writer storm"):
        S.write_snapshot(spark.range(3), root)

    # Aged claim: demonstrably abandoned — probed past, version skips.
    old = time.time() - S.CLAIM_STALL_SECONDS - 5
    os.utime(claim, (old, old))
    v = S.write_snapshot(spark.range(3), root)
    assert v == 3  # v2 stays burned by the dead claim
    assert [s["version"] for s in S.history(spark, root)] == [1, 3]
    assert S.read_snapshot(spark, root).count() == 3


def test_fork_conflict_detection():
    """_fork_conflict pins both sibling-lineage shapes: a live commit
    BETWEEN our parent and our version (we probed past a writer that
    actually finished), and a LATER commit whose parent is below us
    (that writer never saw us). Normal linear histories are clean."""
    from mle_proj_datapipeline_spark.sources.snapshots import _fork_conflict

    def m(v, p):
        return {"version": v, "parent": p}

    linear = [m(5, 4), m(6, 5)]
    assert not _fork_conflict(linear, 6, 5)
    assert not _fork_conflict([m(1, None)], 1, None)

    # We committed v7 over parent v5 while v6 (parent 5) exists.
    assert _fork_conflict([m(5, 4), m(6, 5), m(7, 5)], 7, 5)
    # We committed v6 over v5; v7 (parent 5) skipped us.
    assert _fork_conflict([m(5, 4), m(6, 5), m(7, 5)], 6, 5)
    # Version skip after a crash (no sibling manifest) is NOT a fork.
    assert not _fork_conflict([m(5, 4), m(7, 5)], 7, 5)


def test_materialize_frame_eager_and_lazy_cuts(spark):
    """The default cut runs its job at call time; ``eager=False`` runs
    none until the first action reads the frame. Both return the same
    rows."""
    from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame
    from tests.test_sources import _jobs

    df = spark.range(200).selectExpr("id", "id % 7 AS k")
    n_eager, eager = _jobs(spark, "cut:eager", lambda: materialize_frame(df))
    assert n_eager >= 1
    n_lazy, lazy = _jobs(spark, "cut:lazy", lambda: materialize_frame(df, eager=False))
    assert n_lazy == 0
    n_read, rows = _jobs(spark, "cut:lazy-read", lambda: _rows(lazy))
    assert n_read >= 1
    assert rows == _rows(eager) == _rows(df)


def test_pagerank_default_cuts_stay_lazy(spark):
    """Pagerank's per-round cuts are lazy: on a 7-node cycle with 4
    rounds the call runs 23 jobs (30 with eager cuts) and reading the
    ranks one more. A flip of the default to eager fails here."""
    from mle_proj_datapipeline_spark.operators.graph import pagerank
    from tests.test_sources import _jobs

    n = 7
    edges = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)], "src INT, dst INT")
    n_call, ranks = _jobs(spark, "pagerank:call", lambda: pagerank(edges, iterations=4))
    n_read, rows = _jobs(spark, "pagerank:read", ranks.collect)
    assert (n_call, n_read) == (23, 1)
    assert len(rows) == n
