"""Versioned snapshot tables on plain parquet — lakehouse-lite.

The reference's sinks are overwrite-in-place parquet directories
(utils/process_silver_tables.py:85): a failed rewrite corrupts the
table and history is gone. This module layers snapshot isolation and
time travel over parquet with nothing but immutable data files and tiny
JSON manifests (the container ships no Delta/Iceberg jars; the public
designs of both inform the layout):

    table_root/
      _snapshots/v00000017.json   one manifest per committed version:
                                  {version, timestamp, parent, files[]}
      data/c17-<uuid>/part-*.parquet   immutable per-commit file sets

- A reader resolves exactly one manifest (latest, or a pinned
  version) and scans only the files it lists — data files
  are never mutated, so every historical version stays readable until
  expired.
- A writer stages data files first, then commits by CLAIMING its
  version number (exclusive create of .vNNN.claim — the CAS) and
  renaming the manifest into place; a crash before the rename leaves
  the table untouched (readers never see half-written versions).
  Concurrent committers serialize: a losing writer re-reads the history
  and retries on the next version — no silent manifest clobber (the
  pre-CAS hazard: local-FS rename overwrites an existing destination).
  Orphaned claims from crashed writers are probed past only once the
  claim file ages beyond CLAIM_STALL_SECONDS (a young orphan makes
  write_snapshot fail fast after ~8s of retries — callers re-run the
  job — never fork past a possibly-live holder). Two fences close the
  probed-past race: a pre-rename parent re-check, and a post-commit
  fork check that detects a sibling lineage (a commit the history
  skipped, or one that skipped us), deletes its OWN manifest, and
  retries on fresh history. Residual caveat vs a real table format:
  version numbers can skip after a writer crash, and during a fork
  repair a just-committed version may be briefly visible before its
  writer retracts it.
- OVERWRITE lists only new files; APPEND lists parent files + new.
- All filesystem access goes through the Hadoop FileSystem API of the
  active session, so the layout works unchanged on HDFS/S3A/local.

Scale notes (100 TB): manifests hold file paths only (KBs per commit);
the expensive part of a snapshot table — per-file column stats for
pruning — is delegated to parquet footers, which Spark already reads.
`expire` bounds storage growth by dropping manifests and any file no
live version references.
"""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mle_proj_datapipeline_spark.sources.readers import read_parquet

SNAP_DIR = "_snapshots"

# A commit claim younger than this is treated as a possibly-live writer
# (GC pause, slow FS) and never probed past; only older claims are
# declared crashed. Deliberately much longer than any plausible pause —
# the cost is that write_snapshot raises after its in-process retry
# budget (~8s) while a young orphan blocks, and the JOB retries later;
# the cost of probing early is a forked lineage. The post-commit fork
# check (_fork_conflict) is the second fence for the residual race.
CLAIM_STALL_SECONDS = 300.0

# In-process commit retry budget: 40 attempts x 0.2s backoff (~8s plus
# history reads) rides out normal contention; a blocking young orphan
# fails fast past this and the JOB retries.
_COMMIT_ATTEMPTS = 40


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _jpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _create_exclusive(spark: SparkSession, path: str) -> bool:
    """Atomic create-if-absent — the CAS primitive for commit claims.

    Hadoop's LocalFileSystem.create(path, overwrite=False) checks
    existence THEN creates (TOCTOU — two racing writers can both
    "win"), so for file:// / schemeless paths this drops to
    java.io.File.createNewFile, which is O_CREAT|O_EXCL. On HDFS the
    namenode create-without-overwrite is atomic server-side. On S3A it
    is NOT by default: Hadoop implements create(overwrite=false) as a
    HEAD-then-PUT existence check (the same TOCTOU), so S3A paths are
    refused unless conditional creates (If-None-Match, S3A's
    fs.s3a.create.conditional.enabled) are turned on."""
    fs, jvm = _fs(spark, path)
    jpath = _jpath(spark, path)
    fs.mkdirs(jpath.getParent())
    scheme = jpath.toUri().getScheme()
    if scheme in (None, "file"):
        return bool(jvm.java.io.File(jpath.toUri().getPath()).createNewFile())
    if scheme == "s3a":
        conf = spark._jsc.hadoopConfiguration()
        if (conf.get("fs.s3a.create.conditional.enabled") or "").lower() != "true":
            raise RuntimeError(
                "snapshot commits on s3a:// require conditional creates "
                "(set fs.s3a.create.conditional.enabled=true); plain S3A "
                "create(overwrite=false) is HEAD-then-PUT and cannot "
                "serialize concurrent committers"
            )
    try:
        out = fs.create(jpath, False)
        out.close()
        return True
    except Exception as ex:
        if "Exists" in type(ex).__name__ or "exists" in str(ex).lower():
            return False
        raise


def _fork_conflict(snaps: list[dict], version: int, parent: int | None) -> bool:
    """After committing ``version`` (built on ``parent``), decide from
    the re-read history whether the commit forked the lineage:

    - a committed manifest sits BETWEEN our parent and our version →
      we probed past a claim whose writer actually completed — our
      manifest's file list (append mode) omits its files;
    - a LATER manifest's parent is below our version → that writer
      committed without seeing us — its lineage omits OUR files.

    Either way the committer must retract its own manifest and retry on
    fresh history (write_snapshot does). Pure function for testability."""
    pv = parent if parent is not None else 0
    for s in snaps:
        v = s["version"]
        if v == version:
            continue
        if pv < v < version:
            return True
        sp = s.get("parent") or 0
        if v > version and sp < version:
            return True
    return False


def _claim_age(spark: SparkSession, path: str) -> float:
    """Seconds since the claim file at ``path`` was written; -1.0 if it
    does not exist (the version is claimable)."""
    fs, _ = _fs(spark, path)
    jpath = _jpath(spark, path)
    try:
        if not fs.exists(jpath):
            return -1.0
        return time.time() - fs.getFileStatus(jpath).getModificationTime() / 1000.0
    except Exception as ex:
        # Deleted between exists() and getFileStatus() == claim released
        # — genuinely claimable. Anything else (a transient FS error)
        # must NOT read as claimable: a second committer would steal an
        # ACTIVE claim. The fork-conflict retraction downstream would
        # eventually repair the double-commit, but failing here is
        # strictly cheaper than repairing it.
        if "FileNotFound" in type(ex).__name__ or "FileNotFound" in str(ex):
            return -1.0
        raise


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, _ = _fs(spark, path)
    out = fs.create(_jpath(spark, path), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    fs, jvm = _fs(spark, path)
    stream = fs.open(_jpath(spark, path))
    try:
        reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream, "UTF-8"))
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
        return "\n".join(lines)
    finally:
        stream.close()


def _list(spark: SparkSession, path: str, suffix: str) -> list[str]:
    fs, _ = _fs(spark, path)
    jpath = _jpath(spark, path)
    if not fs.exists(jpath):
        return []
    return sorted(
        st.getPath().toString()
        for st in fs.listStatus(jpath)
        if st.isFile() and st.getPath().getName().endswith(suffix)
    )


def history(spark: SparkSession, root: str) -> list[dict]:
    """All committed manifests, oldest first."""
    return [
        json.loads(_read_text(spark, p))
        for p in _list(spark, f"{root}/{SNAP_DIR}", ".json")
    ]


def _resolve(spark: SparkSession, root: str, version: int | None) -> dict:
    snaps = history(spark, root)
    if not snaps:
        raise FileNotFoundError(f"no snapshots under {root}")
    if version is not None:
        for s in snaps:
            if s["version"] == version:
                return s
        raise ValueError(f"version {version} not found (have {[s['version'] for s in snaps]})")
    return snaps[-1]


def write_snapshot(
    df: DataFrame,
    root: str,
    mode: str = "overwrite",
    meta: dict | None = None,
) -> int:
    """Commit ``df`` as the next version. ``mode='overwrite'`` replaces
    the logical table; ``'append'`` adds to it. Data files stage into a
    fresh per-commit directory; the version becomes visible only at the
    final atomic manifest rename. Returns the committed version.

    The manifest's timestamp is the wall clock, never earlier than the
    parent's."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    spark = df.sparkSession

    # Stage the immutable data files ONCE, outside the commit loop.
    commit_dir = f"{root}/data/c{uuid.uuid4().hex[:12]}"
    df.write.mode("errorifexists").parquet(commit_dir)
    new_files = _list(spark, commit_dir, ".parquet")

    # Optimistic-concurrency commit (the CAS a real table format gives):
    # a writer CLAIMS its version number by exclusive-creating
    # .vNNN.claim (atomic create-if-absent on HDFS; create(overwrite=
    # False) on local), writes the manifest to a temp file, and renames
    # it into place — the rename destination can't exist because only
    # the claim owner writes that version. A losing writer re-reads the
    # history and retries on the next version, so concurrent committers
    # serialize instead of silently overwriting each other's manifest
    # (local-FS rename DOES clobber an existing destination — the
    # pre-CAS lost-commit hazard).
    #
    # Orphaned claims (a claimer crashed between claim and rename) are
    # probed past only when the claim FILE is older than
    # CLAIM_STALL_SECONDS — a live-but-slow holder (GC pause, slow FS)
    # must not be misclassified as crashed, because committing a sibling
    # version from a stale parent forks the lineage (append mode would
    # drop the concurrent winner's files). As a second fence, the parent
    # is re-verified against history immediately before the manifest
    # rename: a writer that stalled long enough to be probed past
    # abandons its claim and retries on a fresh parent instead of
    # committing the fork. `expire` sweeps stale claims; version numbers
    # may skip after a crash — manifests are ordered by version, readers
    # are indifferent.
    fs, _ = _fs(spark, root)
    for _attempt in range(_COMMIT_ATTEMPTS):
        snaps = history(spark, root)
        parent = snaps[-1] if snaps else None
        latest = parent["version"] if parent else 0
        version = latest + 1
        # Skip versions whose claim is demonstrably abandoned (no
        # manifest, claim file old). A younger blocking claim means a
        # possibly-live writer: wait for it rather than fork.
        while _claim_age(spark, f"{root}/{SNAP_DIR}/.v{version:08d}.claim") > CLAIM_STALL_SECONDS:
            version += 1
        # The wall clock is re-read per attempt so a losing writer
        # can't stamp behind the winner it retries after.
        ts = time.time()
        if parent:
            ts = max(ts, parent["timestamp"])
        files = new_files
        if mode == "append" and parent:
            files = sorted(set(parent["files"]) | set(new_files))
        claim = f"{root}/{SNAP_DIR}/.v{version:08d}.claim"
        if not _create_exclusive(spark, claim):
            # claim taken — another writer owns this version; back off
            time.sleep(0.2)
            continue
        manifest = {
            "version": version,
            "timestamp": ts,
            "parent": parent["version"] if parent else None,
            "mode": mode,
            "files": files,
            "meta": meta or {},
        }
        # Pre-rename fence: if another commit landed after `parent` was
        # read (possible only when this writer stalled long enough to be
        # probed past as an orphan), the staged manifest references a
        # stale parent — renaming it would fork the lineage and, in
        # append mode, drop the concurrent winner's files. Abandon the
        # claim (swept by `expire`) and retry on the fresh history.
        cur = history(spark, root)
        if (cur[-1]["version"] if cur else 0) != latest:
            continue
        tmp = f"{root}/{SNAP_DIR}/.v{version:08d}-{uuid.uuid4().hex[:8]}.json.tmp"
        final = f"{root}/{SNAP_DIR}/v{version:08d}.json"
        _write_text(spark, tmp, json.dumps(manifest))
        if not fs.rename(_jpath(spark, tmp), _jpath(spark, final)):
            raise RuntimeError(f"commit rename failed for version {version}")
        # Post-commit fork check: the pre-rename fence is itself
        # check-then-act, so a >CLAIM_STALL-stalled writer waking inside
        # another committer's fence→rename window can still produce
        # sibling lineages. Both siblings re-read history AFTER their
        # rename; whichever observes the conflict (at least the later
        # renamer must) retracts its OWN manifest and retries on fresh
        # history — appends are never silently dropped.
        if _fork_conflict(history(spark, root), version, parent["version"] if parent else None):
            fs.delete(_jpath(spark, final), False)
            continue
        # The claim file INTENTIONALLY outlives the commit: deleting it
        # here would let a retrying loser re-claim this version and die
        # on the rename. `expire` sweeps claims <= the latest commit.
        return version
    raise RuntimeError(
        f"could not commit to {root} after {_COMMIT_ATTEMPTS} attempts "
        "(writer storm, or a young orphaned claim — re-run the job; claims "
        f"older than {CLAIM_STALL_SECONDS:.0f}s are declared dead)"
    )


def read_snapshot(
    spark: SparkSession,
    root: str,
    version: int | None = None,
) -> DataFrame:
    """Read one table version: latest by default, or a pinned
    ``version``.

    The version's files go through ``readers.read_parquet``, keyed on
    the manifest's file tuple and the inference confs: the first read
    of a version infers its schema, later reads of the same files
    (same paths, sizes and mtimes) declare it and run no job. A new
    commit lists new files, so it is inferred again."""
    return _scan(spark, _resolve(spark, root, version))


def _scan(spark: SparkSession, snap: dict) -> DataFrame:
    if not snap["files"]:
        raise ValueError(f"snapshot v{snap['version']} is empty")
    return read_parquet(spark, *snap["files"])


def pinned_snapshot(
    spark: SparkSession, root: str, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The engine's one reuse-a-committed-artifact primitive: the table
    at ``root`` holds ``build()`` as of ``key`` (a source fingerprint
    plus whatever else the artifact depends on).

    When the latest manifest was committed under ``key``, its files are
    read straight from the one history listing. Otherwise ``build()``
    is committed with ``meta={"source": key}`` (atomic, like every
    snapshot commit, so two concurrent builders never lose work or
    serve a half-written artifact), versions beyond the last two are
    expired, and the new commit is read. An empty frame commits one
    schema-only file, so an empty source serves an empty artifact."""
    snaps = history(spark, root)
    if snaps and (snaps[-1].get("meta") or {}).get("source") == key:
        return _scan(spark, snaps[-1])
    write_snapshot(build(), root, mode="overwrite", meta={"source": key})
    expire(spark, root, keep_last=2)
    return read_snapshot(spark, root)


def expire(spark: SparkSession, root: str, keep_last: int) -> list[int]:
    """Drop all but the last ``keep_last`` versions and delete data
    files no surviving version references (VACUUM). Returns expired
    version numbers."""
    snaps = history(spark, root)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    dead, live = snaps[:-keep_last], snaps[-keep_last:]
    if not dead:
        return []
    keep_files = {f for s in live for f in s["files"]}
    fs, _ = _fs(spark, root)
    for s in dead:
        for f in s["files"]:
            if f not in keep_files:
                fs.delete(_jpath(spark, f), False)
        fs.delete(_jpath(spark, f"{root}/{SNAP_DIR}/v{s['version']:08d}.json"), False)
    # Sweep orphaned commit claims (a writer that crashed between claim
    # and manifest rename) at or below the latest committed version —
    # claims above it may belong to an in-flight writer.
    latest = live[-1]["version"]
    for p in _list(spark, f"{root}/{SNAP_DIR}", ".claim"):
        name = p.rsplit("/", 1)[-1]
        try:
            v = int(name[2:10])
        except ValueError:
            continue
        if v <= latest:
            fs.delete(_jpath(spark, p), False)
    return [s["version"] for s in dead]


def materialize_frame(
    df: DataFrame, snapshot_root: str | None = None, *, eager: bool = True
) -> DataFrame:
    """The engine's one lineage cut, for an intermediate frame
    (signatures, buckets, CC edge sets, iteration state) that several
    plan arms or iterations re-read. Every cut in the package goes
    through here, so each materialization boundary is a call of this
    function.

    Three arms:

    - Default: eager ``localCheckpoint`` — the frame is computed now
      and its blocks cached on the executors. Cheap, but executor-local: a lost executor
      invalidates the blocks.
    - ``eager=False``: lazy ``localCheckpoint`` — lineage still
      truncates and the blocks still materialize exactly once, at the
      first action that reads the frame, so a fixed-round loop runs as
      one job chain instead of paying a separate job per cut (pagerank:
      ~15% off the warm sf0.1 wall). Use it only for a frame read by
      ONE consumer chain: concurrent consumers of a lazy cut (two arms
      of one plan, or two actions on threads) each re-evaluate it.
    - ``snapshot_root``: commit as a snapshot version and read back —
      the DURABLE path for long multi-stage cluster jobs
      (fault-tolerant, resumable, shareable across queries). Always
      eager: the write is the materialization."""
    if snapshot_root:
        write_snapshot(df, snapshot_root, mode="overwrite")
        return read_snapshot(df.sparkSession, snapshot_root)
    return df.localCheckpoint(eager=eager)
