"""Round-9 source_fingerprint contract (deferred ADVICE r7 #2): local
paths keep the byte-stable pre-round-9 fingerprint format; schemed paths
(hdfs://, s3a://, file://) list through the session's Hadoop FileSystem
instead of silently hashing to a constant, and raise loudly when no
session is active to do the listing."""

from __future__ import annotations

import os

import pytest

from mle_proj_datapipeline_spark.sources.catalog import source_fingerprint
from mle_proj_datapipeline_spark.sources.readers import file_listing


def test_fingerprint_local_format_unchanged(tmp_path):
    """Schemeless paths keep the exact pre-round-9 format — md5 over
    `path:size:mtime_ns` per file — so the upgrade does not spuriously
    invalidate every persisted snapshot."""
    import hashlib

    p = tmp_path / "t.parquet"
    p.write_bytes(b"x" * 10)
    st = os.stat(p)
    want = hashlib.md5(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode()).hexdigest()
    assert source_fingerprint(str(tmp_path), "t") == want


def test_fingerprint_schemed_path_uses_hadoop_fs(spark, tmp_path):
    """file:// paths exercise the Hadoop FileSystem arm end-to-end:
    stable while untouched, changed when file state changes, and
    distinct for absent tables (empty listing)."""
    d = tmp_path / "sf"
    (d / "t.parquet").mkdir(parents=True)
    (d / "t.parquet" / "part-0.parquet").write_bytes(b"a" * 100)
    uri = "file://" + str(d)

    fp1 = source_fingerprint(uri, "t")
    assert source_fingerprint(uri, "t") == fp1

    (d / "t.parquet" / "part-0.parquet").write_bytes(b"b" * 200)
    fp2 = source_fingerprint(uri, "t")
    assert fp2 != fp1, "size change must change the schemed fingerprint"

    (d / "t.parquet" / "part-1.parquet").write_bytes(b"c")
    fp3 = source_fingerprint(uri, "t")
    assert fp3 != fp2, "new file must change the schemed fingerprint"

    assert source_fingerprint(uri, "absent_table") != fp3


def test_fingerprint_schemed_and_local_agree_on_change_detection(spark, tmp_path):
    """The two arms fingerprint the SAME directory differently (format
    differs by design) but must agree on the invalidation decision:
    both flip when the file flips."""
    d = tmp_path / "sf2"
    (d / "t.parquet").mkdir(parents=True)
    f = d / "t.parquet" / "part-0.parquet"
    f.write_bytes(b"v1")
    local1, schemed1 = source_fingerprint(str(d), "t"), source_fingerprint(
        "file://" + str(d), "t"
    )
    f.write_bytes(b"v2-longer")
    local2, schemed2 = source_fingerprint(str(d), "t"), source_fingerprint(
        "file://" + str(d), "t"
    )
    assert local1 != local2
    assert schemed1 != schemed2


def test_fingerprint_schemed_path_raises_without_session(monkeypatch):
    """A schemed path with no active SparkSession must raise, never
    return a constant (the pre-round-9 silent-stale-serving defect)."""
    from pyspark.sql import SparkSession

    monkeypatch.setattr(
        SparkSession, "getActiveSession", classmethod(lambda cls: None)
    )
    with pytest.raises(RuntimeError, match="no SparkSession is active"):
        source_fingerprint("hdfs://nn/warehouse/sf1", "lineitem")


def test_file_listing_resolves_file_uris_and_is_empty_for_globs(tmp_path):
    """The listing behind source_fingerprint and read_parquet: a
    ``file:/abs`` URI (how snapshot manifests list files) lists the
    local path, and a glob or a missing path lists nothing, so
    read_parquet never serves them from memory."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 3)
    local = file_listing(str(d))
    assert len(local) == 1 and local[0].startswith(f"{d}/part-0.parquet:3:")
    assert file_listing("file:" + str(d)) == local
    assert source_fingerprint("file:" + str(tmp_path), "t") == source_fingerprint(
        str(tmp_path), "t"
    )
    assert file_listing(str(tmp_path / "t.parque[t]")) == []
    assert file_listing(str(tmp_path / "absent")) == []
