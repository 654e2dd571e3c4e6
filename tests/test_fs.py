"""Scheme-aware sidecar I/O: local fast path vs the Hadoop FS route."""

import json
import os

import pytest

from nexlt_spark import fs as nfs


def test_local_path_forms():
    assert nfs.local_path("/tmp/store") == "/tmp/store"
    assert nfs.local_path("rel/store") == "rel/store"
    assert nfs.local_path("file:///tmp/store") == "/tmp/store"
    assert nfs.local_path("file:/tmp/store") == "/tmp/store"
    assert nfs.local_path("file://localhost/tmp/store") == "/tmp/store"
    assert nfs.local_path("hdfs://nn:8020/store") is None
    assert nfs.local_path("s3a://bucket/store") is None


def test_write_read_roundtrip_local(tmp_path):
    p = str(tmp_path / "meta.json")
    nfs.write_bytes(None, p, b'{"a": 1}')
    assert nfs.read_bytes(None, p) == b'{"a": 1}'


def test_hadoop_fs_route_roundtrip(spark, tmp_path, monkeypatch):
    """Exercise the JVM FileSystem write/read path (what hdfs:// and
    s3a:// sidecars use) by forcing the non-local branch on a file the
    local filesystem can verify."""
    p = str(tmp_path / "remote" / "meta.json")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    monkeypatch.setattr(nfs, "local_path", lambda _: None)
    payload = json.dumps({"centroids": [[0.0, 1.0]]}).encode()
    nfs.write_bytes(spark, p, payload)
    assert nfs.read_bytes(spark, p) == payload
    with open(p, "rb") as fh:  # the JVM route really wrote the file
        assert fh.read() == payload


def test_stats_table_remote_branch(spark, tmp_path, monkeypatch):
    """A URI-scheme store path must produce a stats table Spark can read
    back (regression: driver-local pyarrow I/O on the URI string died
    after the postings flush, leaving a partial store)."""
    from nexlt_spark.index import packed

    monkeypatch.setattr("nexlt_spark.fs.local_path", lambda _: None)
    p = str(tmp_path / "stats")
    packed._write_stats_table(spark, p, 7, 123, 16, "standard")
    row = spark.read.parquet(p).collect()[0]
    assert (row["n_docs"], row["total_tokens"], row["n_buckets"]) == (7, 123, 16)
    assert row["analyzer"] == "standard" and row["ranged"] is True
