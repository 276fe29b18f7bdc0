"""The lake log's filesystem primitives (standard library, no Spark):
the cross-process commit lease, put-if-absent markers, and the one
path normaliser that refuses non-local URIs."""

from __future__ import annotations

import os
import re
import sys
import threading

import pytest
from pyspark.sql import types as T

from evmtrace_etl_spark import sinks
from evmtrace_etl_spark.sources import lake_changes


def test_commit_lease_is_mutually_exclusive(tmp_path):
    """Eight threads (more than the cores) each take the lease on one
    manifest dir 20 times, with a short switch interval; every holder
    checks it is alone inside and records the most holders it saw —
    the O_EXCL create must admit exactly one."""
    mdir = str(tmp_path / "m")
    inside = 0
    most = 0
    guard = threading.Lock()
    errors: list[Exception] = []

    def worker() -> None:
        nonlocal inside, most
        try:
            for _ in range(20):
                with sinks._CommitLease(mdir):
                    with guard:
                        inside += 1
                        most = max(most, inside)
                    with guard:
                        inside -= 1
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert most == 1
    assert not os.path.exists(os.path.join(mdir, "_LOCK"))


def test_commit_marker_is_put_if_absent(tmp_path):
    """``overwrite=False`` keeps the first marker and raises
    ``SnapshotConflict`` for the second writer; ``overwrite=True``
    replaces.  No temp file is left behind either way."""
    d = str(tmp_path / "v0")
    sinks._write_json_marker(d, "_COMMIT", {"w": 1}, overwrite=False)
    with pytest.raises(sinks.SnapshotConflict):
        sinks._write_json_marker(d, "_COMMIT", {"w": 2}, overwrite=False)
    assert sinks._read_json(d + "/_COMMIT") == {"w": 1}
    sinks._write_json_marker(d, "_TXN", {"w": 1})
    sinks._write_json_marker(d, "_TXN", {"w": 2})
    assert sinks._read_json(d + "/_TXN") == {"w": 2}
    assert sorted(os.listdir(d)) == ["_COMMIT", "_TXN"]


@pytest.mark.parametrize("uri", ["hdfs://nn/lake/t", "s3a://bucket/lake/t"])
def test_non_local_lake_paths_raise(uri):
    """The lake tier is local-filesystem only: a ``scheme://`` path
    other than ``file:`` raises a ValueError naming it, on the sink
    side and on the stream source alike."""
    with pytest.raises(ValueError, match=re.escape(uri)):
        sinks.manifest_version(uri)
    with pytest.raises(ValueError, match=re.escape(uri)):
        sinks.committed_schema(uri)
    with pytest.raises(ValueError, match=re.escape(uri)):
        lake_changes.LakeChangesStreamReader(T.StructType(), {"path": uri})
    assert sinks._local_path("file:///lake/t/") == "/lake/t"
