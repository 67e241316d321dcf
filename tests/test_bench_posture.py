"""bench.py's local-vs-cluster posture detection fails open to the
scalable configuration: input bytes are counted through nested
directories, and an input it cannot read selects cluster posture."""

from __future__ import annotations

import bench


def test_dir_bytes_counts_nested_files(tmp_path):
    (tmp_path / "part").mkdir()
    (tmp_path / "part" / "x.parquet").write_bytes(b"0" * 1000)
    (tmp_path / "top.parquet").write_bytes(b"0" * 24)
    assert bench._dir_bytes(str(tmp_path)) == 1024


def test_posture_fails_open_to_cluster(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_POSTURE", raising=False)
    assert not bench._use_local_posture(str(tmp_path / "missing"))
    (tmp_path / "part").mkdir()
    (tmp_path / "part" / "x.parquet").write_bytes(b"0" * 1000)
    monkeypatch.setattr(bench, "_LOCAL_POSTURE_MAX_BYTES", 1000)
    assert not bench._use_local_posture(str(tmp_path))
    monkeypatch.setattr(bench, "_LOCAL_POSTURE_MAX_BYTES", 1001)
    assert bench._use_local_posture(str(tmp_path))
