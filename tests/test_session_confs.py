"""Unit tests for session.py: ensure_runtime_confs' cannot-modify
guard, the scoped conf / pinned width helpers, and graft_checkpoint's
warnings.

ADVICE r07 (session.py): the guard must recognize the structured error
class (getErrorClass / getCondition) FIRST — a reworded or localized
engine message must not crash table loaders — with the message-substring
check kept as the fallback for wrappers that expose no error class
(Py4J static-conf errors, older Connect builds).

No SparkSession needed (except the durability gate test): we drive the
helpers with fake conf / context objects.
"""

from __future__ import annotations

import logging
import os
import re
from pathlib import Path
from types import SimpleNamespace

import pytest

from un_datapipeline_spark import session as sess_mod


class _FakeConf:
    def __init__(self, exc_factory):
        self._exc_factory = exc_factory
        self.set_calls = []

    def set(self, k, v):
        self.set_calls.append((k, v))
        exc = self._exc_factory(k)
        if exc is not None:
            raise exc


class _FakeSpark:
    def __init__(self, exc_factory):
        self.conf = _FakeConf(exc_factory)


class _ErrWithClass(Exception):
    """Mimics AnalysisException: structured class, arbitrary message."""

    def __init__(self, error_class, msg):
        super().__init__(msg)
        self._error_class = error_class

    def getErrorClass(self):
        return self._error_class


class _ErrWithCondition(Exception):
    """Mimics Spark 4 PySparkException: getCondition, no getErrorClass."""

    def __init__(self, condition, msg):
        super().__init__(msg)
        self._condition = condition

    def getCondition(self):
        return self._condition


def test_error_class_match_survives_reworded_message():
    # Localized/reworded message that the substring check would MISS —
    # the structured class alone must swallow it.
    spark = _FakeSpark(
        lambda k: _ErrWithClass("CANNOT_MODIFY_CONFIG", "la config est figée")
    )
    out = sess_mod.ensure_runtime_confs(spark)
    assert out is spark
    assert len(spark.conf.set_calls) == len(sess_mod.RUNTIME_CONFS)


def test_get_condition_match_survives_reworded_message():
    spark = _FakeSpark(
        lambda k: _ErrWithCondition("CANNOT_MODIFY_CONFIG", "configuración fija")
    )
    assert sess_mod.ensure_runtime_confs(spark) is spark


def test_substring_fallback_still_works_without_error_class():
    # Py4J-style wrapper: plain Exception, class only in the message.
    spark = _FakeSpark(
        lambda k: Exception(
            "org.apache.spark.SparkException: [CANNOT_MODIFY_CONFIG] "
            f"Cannot modify the value of a Spark config: {k}."
        )
    )
    assert sess_mod.ensure_runtime_confs(spark) is spark


def test_unrelated_error_class_still_raises():
    spark = _FakeSpark(lambda k: _ErrWithClass("INTERNAL_ERROR", "boom"))
    with pytest.raises(_ErrWithClass):
        sess_mod.ensure_runtime_confs(spark)


def test_unrelated_plain_exception_still_raises():
    spark = _FakeSpark(lambda k: RuntimeError("connection reset"))
    with pytest.raises(RuntimeError):
        sess_mod.ensure_runtime_confs(spark)


def test_broken_error_class_accessor_falls_back_to_message():
    class _BadAccessor(Exception):
        def getErrorClass(self):
            raise ValueError("accessor exploded")

    spark = _FakeSpark(
        lambda k: _BadAccessor("[CANNOT_MODIFY_CONFIG] Cannot modify the value")
    )
    assert sess_mod.ensure_runtime_confs(spark) is spark


def test_no_error_sets_every_conf():
    spark = _FakeSpark(lambda k: None)
    sess_mod.ensure_runtime_confs(spark)
    assert dict(spark.conf.set_calls) == sess_mod.RUNTIME_CONFS


def test_graft_checkpoint_durability_gate(spark, tmp_path, monkeypatch, caplog):
    """Round-13 (VERDICT r12 items 3/7): graft_checkpoint/ckpt default to
    localCheckpoint (no behavior change locally, nothing written to any
    checkpoint dir) and switch to a RELIABLE Dataset.checkpoint against
    SPARK_GRAFT_CHECKPOINT_DIR when it is set — same rows either way."""
    import os

    from un_datapipeline_spark.session import ckpt

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    local = df.transform(ckpt())
    assert sorted(map(tuple, local.collect())) == [(i, 2 * i) for i in range(100)]

    target = tmp_path / "reliable_ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(target))
    durable = df.transform(ckpt())
    assert sorted(map(tuple, durable.collect())) == [(i, 2 * i) for i in range(100)]
    written = [p for p in target.rglob("*") if p.is_file()]
    assert written, "reliable checkpoint dir must contain materialized blocks"
    # the context now checkpoints into the env dir: no mismatch warning
    with caplog.at_level(logging.WARNING, logger="un_datapipeline_spark"):
        df.transform(ckpt())
    assert not caplog.records, caplog.text


class _DictConf:
    def __init__(self, vals):
        self.vals = dict(vals)

    def get(self, k, default=None):
        return self.vals.get(k, default)

    def set(self, k, v):
        self.vals[k] = v

    def unset(self, k):
        self.vals.pop(k, None)


def _conf_spark(vals=(), parallelism=4):
    return SimpleNamespace(
        conf=_DictConf(vals),
        sparkContext=SimpleNamespace(defaultParallelism=parallelism),
    )


def test_scoped_confs_restores_set_and_unsets_absent():
    spark = _conf_spark({"a": "1"})
    with sess_mod.scoped_confs(spark, {"a": "2", "b": 3}):
        assert spark.conf.vals == {"a": "2", "b": "3"}
    assert spark.conf.vals == {"a": "1"}


def test_scoped_confs_restores_on_exception():
    spark = _conf_spark({"a": "1"})
    with pytest.raises(ValueError):
        with sess_mod.scoped_confs(spark, {"a": "2", "b": "3"}):
            raise ValueError("body failed")
    assert spark.conf.vals == {"a": "1"}


@pytest.mark.parametrize(
    "parallelism, loop, stream", [(4, "8", "4"), (64, "64", "4")]
)
def test_pinned_width_follows_default_parallelism(parallelism, loop, stream):
    key = "spark.sql.shuffle.partitions"
    spark = _conf_spark({key: "200"}, parallelism)
    with sess_mod.pinned_shuffle_width(spark):
        assert spark.conf.get(key) == loop
    with sess_mod.pinned_shuffle_width(spark, stream=True):
        assert spark.conf.get(key) == stream
    assert spark.conf.get(key) == "200"


def test_operators_route_confs_and_checkpoints_through_session():
    """One save/restore path (scoped_confs / pinned_shuffle_width) and
    one materialization path (ckpt) for every operator."""
    banned = re.compile(
        r"\.localCheckpoint\(|conf\.set\(|conf\.unset\(|SPARK_GRAFT_\w*_PARTITIONS"
    )
    ops = Path(sess_mod.__file__).parent / "operators"
    hits = [
        f"{p.name}:{n}: {line.strip()}"
        for p in sorted(ops.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, hits


class _FakeContext:
    """Fakes the context's checkpoint dir; borrows the real JVM so the
    dir comparison qualifies paths the way Spark does."""

    def __init__(self, real_sc, current=None):
        self._jvm, self._jsc = real_sc._jvm, real_sc._jsc
        self.current = current

    def getCheckpointDir(self):
        return self.current

    def setCheckpointDir(self, d):
        # Spark qualifies the dir and appends a per-context UUID
        self.current = f"file:{os.path.abspath(d)}/0c7e4d52-uuid"


class _FakeFrame:
    def __init__(self, sc):
        self.sparkSession = SimpleNamespace(sparkContext=sc)

    def checkpoint(self, eager=True):
        return self


def test_graft_checkpoint_warns_instead_of_ignoring(spark, tmp_path, monkeypatch, caplog):
    monkeypatch.setattr(sess_mod, "_warned", set())
    durable = tmp_path / "durable"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(durable))
    sc = _FakeContext(spark.sparkContext)
    caplog.set_level(logging.WARNING, logger="un_datapipeline_spark")

    sess_mod.graft_checkpoint(_FakeFrame(sc))
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", f"file://{durable}/")
    sess_mod.graft_checkpoint(_FakeFrame(sc))
    assert not caplog.records, caplog.text  # same dir, spelled two ways

    for _ in range(2):  # once per process, not per call
        sess_mod.graft_checkpoint(_FakeFrame(sc), storage_level="DISK_ONLY")
    assert [r.name for r in caplog.records] == ["un_datapipeline_spark"]
    assert "storage_level=DISK_ONLY dropped" in caplog.text
    caplog.clear()

    # a different root that shares the dir's last component
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", "/durable")
    sess_mod.graft_checkpoint(_FakeFrame(sc))
    assert len(caplog.records) == 1 and "ignored" in caplog.text
    caplog.clear()

    other = _FakeContext(spark.sparkContext, "hdfs://nn/other/0c7e")
    for _ in range(2):
        sess_mod.graft_checkpoint(_FakeFrame(other))
    assert len(caplog.records) == 1
    assert "ignored" in caplog.text and "hdfs://nn/other/0c7e" in caplog.text
