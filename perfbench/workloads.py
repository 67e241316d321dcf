"""The benchmark workloads and the tasks they run.

A task is one call into the package's public entry points, followed by
planning and execution.  Each task may have a DuckDB twin (the same
result computed by DuckDB, timed interleaved with Spark) and always has
an output check, run after the timed loops.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import pyspark.sql.functions as F

import probes

HERE = os.path.dirname(os.path.abspath(__file__))

# A representative subset of the ops with a DuckDB oracle: aggregation,
# star joins, outer join, HAVING subquery, as-of join, windows, rollup.
ANALYTICS_OPS = [
    "agg_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "tpch_q6_revenue_delta",
    "tpch_q9_product_profit",
    "tpch_q13_order_distribution",
    "tpch_q18_volume_customer",
    "join_asof",
    "win_topk_per_group",
    "win_running_sum",
    "agg_rollup",
]

# One op each from dedup, similarity search, text analysis, multimodal and
# iterative graph.
LLM_OPS = [
    "llm_dedup_near_minhash",
    "llm_simsearch_cosine_topk",
    "llm_tfidf_topterms",
    "mm_phash_dedup",
    "graph_label_propagation",
]


@dataclass
class Workload:
    name: str
    tasks: list
    # Tables loaded during set-up, before the first op.
    tables: tuple[str, ...] = ()
    # Nominal Spark seconds per warm round on an idle 4-core machine;
    # --seconds is turned into a fixed round count with it, so two
    # commits compared on one workload take the same number of samples.
    round_s: float = 5.0


@dataclass
class Outcome:
    columns: list[str]
    rows: list | None
    n_rows: int
    schema: list[list[str]] = field(default_factory=list)


def canon_hash(columns, rows) -> str:
    from tests.oracle_diff import canon_rows

    return hashlib.sha256(repr(canon_rows(columns, rows)).encode()).hexdigest()


def _oracle_check(out: Outcome, duck_cols, duck_rows) -> list[str]:
    problems = []
    if list(out.columns) != list(duck_cols):
        problems.append(f"columns {out.columns} != oracle {duck_cols}")
    if out.n_rows != len(duck_rows):
        problems.append(f"rows {out.n_rows} != oracle {len(duck_rows)}")
    elif canon_hash(out.columns, out.rows) != canon_hash(duck_cols, duck_rows):
        problems.append("value hash differs from the DuckDB oracle")
    return problems


class RegistryOp:
    """``registry.all_operators()[name].fn(spark, sf_dir)`` then plan and
    ``collect()``."""

    def __init__(self, name: str, expect: dict | None = None):
        self.name = name
        self.expect = expect

    def oracle_sql(self, ctx) -> str | None:
        return ctx.ops[self.name].oracle

    def run(self, ctx, traced: bool) -> Outcome:
        op = ctx.ops[self.name]
        if not traced:
            df = op.fn(ctx.spark, ctx.data_dir)
            rows = df.collect()
            return Outcome(df.columns, rows, len(rows), _schema(df))
        sc, tr = ctx.spark.sparkContext, ctx.tracer
        sc.setJobGroup(self.name, self.name)
        try:
            j0 = probes.job_ids(sc, self.name)
            with tr.span("operators.build", op=self.name) as a:
                df = op.fn(ctx.spark, ctx.data_dir)
            probes.drain_listeners(sc)
            j1 = probes.job_ids(sc, self.name)
            build = probes.stage_totals(sc, j1 - j0)
            a.update(jobs=build["jobs"])
            qe = df._jdf.queryExecution()
            with tr.span("operators.plan", op=self.name) as a:
                qe.executedPlan()
            with tr.span("operators.exec", op=self.name) as a:
                rows = df.collect()
            probes.drain_listeners(sc)
            run = probes.stage_totals(sc, probes.job_ids(sc, self.name) - j1)
            a.update(run)
            sample = {
                "build_s": _last(tr, "operators.build"),
                "build_jobs": build["jobs"],
                "plan_s": _last(tr, "operators.plan"),
                "exec_s": _last(tr, "operators.exec"),
                "jobs": run["jobs"],
                "stages": run["stages"],
                "tasks": run["tasks"],
                "exec_task_busy_s": run["task_busy_s"],
                "task_busy_s": build["task_busy_s"] + run["task_busy_s"],
                "shuffle_write_bytes": build["shuffle_write_bytes"] + run["shuffle_write_bytes"],
                "spill_bytes": build["spill_bytes"] + run["spill_bytes"],
                "failed_tasks": build["failed_tasks"] + run["failed_tasks"],
                "rows_read": build["rows_read"] + run["rows_read"],
                "result_rows": len(rows),
                "broadcast_bytes": probes.broadcast_bytes(qe.executedPlan()),
            }
            for k, v in probes.phases_ms(qe).items():
                sample[f"plan.{k}_ms"] = v
            ctx.record(self.name, sample)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return Outcome(df.columns, rows, len(rows), _schema(df))

    def check(self, ctx, out: Outcome, duck) -> list[str]:
        if duck is not None:
            return _oracle_check(out, *duck)
        exp = self.expect or {}
        problems = []
        if out.schema != exp.get("schema"):
            problems.append(f"schema {out.schema} != expected {exp.get('schema')}")
        if "contains" in exp:
            got = {tuple(r)[:2] for r in out.rows}
            missing = [p for p in ctx.con.execute(exp["contains"]).fetchall() if p not in got]
            if missing:
                problems.append(f"{len(missing)} expected rows missing, e.g. {missing[:3]}")
        return problems


def _schema(df) -> list[list[str]]:
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


def _last(tr, name: str) -> float:
    for s in reversed(tr.spans):
        if s["name"] == name:
            return s["end"] - s["start"]
    return 0.0


ETL_PARTITION_BY = ("l_returnflag", "l_linestatus")
ETL_FILTER = "l_quantity > 5"
ETL_CHECKSUM = (
    "count(*), sum(line_id), sum(l_quantity), "
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)), "
    "count(DISTINCT l_returnflag || l_linestatus)"
)


def _etl_transform(df):
    return df.filter(ETL_FILTER).withColumn(
        "line_id", F.col("l_orderkey") * 8 + F.col("l_linenumber")
    )


class PipelineRun:
    """``Pipeline(...).source_parquet(...).transform(...)
    .sink_parquet(partition_by=...).run()`` over a multi-row-group input."""

    name = "pipeline_run"

    @staticmethod
    def _paths(ctx):
        return os.path.join(ctx.data_dir, "etl_input"), os.path.join(ctx.work_dir, "etl_out")

    def oracle_sql(self, ctx) -> None:
        return None  # checked by reading the sink back

    def run(self, ctx, traced: bool) -> Outcome:
        from un_datapipeline_spark.pipeline import Pipeline

        src, out = self._paths(ctx)
        sc = ctx.spark.sparkContext
        if traced:
            sc.setJobGroup(self.name, self.name)
        try:
            with ctx.tracer.span("pipeline.run") as a:
                res = (
                    Pipeline(ctx.spark, "perfbench_etl")
                    .source_parquet(src)
                    .transform(_etl_transform, "filter_derive_line_id")
                    .sink_parquet(out, mode="overwrite", partition_by=ETL_PARTITION_BY)
                    .run()
                )
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        files, size = probes.dir_stats(out)
        a.update(rows_written=res.rows, bytes_written=size, files_written=files)
        if traced:
            ctx.record(
                self.name,
                {"run_s": _last(ctx.tracer, "pipeline.run"), "rows_written": res.rows,
                 "bytes_written": size, "files_written": files,
                 "input_bytes": probes.dir_stats(src)[1]},
            )
        return Outcome(["rows_written"], None, res.rows)

    def check(self, ctx, out: Outcome, duck) -> list[str]:
        src, dst = self._paths(ctx)
        want = ctx.con.execute(
            f"SELECT {ETL_CHECKSUM} FROM (SELECT *, l_orderkey * 8 + l_linenumber AS line_id "
            f"FROM read_parquet('{src}/*.parquet') WHERE {ETL_FILTER})"
        ).fetchone()
        got = ctx.con.execute(
            f"SELECT {ETL_CHECKSUM} FROM read_parquet('{dst}/*/*/*.parquet', hive_partitioning = 1)"
        ).fetchone()
        problems = []
        if got != want:
            problems.append(f"sink read-back {got} != input {want}")
        if out.n_rows != want[0]:
            problems.append(f"Pipeline.run reported {out.n_rows} rows, input has {want[0]}")
        return problems


BUCKETED_JOIN_SQL = (
    "SELECT o_orderstatus, count(*) AS n, sum(l_quantity) AS qty "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_orderstatus"
)


class BucketedJoin:
    """``scale.write_bucketed`` of orders and lineitem on the order key,
    then ``scale.bucketed_join`` aggregated per order status."""

    name = "bucketed_join"

    def oracle_sql(self, ctx) -> str:
        return BUCKETED_JOIN_SQL

    def run(self, ctx, traced: bool) -> Outcome:
        from un_datapipeline_spark import scale
        from un_datapipeline_spark.tables import load_table

        spark, tr = ctx.spark, ctx.tracer
        sc = spark.sparkContext
        if traced:
            sc.setJobGroup(self.name, self.name)
        try:
            orders = load_table(spark, ctx.data_dir, "orders").select(
                F.col("o_orderkey").alias("orderkey"), "o_orderstatus"
            )
            lines = load_table(spark, ctx.data_dir, "lineitem").select(
                F.col("l_orderkey").alias("orderkey"), "l_quantity"
            )
            with tr.span("scale.write_bucketed", table="orders"):
                scale.write_bucketed(orders, "perfbench_orders", "orderkey")
            with tr.span("scale.write_bucketed", table="lineitem"):
                scale.write_bucketed(lines, "perfbench_lineitem", "orderkey")
            with tr.span("scale.bucketed_join"):
                df = (
                    scale.bucketed_join(spark, "perfbench_orders", "perfbench_lineitem", "orderkey")
                    .groupBy("o_orderstatus")
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
                )
                rows = df.collect()
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if traced:
            writes = [s for s in tr.spans[-3:] if s["name"] == "scale.write_bucketed"]
            ctx.record(
                self.name,
                {"write_bucketed_s": sum(s["end"] - s["start"] for s in writes),
                 "bucketed_join_s": _last(tr, "scale.bucketed_join")}
            )
        return Outcome(df.columns, rows, len(rows))

    def check(self, ctx, out: Outcome, duck) -> list[str]:
        problems = _oracle_check(out, *duck)
        wh = ctx.warehouse_dir
        for table, src, key in (("perfbench_orders", "orders", "o_orderkey"),
                                ("perfbench_lineitem", "lineitem", "l_orderkey")):
            got = ctx.con.execute(
                f"SELECT count(*), sum(orderkey) FROM read_parquet('{wh}/{table}/*.parquet')"
            ).fetchone()
            want = ctx.con.execute(f"SELECT count(*), sum({key}) FROM {src}").fetchone()
            if got != want:
                problems.append(f"{table} read-back {got} != {src} {want}")
        return problems


def _expectations() -> dict:
    with open(os.path.join(HERE, "expect.json")) as f:
        return json.load(f)


def build(name: str) -> Workload:
    if name == "analytics":
        return Workload(
            name, [RegistryOp(n) for n in ANALYTICS_OPS],
            tables=("region", "nation", "supplier", "customer", "part", "orders", "lineitem", "events"),
        )
    if name == "llm_corpus":
        exp = _expectations()
        return Workload(
            name, [RegistryOp(n, exp.get(n)) for n in LLM_OPS],
            tables=("documents", "embeddings", "orders", "lineitem"),
            round_s=7.5,
        )
    raise KeyError(name)


NAMES = ("analytics", "llm_corpus")

# The write-path probe that ends every traced run: Pipeline.run over a
# lineitem-shaped input stored as one file of many row groups (large
# enough that its scan splits into several tasks), and the bucketed join.
PROBE_ETL_ROWS = 400_000


def write_probe() -> list:
    return [PipelineRun(), BucketedJoin()]
