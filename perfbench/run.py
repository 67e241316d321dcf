"""Layered benchmark of the package's operators.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Run from the repository root.  One closed-loop client in one process
drives ``local[<cores>]``; nothing else runs concurrently.  A run:

1. generates the workload's inputs from ``--seed`` (perfbench/gen.py,
   in a child process, timed apart from set-up);
2. sets up: ``session.get_spark``, ``registry.all_operators`` and
   ``tables.load_table`` of every table the workload reads;
3. runs every task once in the fresh JVM (the cold pass), then a fixed
   number of warm rounds, each in a seed-permuted order, running each
   task's DuckDB twin right after it;
4. checks every output against DuckDB or the recorded expectations;
5. sets up twice more after stopping the session (fresh imports, new
   SparkContext, tables reloaded) for the ``setup_s`` median.

``--trace 1`` alternates traced and untraced warm rounds, reports the
per-layer metrics and the tracing overhead, and writes its spans to
``.perfbench_out/``; read them with ``python3 perfbench/spans.py``.
Every traced run ends with a write-path probe, run twice: ``Pipeline.run``
over a lineitem-shaped input of many row groups, and ``scale.write_bucketed``
plus ``scale.bucketed_join``; the second run gives the write-layer metrics.

End-to-end times are corrected for machine speed (see ``YARDSTICK_SQL``),
so CPU stolen by other guests of a shared VM moves them less; the raw
times are printed too.  ``peak_rss_mb`` and ``ops_failed_ratio`` are
printed but are not bounded metrics: the JVM's peak RSS swings by a fifth
between identical runs, and failures are counted in the JSON ``failed``
field.

The last stdout line is the JSON result; the lines above it are the
posture header, every metric with its unit, and the check verdicts.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import probes  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

PACKAGE = "un_datapipeline_spark"
# DuckDB twin executions after each warm Spark execution.
DUCK_REPS = 2

# Machine-speed correction.  On a shared VM, CPU stolen by other guests
# stretched the wall times of identical runs by up to 2.3x, and the steal
# changes from minute to minute.  A fixed, data-independent DuckDB query
# (the yardstick) is timed after every task and after every set-up, and
# the machine's steal share is read from /proc/stat over the run.  Each
# end-to-end time is reported as
#     measured x YARDSTICK_REF_S / (median yardstick time) x (1 - steal share),
# i.e. in seconds at the speed of an idle 4-vCPU VM.  Spark's job-floor
# latency stretches more than the yardstick under steal; the (1 - steal)
# factor is the empirical remainder.  Raw times are printed as well.
YARDSTICK_SQL = "SELECT sum(hash(i)) FROM range(2000000) t(i)"
YARDSTICK_REF_S = 0.045


def yardstick(con) -> float:
    t0 = time.perf_counter()
    con.execute(YARDSTICK_SQL).fetchall()
    return time.perf_counter() - t0


def log(msg: str) -> None:
    print(msg, flush=True)


def hermetic_env(work: str) -> None:
    """Scratch dirs under ``work``, the repo on the workers' path, no
    console progress, and the program's own defaults for every
    ``SPARK_GRAFT_*`` knob except the core count."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = os.environ
    for k in [k for k in env if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS"]:
        del env[k]
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    # No hsperfdata files in the machine's /tmp.
    java_opts = f"-Djava.io.tmpdir={env['TMPDIR']} -Dderby.system.home={work} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir=file:{os.path.join(work, 'warehouse')} "
        f'--driver-java-options "{java_opts}" pyspark-shell'
    )
    import tempfile

    tempfile.tempdir = None


def purge_package() -> None:
    for m in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[m]


class Ctx:
    """What tasks need: the session, inputs, DuckDB and the tracer."""

    def __init__(self, data_dir: str, work_dir: str, tracer: Tracer):
        self.data_dir, self.work_dir, self.tracer = data_dir, work_dir, tracer
        self.warehouse_dir = os.path.join(work_dir, "warehouse")
        self.spark = self.ops = self.con = None
        self.round = 0
        self.yard: list[float] = []  # yardstick seconds, see YARDSTICK_SQL
        self.samples: dict[str, list[tuple[int, dict]]] = {}

    def record(self, task: str, sample: dict) -> None:
        self.samples.setdefault(task, []).append((self.round, sample))


def setup(ctx: Ctx, wl) -> float:
    """Session build, registry import and table metadata load."""
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("setup"):
        with tr.span("session.get_spark"):
            session = importlib.import_module(f"{PACKAGE}.session")
            ctx.spark = session.get_spark()
        with tr.span("registry.all_operators"):
            registry = importlib.import_module(f"{PACKAGE}.registry")
            ctx.ops = registry.all_operators()
        with tr.span("tables.load_table"):
            tables = importlib.import_module(f"{PACKAGE}.tables")
            for t in wl.tables:
                tables.load_table(ctx.spark, ctx.data_dir, t)
    return time.perf_counter() - t0


def timed_setup(ctx: Ctx, wl) -> float:
    """A set-up, followed by three yardstick runs."""
    secs = setup(ctx, wl)
    ctx.yard.extend(yardstick(ctx.con) for _ in range(3))
    return secs


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(warm: dict[str, list[float]]) -> tuple[float, float | None]:
    """The highest percentile of the pooled warm latencies with at least
    10 samples beyond it (the 11th-largest sample), and which percentile
    that is.  Below 20 samples that percentile would not lie above the
    median; the slowest op's median latency is reported instead (None)."""
    s = sorted(x for v in warm.values() for x in v)
    if len(s) < 20:
        return max(median(v) for v in warm.values()), None
    return s[-11], 100.0 * (len(s) - 10) / len(s)


class Runner:
    def __init__(self, ctx: Ctx, wl, seed: int, n_rounds: int, trace: bool):
        self.ctx, self.wl, self.trace = ctx, wl, trace
        self.rng = random.Random(seed)
        self.n_rounds = n_rounds
        self.attempted = 0
        self.errors: dict[str, list[str]] = {}
        self.cold: dict[str, float] = {}
        self.first: dict[str, object] = {}
        self.duck_first: dict[str, tuple | None] = {}
        self.warm: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
        self.duck_warm: dict[str, list[float]] = {}
        self.row_drift: dict[str, set] = {}

    def execute(self, task, traced: bool) -> None:
        ctx = self.ctx
        ctx.tracer.enabled = traced
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("task", task=task.name):
                out = task.run(ctx, traced)
        except Exception as e:  # noqa: BLE001 — a failure is counted, never fatal
            self.errors.setdefault(task.name, []).append(f"{type(e).__name__}: {str(e)[:300]}")
            return
        finally:
            ctx.tracer.enabled = False
        lat = time.perf_counter() - t0
        sql = task.oracle_sql(ctx)
        cold = task.name not in self.first
        if cold:
            self.cold[task.name], self.first[task.name] = lat, out
        else:
            self.warm[traced].setdefault(task.name, []).append(lat)
            if out.n_rows != self.first[task.name].n_rows:
                self.row_drift.setdefault(task.name, set()).add(out.n_rows)
        ctx.yard.append(yardstick(ctx.con))
        if not sql:
            return
        for _ in range(1 if cold else DUCK_REPS):
            d0 = time.perf_counter()
            try:
                cur = ctx.con.execute(sql)
                duck = ([d[0] for d in cur.description], cur.fetchall())
            except Exception as e:  # noqa: BLE001 — counted like a Spark failure
                self.errors.setdefault(task.name, []).append(f"DuckDB twin: {str(e)[:300]}")
                return
            dlat = time.perf_counter() - d0
            if cold:
                self.duck_first[task.name] = duck
            else:
                self.duck_warm.setdefault(task.name, []).append(dlat)

    def rounds(self) -> None:
        tasks = self.wl.tasks
        for r in range(self.n_rounds + 1):
            self.ctx.round = r
            # Round 0 is the cold pass.  Traced runs alternate traced
            # and untraced warm rounds, starting traced.
            traced = self.trace and (r == 0 or r % 2 == 1)
            for task in self.rng.sample(tasks, len(tasks)):
                self.execute(task, traced)

    def checks(self, tasks) -> dict[str, list[str]]:
        verdicts = {}
        for task in tasks:
            problems = list(self.errors.get(task.name, []))
            if task.name in self.first:
                try:
                    problems += task.check(self.ctx, self.first[task.name], self.duck_first.get(task.name))
                except Exception as e:  # noqa: BLE001
                    problems.append(f"check raised {type(e).__name__}: {str(e)[:300]}")
            if task.name in self.row_drift:
                problems.append(f"warm row counts {sorted(self.row_drift[task.name])} "
                                f"!= cold {self.first[task.name].n_rows}")
            verdicts[task.name] = problems
        return verdicts


def end_to_end(run: Runner, setups: list[float], steal: float,
               traced: bool = False) -> tuple[dict, dict]:
    """The user-visible metrics, from the untraced (or the traced) warm
    rounds; times are corrected for machine speed (see YARDSTICK_SQL)."""
    names = {t.name for t in run.wl.tasks}
    warm = {t: v for t, v in run.warm[traced].items() if t in names}
    med = {t: median(v) for t, v in warm.items()}
    pooled = [x for v in warm.values() for x in v]
    twins = [t for t in med if run.duck_warm.get(t)]
    tail_s, pct = tail(warm)
    raw = {
        "setup_s": median(setups),
        "cold_pass_s": sum(run.cold.values()),
        "warm_total_s": sum(med.values()),
        "latency_p50_s": median(pooled),
        "latency_tail_s": tail_s,
    }
    yard = median(run.ctx.yard)
    scale = YARDSTICK_REF_S / yard * (1.0 - steal)
    metrics = {k: (v * scale, "s") for k, v in raw.items()}
    metrics["ratio_vs_duckdb"] = (
        sum(med[t] for t in twins) / sum(median(run.duck_warm[t]) for t in twins), "ratio")
    rows = sum(run.first[t].n_rows for t in med)
    metrics["rows_per_s"] = (rows / metrics["warm_total_s"][0], "rows/s")
    notes = {f"raw_{k}": round(v, 4) for k, v in raw.items()}
    notes.update(yardstick_s=round(yard, 4), warm_samples=len(pooled),
                 tail_percentile=pct and round(pct, 1), duckdb_twin_ops=len(twins))
    return metrics, notes


# Per-layer metrics of the traced run: name -> unit.  Operator values are
# per-op medians over the traced warm executions, summed over the ops.
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.all_operators_s": "s",
    "tables.load_table_s": "s",
    "input.generate_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.plan_s": "s",
    "operators.plan.analysis_ms": "ms",
    "operators.plan.optimization_ms": "ms",
    "operators.plan.planning_ms": "ms",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.core_util": "ratio",
    "operators.task_busy_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.failed_tasks": "count",
    "operators.broadcast_bytes": "bytes",
    "operators.rows_read_per_row_out": "ratio",
    "operators.result_rows": "count",
    "pipeline.run_s": "s",
    "pipeline.rows_written": "count",
    "pipeline.bytes_written": "bytes",
    "pipeline.files_written": "count",
    "pipeline.bytes_written_per_input_byte": "ratio",
    "scale.write_bucketed_s": "s",
    "scale.bucketed_join_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def per_layer(run: Runner, ctx: Ctx, cores: int, gen_s: float, peak_mb: float) -> dict:
    def warm_medians(task):
        rows = [s for r, s in ctx.samples.get(task, []) if r > 0]
        return {k: median([s[k] for s in rows]) for k in rows[0]} if rows else {}

    ops = [warm_medians(t.name) for t in run.wl.tasks if isinstance(t, workloads.RegistryOp)]
    tot = {k: sum(m.get(k, 0.0) for m in ops) for k in ops[0]} if ops else {}
    v = {f"operators.{k}": x for k, x in tot.items()}
    v["operators.core_util"] = tot["exec_task_busy_s"] / max(tot["exec_s"] * cores, 1e-9)
    v["operators.rows_read_per_row_out"] = tot["rows_read"] / max(tot["result_rows"], 1)
    pipe = warm_medians("pipeline_run")
    v.update({f"pipeline.{k}": x for k, x in pipe.items()})
    v["pipeline.bytes_written_per_input_byte"] = pipe["bytes_written"] / pipe["input_bytes"]
    v.update({f"scale.{k}": x for k, x in warm_medians("bucketed_join").items()})
    for s in reversed(ctx.tracer.spans):  # the first (fresh-JVM) set-up
        if s["name"] in ("session.get_spark", "registry.all_operators", "tables.load_table"):
            v[s["name"] + "_s"] = s["end"] - s["start"]
    v["input.generate_s"] = gen_s
    v["process.peak_rss_mb"] = peak_mb
    traced, plain = run.warm[True], run.warm[False]
    both = [t for t in traced if t in plain]
    v["trace.overhead_s"] = sum(median(traced[t]) for t in both) - sum(median(plain[t]) for t in both)
    return {k: (v[k], unit) for k, unit in PER_LAYER.items()}


def stop_spark(ctx: Ctx) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        try:
            ctx.spark.stop()
        except Exception:  # noqa: BLE001
            pass
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Layered benchmark of the package's operators.")
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops its JVM and removes its scratch dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        importlib.import_module(f"{PACKAGE}.registry")
        importlib.import_module("tests.oracle_diff")
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    purge_package()

    wl = workloads.build(args.workload)
    run_id = f"{wl.name}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    hermetic_env(work)
    tracer = Tracer(run_id, enabled=False)
    ctx = Ctx(os.path.join(work, "data"), work, tracer)
    try:
        gen = subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(args.seed),
             "--out", ctx.data_dir,
             "--etl-rows", str(workloads.PROBE_ETL_ROWS if args.trace else 0)],
            capture_output=True, text=True, timeout=170, check=True,
        )
        gen_info = json.loads(gen.stdout.strip().splitlines()[-1])

        from tests.oracle_diff import duck_connect

        ctx.con = duck_connect(ctx.data_dir)
        st0 = probes.steal_ticks()
        tracer.enabled = bool(args.trace)
        setups = [timed_setup(ctx, wl)]
        tracer.enabled = False
        spark = ctx.spark
        spark.sparkContext.setLogLevel("ERROR")
        cores = spark.sparkContext.defaultParallelism
        jvm_pid = spark.sparkContext._gateway.proc.pid

        import duckdb
        import pyspark

        used = list(wl.tables) + (["etl_input"] if args.trace else [])
        log(f"# workload={wl.name} seed={args.seed} trace={args.trace} cpus={os.environ['SPARK_GRAFT_CPUS']} "
            f"defaultParallelism={cores} "
            f"shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')} "
            f"aqe={spark.conf.get('spark.sql.adaptive.enabled')} "
            f"spark={pyspark.__version__} duckdb={duckdb.__version__}")
        log(f"# input_bytes={sum(gen_info['bytes'][t] for t in used)} "
            f"generate_s={gen_info['seconds']:.3f} tables={','.join(used)}")

        n_rounds = max(2 if args.trace else 1, int(args.seconds / wl.round_s + 0.5))
        run = Runner(ctx, wl, args.seed, n_rounds, bool(args.trace))
        t0 = time.perf_counter()
        run.rounds()
        checked = list(wl.tasks)
        if args.trace:
            probe = workloads.write_probe()
            for r in (0, 1):
                ctx.round = r
                for task in probe:
                    run.execute(task, traced=True)
            checked += probe
        loop_s = time.perf_counter() - t0
        verdicts = run.checks(checked)
        peak_kb = probes.vm_hwm_kb(jvm_pid) + probes.vm_hwm_kb()

        if not args.trace:
            for _ in range(2):
                ctx.spark.stop()
                purge_package()
                setups.append(timed_setup(ctx, wl))
        st1 = probes.steal_ticks()
    finally:
        stop_spark(ctx)
        if ctx.con is not None:
            ctx.con.close()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    failed = sum(len(v) for v in run.errors.values()) + sum(
        1 for t, p in verdicts.items() if p and t not in run.errors)
    steal = (st1[0] - st0[0]) / max(1, st1[1] - st0[1])
    metrics, notes = end_to_end(run, setups, steal)
    notes.update(rounds=n_rounds, loop_s=round(loop_s, 3),
                 setup_samples_s=[round(x, 4) for x in setups],
                 peak_rss_mb=round(peak_kb / 1024.0, 1),
                 steal_share=round(steal, 4),
                 ops_failed_ratio=sum(1 for p in verdicts.values() if p) / len(verdicts))
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{wl.name}-seed{args.seed}.jsonl"))
        for k, (x, u) in end_to_end(run, setups, steal, traced=True)[0].items():
            log(f"traced rounds: {k} = {x:.6g} {u}   (untraced rounds: {metrics[k][0]:.6g})")
        metrics = per_layer(run, ctx, cores, gen_info["seconds"], peak_kb / 1024.0)
    for k, (x, u) in metrics.items():
        log(f"{k} = {x:.6g} {u}")
    for k, x in notes.items():
        log(f"# {k} = {x}")
    for t in run.cold:
        warm, duck = run.warm[False].get(t), run.duck_warm.get(t)
        log(f"# op {t}: cold_s={run.cold[t]:.4f} warm_median_s={median(warm or []):.4f} "
            f"duckdb_median_s={median(duck or []):.4f} rows={run.first[t].n_rows}")
    for t, p in verdicts.items():
        log(f"check {t}: {'ok' if not p else 'FAIL ' + '; '.join(p)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
