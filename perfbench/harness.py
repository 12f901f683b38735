"""The closed loop every workload runs in, and the metrics it reports.

One client issues ops back to back.  After set-up, ops run in whole
cycles (a workload's fixed mix, e.g. one round of every query template)
until ``seconds`` have passed and the current cycle is complete, so every
run measures the same mix.  Each op's output is checked after the window
closes; an op that raises or fails its check is counted as failed and as
missing any latency bound, and the loop goes on.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

from . import proc
from .trace import Tracer

SLOTS = 2  # Spark local[k]: fixed, and never more than the host's cores


@dataclass
class OpResult:
    """What an op hands back: input rows it consumed and a check to run
    once the window has closed (raises or returns False on a wrong
    output)."""
    rows_in: int
    check: object


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    t_process: float
    root: str
    tracer: Tracer = None
    workdir: str = ""
    spark: object = None
    lat: list = field(default_factory=list)     # [seconds, ok] per op
    rows_in: int = 0
    errors: list = field(default_factory=list)

    def __post_init__(self):
        self.tracer = Tracer(self.trace)
        base = os.path.join(self.root, ".perfbench_run")
        os.makedirs(base, exist_ok=True)
        self.workdir = tempfile.mkdtemp(prefix=f"{self.workload}-", dir=base)
        # pyspark, the JVM and the Python workers all write temp files:
        # keep them inside this run's directory
        tmp = os.path.join(self.workdir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def fail(self, what: str) -> None:
        self.errors.append(what)
        print(f"perfbench: {what}", file=sys.stderr)


def traced_tap(tracer: Tracer):
    """A ParquetTap class whose Spark-free reads are timed and counted."""
    from cascalog_spark.sources import ParquetTap

    class TracedParquetTap(ParquetTap):
        def load_rows(self):
            with tracer.span("taps.load_rows"):
                names, rows = super().load_rows()
            tracer.count("exec_local.rows_in", len(rows))
            return names, rows

    return TracedParquetTap


def start_spark(run: Run):
    from pyspark.sql import SparkSession

    tmp = run.path("tmp")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the launcher JVM that spark-submit runs first writes temp files too,
    # and SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    with run.tracer.span("spark.session_start"):
        spark = (SparkSession.builder.master(f"local[{SLOTS}]")
                 .appName("perfbench")
                 .config("spark.sql.shuffle.partitions", str(SLOTS))
                 .config("spark.default.parallelism", str(SLOTS))
                 .config("spark.driver.memory", "1g")
                 .config("spark.ui.enabled", "false")
                 .config("spark.ui.showConsoleProgress", "false")
                 .config("spark.sql.session.timeZone", "UTC")
                 .config("spark.sql.execution.arrow.pyspark.enabled", "true")
                 .config("spark.sql.warehouse.dir", run.path("warehouse"))
                 .config("spark.driver.extraJavaOptions",
                         f"{jvm_opts} -Dderby.system.home={tmp}")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    return spark


def spark_query(run: Run, build) -> list:
    """Build a query, compile it and collect it, each in its layer's span,
    then release what the compile persisted."""
    with run.tracer.span("planner.build"):
        query = build()
    with run.tracer.span("compiler.to_df"):
        df = query.to_df(run.spark)
    with run.tracer.span("spark.action"):
        rows = df.collect()
    query.unpersist()
    return rows


def stop_spark(run: Run) -> None:
    """Stop the session, then the JVM, and wait for the whole process
    tree (JVM and Python workers) to exit."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    run.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        jproc = getattr(gw, "proc", None)
        gw.shutdown()
        if jproc is not None:
            jproc.stdin.close()
            try:
                jproc.wait(timeout=30)
            except Exception:
                jproc.kill()
                jproc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    run.spark = None
    deadline = time.monotonic() + 30
    while len(proc.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def job_stats(run: Run, group: str) -> None:
    """Spark jobs and tasks an op ran (traced runs only)."""
    t0 = time.perf_counter()
    st = run.spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    run.tracer.count("spark.jobs", len(jobs))
    run.tracer.count("spark.tasks", tasks)
    run.tracer.overhead_s += time.perf_counter() - t0


def measure(run: Run, workload) -> dict:
    """Set up, run the window, check outputs; returns the raw figures,
    including one ``(seconds, cpu seconds, ops, input rows)`` per cycle."""
    tr = run.tracer
    workload.setup()
    t_setup = time.monotonic() - run.t_process
    host0 = proc.cpu_times()
    checks, cycles = [], []
    n = 0
    t0 = time.perf_counter()
    t_cycle, cpu_cycle, rows_cycle = t0, proc.tree_cpu_s(), 0
    stream = workload.cycles()
    count_jobs = run.trace and run.spark is not None
    while time.perf_counter() - t0 < run.seconds:
        ops = next(stream)
        for op in ops:
            tr.op = n
            group = f"perfbench-op-{n}"
            if count_jobs:
                run.spark.sparkContext.setJobGroup(group, group)
            t = time.perf_counter()
            try:
                with tr.span("op"):
                    res = op()
                dt = time.perf_counter() - t
                checks.append((n, res.check))
                run.rows_in += res.rows_in
                run.lat.append([dt, True])
            except Exception:
                dt = time.perf_counter() - t
                run.fail(f"op {n} raised:\n{traceback.format_exc()}")
                run.lat.append([dt, False])
            if count_jobs:
                job_stats(run, group)
            n += 1
        now, cpu_now = time.perf_counter(), proc.tree_cpu_s()
        cycles.append((now - t_cycle, cpu_now - cpu_cycle, len(ops),
                       run.rows_in - rows_cycle))
        t_cycle, cpu_cycle, rows_cycle = now, cpu_now, run.rows_in
    window = time.perf_counter() - t0
    tr.op = -1
    rss = proc.tree_peak_rss_mb()
    steal = proc.steal_frac(host0, proc.cpu_times())
    for i, check in checks:
        try:
            ok = check() is not False
        except Exception:
            run.fail(f"op {i} check raised:\n{traceback.format_exc()}")
            ok = False
        if not ok:
            run.fail(f"op {i} output check failed")
            run.lat[i][1] = False
    return {"setup_s": t_setup, "window_s": window, "cycles": cycles,
            "rss_mb": rss, "steal": steal, "ops": n}


def end_to_end(run: Run, raw: dict) -> dict:
    """Latency is the median op; CPU and throughput are medians over the
    window's cycles, so one cycle disturbed by JIT compilation or a
    neighbour moves them less than a window total would."""
    ops = raw["ops"]
    lat = [dt if good else math.inf for dt, good in run.lat]
    cyc = raw["cycles"]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "rows_per_s": (statistics.median(r / t for t, _, _, r in cyc),
                       "1/s"),
        "cpu_s_per_op": (statistics.median(c / k for _, c, k, _ in cyc),
                         "s"),
        "peak_rss_mb": (raw["rss_mb"], "MB"),
        "ok_frac": (sum(good for _, good in run.lat) / ops, "frac"),
    }


def _per_op(tr: Tracer, name: str) -> float:
    """Median over window ops of the self time an op spent in ``name``
    (``exec_local.run`` excludes the ``taps.load_rows`` inside it)."""
    by_op: dict[int, float] = {}
    for s in tr.named(name):
        by_op[s.op] = by_op.get(s.op, 0.0) + s.self_time
    return statistics.median(by_op.values()) if by_op else 0.0


class CheckFailed(Exception):
    """An op's output differs from what the check expected."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


LAYER_SPANS = {  # per-layer metric -> span it summarises
    "planner.build_s": "planner.build",
    "compiler.to_df_s": "compiler.to_df",
    "spark.action_s": "spark.action",
    "text.quality_s": "text.quality",
    "text.lang_id_s": "text.lang_id",
    "text.tfidf_s": "text.tfidf",
    "dedup.exact_s": "dedup.exact",
    "dedup.minhash_s": "dedup.minhash",
    "dedup.simhash_s": "dedup.simhash",
    "similarity.topk_s": "similarity.topk",
    "merge.merge_s": "merge.merge",
    "taps.save_df_s": "taps.save_df",
    "taps.load_rows_s": "taps.load_rows",
    "exec_local.run_s": "exec_local.run",
}

#: per-layer metrics only some workloads produce; 0 where a layer is unused
WORKLOAD_LAYERS = {
    "dedup.candidate_precision": "frac",
    "dedup.injected_recall": "frac",
    "merge.bytes_written_per_user_byte": "ratio",
    "merge.table_bytes_per_row": "B",
    "merge.table_files": "count",
}


def per_layer(run: Run, raw: dict, workload) -> dict:
    tr = run.tracer
    ops = raw["ops"]
    out = {m: (_per_op(tr, s), "s") for m, s in LAYER_SPANS.items()}
    op_total = sum(s.dur for s in tr.named("op")) or 1.0
    out["compiler.to_df_share"] = (
        sum(s.dur for s in tr.named("compiler.to_df")) / op_total, "frac")
    out["spark.jobs_per_op"] = (tr.counts.get("spark.jobs", 0) / ops, "count")
    out["spark.tasks_per_op"] = (tr.counts.get("spark.tasks", 0) / ops,
                                 "count")
    start = tr.named("spark.session_start", window_only=False)
    out["spark.session_start_s"] = (start[0].dur if start else 0.0, "s")
    warm = tr.named("warmup", window_only=False)
    out["warmup_s"] = (warm[0].dur if warm else 0.0, "s")
    rows_out = tr.counts.get("exec_local.rows_out", 0)
    out["exec_local.rows_in_per_row_out"] = (
        tr.counts.get("exec_local.rows_in", 0) / rows_out if rows_out
        else 0.0, "ratio")
    out.update({m: (0.0, u) for m, u in WORKLOAD_LAYERS.items()})
    out.update(workload.layer_metrics())
    out["host.steal_frac"] = (raw["steal"], "frac")
    out["host.load1"] = (proc.load1(), "count")
    out["trace.overhead_frac"] = (tr.overhead_s / raw["window_s"], "frac")
    return out


def cleanup(run: Run) -> None:
    shutil.rmtree(run.workdir, ignore_errors=True)
    base = os.path.dirname(run.workdir)
    try:
        os.rmdir(base)  # only succeeds once no other run is using it
    except OSError:
        pass
