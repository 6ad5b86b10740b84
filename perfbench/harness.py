"""Run hygiene and the pieces both workloads share: the run directory,
Spark start/stop, the repeated set-up, job-group bookkeeping, the host
probe and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import stats

WARM_SETUPS = 2
# The Spark driver JVM's heap is fixed (initial = maximum) and touched in
# full at start: left to the collector, the share of the heap the JVM had
# touched followed GC timing and moved peak memory by up to a quarter
# between identical runs.  Peak memory so counts the whole configured
# heap, and what varies is off-heap memory and the Python workers.
DRIVER_MEM = "3g"


class Run:
    """One benchmark invocation: its private work directory (inside the
    checkout, removed at the end), counters and the tracer."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, tracer):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.detail: dict = {"workload": workload, "seed": seed}
        self.unobserved: dict[str, str] = {}

    def path(self, *parts: str) -> str:
        """A file path in the work directory (its directory is made)."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory in the work directory, made if missing."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def record(self, ok: bool, what: str) -> None:
        """Count one operation; a failed, timed-out or wrong one raises
        ``failed`` (and so failed/attempted)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass  # another run's directory is still there


def prepare_env(run: Run) -> None:
    """Environment for the program: the repo on the Python workers' path,
    local[nproc], scratch and Spark local dirs inside the run directory."""
    nproc = os.cpu_count() or 1
    tmp = run.dir("tmp")
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (run.root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_STREAM_CKPT": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    if run.root not in sys.path:
        sys.path.insert(0, run.root)


def start_spark(run: Run):
    from flink_1_8_sourcecode_spark import session

    tmp = os.environ["TMPDIR"]
    extra = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    spark = session.get_spark(
        app_name=f"perfbench-{run.workload}",
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    from py4j.protocol import Py4JError

    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:
        pass  # the JVM already went away; the wait below still reaps it
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def repeated_setup(run: Run, build) -> tuple:
    """One cold set-up, then WARM_SETUPS warm ones; keeps the last session.
    ``build`` takes a fresh SparkSession, registers tables and runs the
    warm-up pass, returning the workload's state.  The cold set-up also
    starts the JVM and compiles every query shape for the first time; a
    warm one starts a new SparkContext in the running JVM.  ``setup_s``
    is the median of the warm ones, which are alike; the cold one is
    reported on its own (``setup.cold_s``).
    Returns (spark, state, median warm seconds, cold seconds, warm seconds)."""
    times, spark, state = [], None, None
    for i in range(1 + WARM_SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with run.tracer.span("setup.cold" if i == 0 else "setup"):
            spark = start_spark(run)
            state = build(spark)
        times.append(time.perf_counter() - t0)
    return spark, state, statistics.median(times[1:]), times[0], times[1:]


class JobGroups:
    """Per-operation Spark job groups, read back through the public
    StatusTracker once the run is over (traced runs only)."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.groups: list[str] = []

    def set(self, op_id: str) -> None:
        if self.enabled:
            self.sc.setJobGroup(op_id, op_id)
            self.groups.append(op_id)

    def summary(self) -> dict[str, float]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for g in self.groups:
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    s = st.getStageInfo(sid)
                    if s is None:
                        continue
                    stages += 1
                    tasks += s.numTasks
                    failed += s.numFailedTasks
        n = max(1, len(self.groups))
        return {
            "exec.jobs": jobs / n,
            "exec.stages": stages / n,
            "exec.tasks": tasks / n,
            "exec.failed_tasks": float(failed),
        }


def host_probe(spark) -> float:
    """A fixed, data-independent Spark job; recorded, never used to
    rescale anything."""
    df = spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id * 3 + 1) AS s")
    df.collect()
    t0 = time.perf_counter()
    df.collect()
    return time.perf_counter() - t0


def count_plan_nodes(plan_text: str) -> tuple[int, int]:
    """(exchanges, broadcast exchanges) in an Engine.explain plan."""
    import re

    nodes = re.findall(r"^\(\d+\)\s+(\w+)", plan_text, re.M)
    if not nodes:
        nodes = re.findall(r"\b(\w*Exchange)\b", plan_text)
    exch = sum(1 for n in nodes if n.endswith("Exchange"))
    bcast = sum(1 for n in nodes if n == "BroadcastExchange")
    return exch, bcast


def emit(run: Run, metrics: dict[str, tuple[float, str]]) -> None:
    """Print the detail line, then the result line (always last)."""
    run.detail["failures"] = run.failures[:20]
    if run.unobserved:
        run.detail["unobserved"] = run.unobserved
    print(json.dumps({"detail": run.detail}, default=float))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))


def tail_summary(values) -> dict:
    if not values:
        return {"n": 0}
    v, p, n = stats.tail(values)
    return {"p50": stats.percentile(values, 50), "tail": v, "tail_pct": p, "n": n}
