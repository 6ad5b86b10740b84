"""SparkSession bootstrap — the engine's ExecutionEnvironment analogue.

Reference parity: Flink's ``ExecutionEnvironment`` / ``StreamExecutionEnvironment``
(flink-java/src/main/java/org/apache/flink/api/java/ExecutionEnvironment.java:393,
flink-streaming-java/.../StreamExecutionEnvironment.java) configure parallelism,
time characteristic and restart strategy at job-definition time.  Our analogue is
a single tuned ``SparkSession``: Catalyst + AQE replace Flink's optimizer, and the
configuration below is what we would ship to a 1000-executor cluster — the
local[] master is only for tests.

Scale rationale (100 TB discipline).  Only confs that differ from Spark's
defaults are set; AQE (runtime shuffle-partition coalescing, skew-join
splitting and dynamic join-strategy demotion, which replace hand-tuned Flink
ship strategies, flink-runtime/.../operators/shipping/OutputEmitter.java) is
on by default and stays on.
- autoBroadcastJoinThreshold 64m: TPC-H-style dims (region/nation/customer/
  supplier/part) stay broadcast even at large SF; the fact tables never are.
- shuffle.partitions: a *starting* width; AQE coalesces down.  On a real
  cluster set this ~2-3x total cores; locally we default to 2x local cores.
- Arrow enabled: every pandas-UDF boundary is Arrow-batched (the slow path
  is still 10-100x faster than row-at-a-time Python).
- Session timezone UTC: deterministic event-time semantics (and parity with
  the DuckDB oracle, which is timezone-naive).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Checkpoint I/O without child processes.  Without libhadoop the default
# FileContext-based manager forks `chmod` for every create (explicit
# permission) and `readlink` for every rename (getFileLinkStatus on source
# and destination, .crc siblings included): ~190 forks per micro-batch
# across state deltas, offsets, commits and the source log.  The
# FileSystem-based manager renames with an atomic POSIX rename (atomic on
# HDFS too) and still writes and verifies Hadoop .crc files through
# ChecksumFileSystem; ~40 `chmod` per batch remain.  Object-store
# checkpoints need a manager of their own either way.  A runtime SQL conf:
# ``apply_runtime_conf`` also sets it on sessions built elsewhere.
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Generated-class cache size (a static conf: it sizes one JVM-wide LRU of
# Janino-compiled classes, keyed by the full generated source).  Spark's
# default of 100 is below the engine's working set: the batch request mix
# (TPC-H Q1/3/5/10/18, TUMBLE, INSERT, MATCH_RECOGNIZE, top-k) needs ~90
# classes per cycle, so at 100 the cache thrashed and 75 of the ~90 were
# recompiled every cycle, then ran cold in the bytecode interpreter.  Filter
# literals no longer make new classes (``LITERAL_PARAMS`` below), but the
# bound stays: projection and aggregate literals and the watermark
# predicates of stateful streaming operators are still inlined into
# generated source, so an unbounded cache would grow without limit in a
# long-running server.  At 1000 the shared classes, touched every cycle,
# stay at the hot end of the LRU while one-off variants age out.
CODEGEN_CACHE_ENTRIES = 1000

# Session extension (``jvm/LiteralParams.java``) that passes the non-null
# primitive literals of every physical Filter to generated code through its
# references array instead of its source: one generated class per query
# shape, whatever its parameters.  Spark inlines int, date and timestamp
# literals, so without it each new parameter compiled a new class (~12 per
# batch request cycle) that then ran cold in the bytecode interpreter.  It
# rewrites physical plans only, so constant folding, filter pushdown,
# partition pruning and AQE still see plain literals.  A static conf, like
# the cache bound: only sessions that ``get_spark`` builds, in a JVM that
# ``get_spark`` started, load it.  The jar goes on the driver's class path
# (``spark.driver.extraClassPath``, read when the JVM starts), not in
# ``spark.jars``: only the driver plans, and the rewritten plan holds Spark's
# own expressions only, while ``spark.jars`` has every new SparkContext's
# executors fetch and load the jar (+0.25-0.6 s per warm batch_mix set-up
# on 4 local cores).
LITERAL_PARAMS = "flink_1_8_sourcecode_spark.jvm.LiteralParams"
_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")


def literal_params_jar() -> str:
    """The extension's jar, ``jvm/build/literal-params-<source sha>.jar``.
    Compiled with ``javac`` against Spark's own jars when missing (before
    the JVM starts, so only a cold start pays for it); written under a
    temporary name and renamed, so concurrent builders never see half a
    jar."""
    src = os.path.join(_JVM_DIR, "LiteralParams.java")
    with open(src, "rb") as f:
        sha = hashlib.sha256(f.read()).hexdigest()[:16]
    build = os.path.join(_JVM_DIR, "build")
    jar = os.path.join(build, f"literal-params-{sha}.jar")
    if os.path.exists(jar):
        return jar
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError(
            f"javac (a JDK) is required to build the engine's session extension {src}"
        )
    os.makedirs(build, exist_ok=True)
    work = tempfile.mkdtemp(dir=build)
    try:
        classes = os.path.join(work, "classes")
        cmd = [javac, "-nowarn", "-cp", os.path.join(_find_spark_home(), "jars", "*"),
               "-d", classes, src]
        done = subprocess.run(cmd, capture_output=True, text=True)
        if done.returncode != 0:
            raise RuntimeError(f"javac failed on {src}:\n{done.stderr}")
        tmp_jar = os.path.join(work, "literal-params.jar")
        with zipfile.ZipFile(tmp_jar, "w") as z:
            for d, _, files in os.walk(classes):
                for name in files:
                    path = os.path.join(d, name)
                    z.write(path, os.path.relpath(path, classes))
        os.replace(tmp_jar, jar)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return jar


def get_spark(
    app_name: str = "flink18-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    on a cluster, pass None and rely on spark-submit.  The session loads
    the ``LITERAL_PARAMS`` extension (its jar is built on first use, see
    :func:`literal_params_jar`), so filter literals do not make new
    generated classes; a ``spark.driver.extraClassPath`` or
    ``spark.sql.extensions`` given in ``extra_conf`` is kept, with the
    extension appended.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(min(2 * n, 64))))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(CHECKPOINT_MANAGER_CONF, CHECKPOINT_MANAGER)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    conf = dict(extra_conf or {})
    for key, value, sep in (("spark.driver.extraClassPath", literal_params_jar(), os.pathsep),
                            ("spark.sql.extensions", LITERAL_PARAMS, ",")):
        conf[key] = sep.join(v for v in (conf.get(key), value) if v)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def apply_runtime_conf(spark: SparkSession) -> None:
    """Give a session built outside :func:`get_spark` the engine's runtime
    SQL confs.  Static confs (the codegen cache bound and the
    ``LITERAL_PARAMS`` extension among them) are fixed when the session's
    SparkContext starts and cannot reach a session that already exists:
    there, every new filter literal still compiles a new class."""
    spark.conf.set(CHECKPOINT_MANAGER_CONF, CHECKPOINT_MANAGER)
