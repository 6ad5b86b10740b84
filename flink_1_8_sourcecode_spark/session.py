"""SparkSession bootstrap — the engine's ExecutionEnvironment analogue.

Reference parity: Flink's ``ExecutionEnvironment`` / ``StreamExecutionEnvironment``
(flink-java/src/main/java/org/apache/flink/api/java/ExecutionEnvironment.java:393,
flink-streaming-java/.../StreamExecutionEnvironment.java) configure parallelism,
time characteristic and restart strategy at job-definition time.  Our analogue is
a single tuned ``SparkSession``: Catalyst + AQE replace Flink's optimizer, and the
configuration below is what we would ship to a 1000-executor cluster — the
local[] master is only for tests.

Scale rationale (100 TB discipline):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic join-strategy demotion replace hand-tuned Flink ship strategies
  (flink-runtime/.../operators/shipping/OutputEmitter.java).
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

import os

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
# classes per cycle and ~210 distinct ones after 8 cycles, so at 100 the
# cache thrashed and 75 of the ~90 were recompiled every cycle, then ran
# cold in the bytecode interpreter.  The bound stays: int/date/timestamp
# literals are inlined into generated source, so every new literal makes a
# new class and an unbounded cache would grow without limit in a
# long-running server.  At 1000 the shared classes, touched every cycle,
# stay at the hot end of the LRU while one-off literal variants age out.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "flink18-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    on a cluster, pass None and rely on spark-submit.
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
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
        .config(CHECKPOINT_MANAGER_CONF, CHECKPOINT_MANAGER)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def apply_runtime_conf(spark: SparkSession) -> None:
    """Give a session built outside :func:`get_spark` the engine's runtime
    SQL confs.  Static confs (the codegen cache bound among them) are fixed
    when the JVM's first session starts and cannot reach a session that
    already exists."""
    spark.conf.set(CHECKPOINT_MANAGER_CONF, CHECKPOINT_MANAGER)
