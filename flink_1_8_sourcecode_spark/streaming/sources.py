"""Streaming sources.

Reference parity: StreamExecutionEnvironment sources —
readFile(PROCESS_CONTINUOUSLY) (flink-streaming-java/.../StreamExecutionEnvironment.java:996),
socketTextStream (:1190), addSource/Kafka (FlinkKafkaConsumerBase.java:86),
fromElements/fromCollection (:702,:770).

Spark: the file source monitors a directory natively (the analogue of
PROCESS_CONTINUOUSLY); kafka/socket/rate are built-in formats.  For
deterministic tests we *replay* the events table as N chunk files read
one-per-micro-batch (maxFilesPerTrigger=1) — the standard Structured
Streaming test idiom replacing Flink's OneInputStreamOperatorTestHarness.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_1_8_sourcecode_spark.catalog import table

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


def temp_checkpoint_dir(prefix: str = "ckpt_") -> str:
    """Checkpoint location for BOUNDED replay queries feeding an
    in-memory sink (the test/bench fixtures).  Those checkpoints have no
    consumer after ``q.stop()`` — the query handle and the memory table
    die with the session — so the caller removes the directory after the
    drain.  The medium does not matter: with the session's fork-free
    checkpoint manager (``session.get_spark``) these replays run as fast
    on disk as on tmpfs.

    ``SPARK_GRAFT_STREAM_CKPT`` overrides the base directory (default:
    the system temp dir) — on a real cluster point it at durable storage
    (or leave the production sink paths, which all take caller-provided
    checkpoint locations, e.g. ``streaming/sinks.py``/``retract.py``,
    untouched by this helper).
    """
    return tempfile.mkdtemp(prefix=prefix, dir=os.environ.get("SPARK_GRAFT_STREAM_CKPT"))


def run_bounded_to_memory(
    out: DataFrame,
    name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> None:
    """Drain a bounded streaming DataFrame into the memory sink ``name``.

    ``shuffle_partitions`` pins the stateful-operator parallelism for
    the query (Flink's per-operator ``setParallelism`` analogue): the
    state-partition count is fixed at stream start and should track key
    cardinality x state volume, not the session's batch default.  The
    checkpoint goes through :func:`temp_checkpoint_dir` and is removed
    after the drain.
    """
    import shutil

    spark = out.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    ckpt = temp_checkpoint_dir(name)
    try:
        q = (
            out.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode(output_mode).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)


def write_event_chunks(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 8
) -> str:
    """Materialize the events table as n time-ordered parquet chunk files
    so a file-source stream replays them as micro-batches in event-time
    order (bounded out-of-orderness ~= one chunk)."""
    ev = table(spark, sf_dir, "events")
    # ntile assigns balanced, time-contiguous chunks in one pass — no
    # separate count() job, no division bookkeeping
    chunk = F.ntile(n_chunks).over(_ts_window()) - 1
    ev.withColumn("__chunk", chunk).write.mode("overwrite").partitionBy("__chunk").parquet(
        out_dir
    )
    return out_dir


def _ts_window():
    from pyspark.sql import Window

    return Window.orderBy("ts", "event_id")


def read_event_stream(
    spark: SparkSession, chunk_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """Monitored-directory file source over the replay chunks."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(chunk_dir)
    )


DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def write_document_chunks(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 4
) -> str:
    """Materialize the documents table as n id-ordered parquet chunk
    files so a file source replays corpus INGESTION as micro-batches —
    the fixture for the streaming curation-gate queries."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    chunk = F.ntile(n_chunks).over(Window.orderBy("doc_id")) - 1
    docs.withColumn("__chunk", chunk).write.mode("overwrite").partitionBy(
        "__chunk"
    ).parquet(out_dir)
    return out_dir


def read_document_stream(
    spark: SparkSession, chunk_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """Monitored-directory file source over the document replay chunks."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(chunk_dir)
    )


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """generateSequence analogue (StreamExecutionEnvironment.java:677)."""
    return spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()


def socket_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """socketTextStream analogue (StreamExecutionEnvironment.java:1190)."""
    return spark.readStream.format("socket").option("host", host).option("port", port).load()


def kafka_stream(spark: SparkSession, bootstrap: str, topic: str, **options) -> DataFrame:
    """FlinkKafkaConsumer analogue — offsets/exactly-once come from Spark's
    checkpointed kafka source (FlinkKafkaConsumerBase.java:86 parity)."""
    r = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
    )
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()
