"""Table catalog over the driver's parquet testdata.

Reference parity: Flink's ``TableEnvironment.registerTable`` /
``registerTableSource`` (flink-table/.../table/api/TableEnvironment.scala)
binds named tables to sources; scans are projectable/filterable
(flink-table/.../table/sources/CsvTableSource.scala:50).  In Spark the
parquet reader gives predicate pushdown + column pruning + partition
pruning for free, so this module is a thin registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})

# path -> number of parquet row groups (footer metadata, read once)
_SCAN_UNITS: dict[str, int | None] = {}

# deterministic spread keys: hash-repartitioning on a high-cardinality
# id column avoids the local sort a keyless round-robin repartition pays
# (spark.sql.execution.sortBeforeRepartition — needed there so task
# retries reproduce the row->partition map; a hash of a stored key is
# retry-deterministic for free, guide §2.5) and cannot duplicate or
# lose rows on fetch-failure recomputes (SPARK-38388)
_SPREAD_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _scan_units(path: str) -> int | None:
    """Maximum useful scan-task count for a parquet input: parquet
    splits at ROW-GROUP boundaries, so a file's scan parallelism is
    capped by its row-group count no matter how small
    ``spark.sql.files.maxPartitionBytes`` goes (byte-range splits that
    contain no row-group midpoint produce empty tasks)."""
    if path not in _SCAN_UNITS:
        units: int | None
        try:
            import os

            import pyarrow.parquet as pq

            if os.path.isfile(path):
                units = pq.ParquetFile(path).metadata.num_row_groups
            elif os.path.isdir(path):
                units = 0
                for f in os.listdir(path):
                    if f.endswith(".parquet"):
                        units += pq.ParquetFile(
                            os.path.join(path, f)
                        ).metadata.num_row_groups
                units = units or None
            else:
                units = None
        except Exception:
            units = None  # non-local path / exotic layout: assume wide enough
        _SCAN_UNITS[path] = units
    return _SCAN_UNITS[path]


def _spread(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scale-adaptive scan-width fix (optimization guide §2/§6): when
    the file layout caps the scan below the session's parallelism —
    single-row-group parquet at small scale factors — redistribute once
    so every downstream map stage (tokenize/hash/join probe/partial
    aggregate) uses the whole machine instead of one core.  At real
    scale the inputs carry hundreds of row groups per task budget, the
    gate sees ``units >= parallelism`` and this is a no-op — the
    repartition is never a tuned constant, it simply restores the
    parallelism the layout would provide anyway.  Catalyst pushes
    filters and column pruning THROUGH Repartition, so PushedFilters /
    ReadSchema at the scan are unchanged; only survivors shuffle."""
    key = _SPREAD_KEYS.get(path.rsplit("/", 1)[-1].split(".")[0])
    if key is None:
        # keyed-or-raise, checked before the layout gate so the contract
        # does not depend on the core count: a keyless repartition(n)
        # here would be exactly the round-robin local-sort / SPARK-38388
        # retry-duplication hazard this module's docstring warns about.
        # Every spread call site must name its table in _SPREAD_KEYS.
        raise KeyError(
            f"spread=True on table {path!r} with no entry in "
            "_SPREAD_KEYS — add a deterministic distribution key "
            "instead of falling back to round-robin repartition"
        )
    target = spark.sparkContext.defaultParallelism
    units = _scan_units(path)
    if units is not None and units < target:
        from pyspark.sql import functions as F

        return df.repartition(target, F.col(key))
    return df


def table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read a testdata table.

    ``spread=True`` applies :func:`_spread` — opt-in at call sites whose
    downstream is MAP-DOMINANT per-row compute (shingle/gram hashing,
    substring explodes, feature hashing), where the measured win at
    sf0.1 is 25-55%.  It stays OFF by default because any query that
    shuffles soon after the scan (aggregate, window, join build) pays
    the extra exchange without using the width — measured 15-60% LOSSES
    on TPC-H/wordcount/lm-perplexity with a blanket gate.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        df = _read_events(spark, path)
    else:
        df = spark.read.parquet(path)
    if spread and name not in BROADCAST_TABLES:
        df = _spread(spark, df, path)
    return df


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """Load events with a dtype-aware ``ts`` normalisation.

    The driver's testdata has shipped ``ts`` both as parquet
    TIMESTAMP(MICROS) (reads natively as a timestamp) and as
    TIMESTAMP(NANOS) (Spark 4 refuses it unless
    ``spark.sql.legacy.parquet.nanosAsLong`` maps it to epoch-nanos
    long).  Branch on what the file actually contains instead of
    assuming either shape.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    try:
        df = spark.read.parquet(path)
    except Exception as exc:
        # Retry ONLY for the TIMESTAMP(NANOS) shape; any other failure
        # (missing file, corrupt footer) must surface as-is rather than
        # leak legacy-read semantics into the whole session.
        msg = str(exc)
        if not ("NANOS" in msg or "nanosAsLong" in msg):
            raise
        # The conf must stay set for the session: the returned DataFrame
        # is lazy, so the nanos mapping is consulted again at job run
        # time, not just at schema inference.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if isinstance(df.schema["ts"].dataType, LongType):
        # Epoch-nanos long (nanosAsLong path): truncate to microseconds
        # exactly (integer div — double math would lose precision above
        # 2^53).  Matches DuckDB's ns->us cast semantics.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
