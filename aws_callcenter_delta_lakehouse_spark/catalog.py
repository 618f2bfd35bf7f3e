"""Table registry over a directory of parquet files.

Replaces the reference's Glue Data Catalog + Athena registration
(``/root/reference/README.md:51-53,144-148``): tables live as files in
object storage and are addressed by name. Here a scale-factor directory
(``/root/testdata/sf0.01``) holds one parquet per table; ``register_all``
exposes them as temp views so ``spark.sql`` works exactly like the
reference's Athena surface (``/root/reference/sql/athena_queries.sql``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TPCH_TABLES = (
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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Parquet reader confs that change what schema inference returns for the
# same footer (a TIMESTAMP(NANOS) column is a long or an error, BINARY a
# string or binary, INT96 a timestamp or binary, a naive timestamp NTZ
# or LTZ): part of the memo key, so one file read under two settings
# keeps two correct entries.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# (realpath, inference conf values) -> (file signature, StructType).
# Process-wide: sessions share the JVM, and the key holds every session
# value inference depends on. Unlocked: each entry pairs a schema with a
# signature taken BEFORE its inference, so a racing writer or a file
# rewritten mid-inference can only cost a re-inference, never a stale hit.
_SCHEMAS: dict[tuple, tuple] = {}


def _signature(path: str) -> tuple:
    """Identity of the bytes behind ``path``: (inode, size, mtime ns) of
    the file, or of every data file under a directory (the files a
    Parquet scan lists: ``_``/``.``-led names are skipped, as Spark
    skips them). A rewrite in place — even one that keeps the size —
    changes the inode or the mtime."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((st.st_ino, st.st_size, st.st_mtime_ns),)
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                full = os.path.join(root, f)
                st = os.stat(full)
                out.append((full, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(out)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers under the session's
    reader confs, inferring (one Spark job) only the first time a given
    file state is seen in this process. A memo of schemas, never of
    results: the caller still scans the files."""
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    key = (os.path.realpath(path), confs)
    sig = _signature(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[key] = (sig, schema)
    return schema


def normalize_events_ts(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Serve ``events.ts`` as one canonical ``TIMESTAMP`` column, batch
    or stream. It arrives in one of two physical forms depending on the
    generator: parquet TIMESTAMP(NANOS) (read as long nanos under
    ``spark.sql.legacy.parquet.nanosAsLong``; truncated to microseconds,
    same floor semantics as DuckDB's ns->us cast) or naive
    TIMESTAMP(MICROS) (``isAdjustedToUTC=false``, which Spark 4 reads as
    TIMESTAMP_NTZ; cast to TIMESTAMP with the session timezone pinned to
    UTC so wall-clock == instant, exactly DuckDB's naive-timestamp
    arithmetic)."""
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # NTZ wall-clock == UTC instant (matches DuckDB epoch_us / date
        # arithmetic on naive timestamps) only with the session timezone
        # at UTC — pin it, don't trust the machine default.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """File schema of one table, as :func:`parquet_schema` serves it
    under the reader confs every table read uses."""
    # Runtime-settable; required for TIMESTAMP(NANOS) footers. Set here (not
    # only in the session factory) because the driver may hand us a vanilla
    # SparkSession.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return parquet_schema(spark, table_path(sf_dir, name))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan; Catalyst handles column pruning + predicate pushdown.

    The scan is built with the table's schema given
    (``spark.read.schema(s).parquet``), so it runs no Spark job. ``s``
    comes from a process-wide memo (:func:`parquet_schema`) keyed on the
    realpath plus the session values of the Parquet reader confs that
    change inference; its entry holds the file signature (inode, size,
    mtime ns — per data file for a directory) it was inferred for, and a
    changed signature (regenerated testdata, a file rewritten in place)
    is re-inferred and replaces the entry. It memoizes schemas only,
    never results: every call still lists and scans the files.

    ``events.ts`` is normalized by :func:`normalize_events_ts`, so every
    downstream query sees one canonical ``TIMESTAMP`` column.
    """
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(spark, df)
    return df


def load_table_parallel(
    spark: SparkSession, sf_dir: str, name: str, min_partitions: int | None = None
) -> DataFrame:
    """``load_table`` for CPU-DENSE consumers (gram hashing, minhash,
    vector math): when the scan yields fewer partitions than cores —
    locally a small table is one parquet file = ONE task, serializing a
    32-core box — round-robin repartition up to ``min_partitions``.

    At 100 TB the scan already has thousands of splits, the guard is
    false, and this is a no-op — the repartition only ever fires on
    degenerate small scans where the shuffled bytes are trivial. Keep
    plain ``load_table`` for scan-speed projections and queries whose
    first shuffle comes immediately (agg/join) anyway."""
    df = load_table(spark, sf_dir, name)
    minimum = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < minimum:
        return df.repartition(minimum)
    return df


def register_persistent(
    spark: SparkSession,
    sf_dir: str,
    tables=TPCH_TABLES,
    database: str = "lakehouse",
) -> list[str]:
    """Metastore-backed registration — the Glue Data Catalog analogue
    (the reference registers Silver/Gold tables for Athena,
    ``/root/reference/README.md:51-53,144-148``). ``saveAsTable`` writes
    managed parquet into the warehouse and records schema + stats in the
    catalog, so ``spark.table("db.name")`` works across sessions (and
    other engines via the metastore), unlike temp views.

    Always overwrites: a table left behind by a run at a DIFFERENT
    scale factor (one metastore per working dir, many sf dirs) would
    otherwise silently serve stale data. Returns the fully-qualified
    names registered.
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    warehouse = warehouse.removeprefix("file:")
    out: list[str] = []
    for name in tables:
        if not os.path.exists(table_path(sf_dir, name)):
            continue
        fq = f"{database}.{name}"
        # A previous JVM's warehouse dir persists on disk while this
        # session's in-memory metastore has no entry for it, so
        # mode("overwrite") never cleans it and saveAsTable throws
        # LOCATION_ALREADY_EXISTS. Drop both the entry and the orphan dir.
        spark.sql(f"DROP TABLE IF EXISTS {fq}")
        stale = os.path.join(warehouse, f"{database}.db", name)
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
        load_table(spark, sf_dir, name).write.mode("overwrite").saveAsTable(fq)
        out.append(fq)
    return out


def register_all(spark: SparkSession, sf_dir: str, tables=TPCH_TABLES) -> dict[str, DataFrame]:
    """Register every table in ``sf_dir`` as a temp view (SQL surface).

    Routes through ``load_table`` so views get the exact same conf
    handling and normalization as the DataFrame path — in particular the
    events TIMESTAMP(NANOS) -> microsecond-timestamp conversion (a raw
    ``spark.read.parquet`` view would throw on a vanilla session, or
    silently expose ``ts`` as long nanos)."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        if os.path.exists(table_path(sf_dir, name)):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
