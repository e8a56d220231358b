"""Table catalog over the synthetic star schema.

Replaces the reference's ``Catalog`` (reference include/catalog/catalog.h:16-62):
name -> table registration plus per-column statistics. In Spark the
catalog is the session catalog. Like the reference, which learns each
table's schema as it loads it, registration reads every table's schema
from its parquet footer on the driver (``sources.parquet_source``), so
opening the catalog fires no Spark job. Statistics come from an
aggregate query
(the reference computes min/max/NDV at CSV load time,
src/storage/csv_loader.cpp:73-159 — we compute them on demand, and on a
cluster you'd persist them with ANALYZE TABLE for CBO).
"""

from __future__ import annotations

import functools
import os
import weakref
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

# The driver-provided synthetic tables (TESTDATA.md).
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


# Most recently registered sf_dir + its DataFrames, per live session; avoids
# re-listing the directory, re-reading 10 parquet footers on the driver and
# re-opening 10 DataFrames on every query when the same directory is
# queried repeatedly (the common case for the REPL, bench, and the driver).
# Keyed by a WEAK reference to the session: id() reuse after a stopped
# session is garbage-collected could otherwise hand a new session cached
# DataFrames bound to the dead one. The weak key alone cannot evict (the
# cached DataFrames strongly reference their session, pinning the key),
# so stopped sessions are purged explicitly on each load. Cache
# granularity is the directory — rewriting files under an
# already-registered sf_dir requires a new SparkSession (or a different
# path) to re-register.
_registered: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _purge_stopped_sessions() -> None:
    for s in list(_registered.keys()):
        try:
            stopped = s.sparkContext._jsc is None
        except Exception:
            stopped = True
        if stopped:
            del _registered[s]


@functools.cache
def _package_zip() -> str:
    """Zip of the ``bo_sql_spark`` sources, built once per process in
    the scratch root, which is removed at interpreter exit. Every
    session of the process ships the same file."""
    import zipfile

    import bo_sql_spark
    from bo_sql_spark.scratch import scratch_dir

    pkg_dir = os.path.dirname(os.path.abspath(bo_sql_spark.__file__))
    zpath = os.path.join(scratch_dir("pkg"), "bo_sql_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "bo_sql_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    return zpath


def _ship_package_to_workers(spark: SparkSession) -> None:
    """Make ``bo_sql_spark`` importable on Python WORKERS regardless of
    how the driver found it. mapInPandas/pandas_udf closures reference
    module-level functions (WAV/PNG codecs, MG summaries); cloudpickle
    serializes those BY REFERENCE, so the worker must `import
    bo_sql_spark...` itself — and workers inherit neither the driver's
    sys.path edits nor post-JVM-start os.environ changes (the JVM
    captured its env at launch). addPyFile is the mechanism that works
    everywhere (local threads, real executors): ship the package zip
    (``_package_zip``, ~100KB, built once per process) to each session;
    workers prepend it to their sys.path."""
    if getattr(spark, "_bosql_pkg_shipped", False):
        return
    spark.sparkContext.addPyFile(_package_zip())
    spark._bosql_pkg_shipped = True


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every parquet table in ``sf_dir`` as a temp view.

    Parquet scans are the scale path: columnar, predicate-pushdown and
    column-pruning friendly. At 100 TB these would be partitioned
    directories behind the same names; nothing downstream changes.

    Opening fires no Spark job: one Hadoop FS listing of ``sf_dir``
    finds the present tables (sf_dir can be any Spark-visible URI:
    file://, hdfs://, s3a://), their footers are read on the driver,
    and each file table opens with its footer's schema
    (``sources.parquet_source.open_parquet``). A table stored as a
    directory keeps Spark's inference for partition discovery. A
    missing table is skipped, and the view the previous directory
    registered under its name is dropped; views registered by other
    means (``LOAD TABLE``) stay.

    Memoized per (session, dir): temp views are session-global state, so
    only re-registration on a *different* directory is needed.
    """
    _purge_stopped_sessions()
    cached = _registered.get(spark)
    if cached is not None and cached[0] == sf_dir:
        return cached[1]
    _ship_package_to_workers(spark)
    # events.parquet uses TIMESTAMP(NANOS), unrepresentable in Spark; read
    # the raw int64 nanos (runtime conf — the caller's session may not have
    # it, e.g. the driver's own plain SparkSession) and fix up below. Set
    # before the footers are read: the schema converter follows it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # unix_timestamp()/date functions are session-TZ-dependent; the oracle
    # (DuckDB) is UTC-naive. Pin UTC here too, not just in our session
    # factory, so a caller-provided session gets identical semantics.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from bo_sql_spark import fsutil
    from bo_sql_spark.sources.parquet_source import open_parquet

    listing = fsutil.list_status(spark, sf_dir)
    paths = {
        name: os.path.join(sf_dir, f"{name}.parquet")
        for name in TABLES
        if f"{name}.parquet" in listing
    }
    if cached is not None:
        for name in cached[1].keys() - paths.keys():
            spark.catalog.dropTempView(name)
    frames = open_parquet(
        spark, {path: listing[f"{name}.parquet"] for name, path in paths.items()}
    )
    out: dict[str, DataFrame] = {}
    for name, path in paths.items():
        df = frames[path]
        if name == "events":
            df = normalize_events(df)
        df.createOrReplaceTempView(name)
        out[name] = df
    _registered[spark] = (sf_dir, out)
    return out


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize events to the two-column timestamp contract downstream
    code relies on: ``ts`` timestamp (micros) + ``ts_ns`` int64 nanos.

    The generator has shipped events.ts two ways across rounds:
    - parquet TIMESTAMP(NANOS): unrepresentable in Spark (micros max);
      with spark.sql.legacy.parquet.nanosAsLong it arrives as int64
      nanos — keep it as ``ts_ns`` and derive a micros ``ts``.
    - parquet timestamp[us] with isAdjustedToUTC=false: arrives as
      TIMESTAMP_NTZ — cast to TIMESTAMP (wall-clock-preserving under
      the pinned-UTC session, and required by streaming watermarks,
      which reject NTZ event time), then derive ``ts_ns`` losslessly
      as unix_micros * 1000.
    Either way ``ts_ns DIV 1000`` is exact micros, matching the
    oracle's ``epoch_us(ts)`` on its naive-TIMESTAMP read.
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    if isinstance(ts_type, (TimestampType, TimestampNTZType)):
        if isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df.withColumn(
            "ts_ns", (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("long")
        )
    # A third encoding must fail HERE, at load time, not later as a
    # confusing unresolved-ts_ns error deep inside a query plan.
    raise TypeError(
        f"events.ts has unsupported type {ts_type.simpleString()}; expected "
        "int64 nanos (via spark.sql.legacy.parquet.nanosAsLong), timestamp, "
        "or timestamp_ntz"
    )


@dataclass
class ColumnStats:
    """Per-column stats, mirroring reference ColumnStats (catalog.h:24-40)."""

    name: str
    dtype: str
    min: object
    max: object
    ndv: int


def describe_table(spark: SparkSession, name: str) -> tuple[int, list[ColumnStats]]:
    """Row count + per-column (min, max, approx NDV) in ONE aggregate pass.

    The reference computes exact NDV with a std::set per column
    (csv_loader.cpp:73-159) — O(n) memory, impossible at 100 TB. We use
    HyperLogLog (approx_count_distinct), which is what ANALYZE TABLE
    uses internally; one job scans the table once for all columns.
    """
    df = spark.table(name)
    aggs: list = [F.count(F.lit(1)).alias("__rows")]
    atomic = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() not in ("array", "map", "struct", "binary")
    }
    for c in atomic:
        aggs.append(F.min(c).alias(f"min__{c}"))
        aggs.append(F.max(c).alias(f"max__{c}"))
        aggs.append(F.approx_count_distinct(c).alias(f"ndv__{c}"))
    row = df.agg(*aggs).collect()[0].asDict()
    stats = [
        ColumnStats(
            name=f.name,
            dtype=f.dataType.simpleString(),
            min=row.get(f"min__{f.name}"),
            max=row.get(f"max__{f.name}"),
            ndv=int(row.get(f"ndv__{f.name}") or 0),
        )
        for f in df.schema.fields
    ]
    return int(row["__rows"]), stats


def show_tables(spark: SparkSession) -> list[str]:
    """Catalog listing (reference `SHOW TABLES`, src/cli/main.cpp:173-187)."""
    return sorted(t.name for t in spark.catalog.listTables())
