"""Parquet source — the scale-path table format.

The reference has no binary table format (CSV only,
src/storage/csv_loader.cpp). Parquet is the 100 TB answer: columnar,
dictionary/RLE encoded (subsuming the reference's string Dictionary,
include/storage/dictionary.h:11-17), with min/max row-group statistics
that Spark's scan uses for predicate pushdown and column pruning.

Opening a table costs no Spark job. ``spark.read.parquet(file)`` infers
the schema with a one-task job per call; here the footers are read on
the driver instead, through Spark's own footer reader and schema
converter, and the file opens with the schema they declare — the
reference's catalog likewise learns a table's schema as it loads it
(include/catalog/catalog.h:16-62).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

from bo_sql_spark import fsutil


def _footer_schemas(spark: SparkSession, statuses: list) -> dict[str, StructType]:
    """Qualified path -> schema of each parquet FILE in ``statuses``
    (Hadoop ``FileStatus`` objects).

    ``readParquetFootersInParallel`` reads the footers in a driver
    thread pool, and ``readSchema`` is the converter Spark's inference
    job itself uses, built from the session conf: ``nanosAsLong``,
    ``inferTimestampNTZ``, binary-as-string and a Spark-written
    row-metadata schema all follow the session. These are Spark
    internals; a py4j error propagates rather than falling back to
    inference, so an API change fails loudly (tests/test_catalog.py pins
    the result against Spark's own inference)."""
    if not statuses:
        return {}
    jvm = spark._jvm
    pff = getattr(
        getattr(jvm.org.apache.spark.sql.execution.datasources.parquet, "ParquetFileFormat$"),
        "MODULE$",
    )
    to_seq = jvm.org.apache.spark.api.python.PythonUtils.toSeq
    jsession = spark._jsparkSession
    footers = pff.readParquetFootersInParallel(
        jsession.sessionState().newHadoopConf(), to_seq(statuses), False
    )
    out = {}
    for i in range(footers.length()):
        footer = footers.apply(i)
        schema = pff.readSchema(to_seq([footer]), jsession).get()
        out[footer.getFile().toString()] = _parse_datatype_json_string(schema.json())
    return out


def open_parquet(spark: SparkSession, tables: dict) -> dict[str, DataFrame]:
    """Open each ``path -> FileStatus`` of ``tables`` as a DataFrame.

    A file opens with the schema its footer declares, so no schema
    inference job runs. A directory (Spark-written, possibly
    partitioned) keeps ``spark.read.parquet``: partition discovery
    needs it. Footers are matched to their tables by file path."""
    files = {p: st for p, st in tables.items() if not st.isDirectory()}
    schemas = _footer_schemas(spark, list(files.values()))
    out = {}
    for path, st in tables.items():
        if path in files:
            schema = schemas[st.getPath().toString()]
            out[path] = spark.read.schema(schema).parquet(path)
        else:
            out[path] = spark.read.parquet(path)
    return out


def load_parquet(
    spark: SparkSession,
    path: str,
    name: str | None = None,
) -> DataFrame:
    """Read a parquet file/directory; optionally register it as a view.

    A path that names one file or directory goes through
    ``open_parquet``. A glob matching several files, or nothing, is left
    to ``spark.read.parquet``, which infers across them or raises its
    own not-found error."""
    fs, hpath = fsutil._fs_and_path(spark, path)
    matched = fs.globStatus(hpath)
    if matched is not None and len(matched) == 1:
        df = open_parquet(spark, {path: matched[0]})[path]
    else:
        df = spark.read.parquet(path)
    if name:
        df.createOrReplaceTempView(name)
    return df
