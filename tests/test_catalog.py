"""Catalog behavior: registration, memoization, cross-directory
invalidation (stale views would silently corrupt every query), and the
driver-side footer read that opens every table without a Spark job."""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from bo_sql_spark import catalog
from bo_sql_spark.catalog import TABLES, describe_table, load_tables, normalize_events
from bo_sql_spark.sources import load_parquet

SCALES = ("sf0.001", "sf0.01", "sf0.1")  # siblings of the sf_dir fixture


def test_memoized_same_dir_returns_same_frames(spark, sf_dir):
    a = load_tables(spark, sf_dir)
    b = load_tables(spark, sf_dir)
    assert a is b  # cached — no re-listing, footer read or re-open


def test_switching_dirs_reregisters_views(spark):
    load_tables(spark, "/root/testdata/sf0.001")
    n_small = spark.table("lineitem").count()
    load_tables(spark, "/root/testdata/sf0.01")
    n_big = spark.table("lineitem").count()
    assert n_big > n_small  # views must follow the directory switch
    load_tables(spark, "/root/testdata/sf0.001")
    assert spark.table("lineitem").count() == n_small


def test_events_gets_usable_timestamp(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    fields = {f.name: f.dataType.simpleString() for f in t["events"].schema.fields}
    assert fields["ts"] == "timestamp"
    assert fields["ts_ns"] == "bigint"


def test_describe_table_stats(spark, sf_dir):
    load_tables(spark, sf_dir)
    n, stats = describe_table(spark, "region")
    assert n == 5
    by_name = {s.name: s for s in stats}
    assert by_name["r_regionkey"].min == 0 and by_name["r_regionkey"].max == 4
    assert by_name["r_name"].ndv == 5


@pytest.fixture
def fresh(spark):
    """A new session on the shared SparkContext: its own temp views and
    an empty ``load_tables`` memo, so loading here leaves the views of
    every other test alone."""
    s = spark.newSession()
    yield s
    catalog._registered.pop(s, None)


def _jobs_during(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        n = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("idle", "idle")
    return out, n


def _same_schema(a, b):
    # json() covers names, types, nullability and field metadata.
    assert a.json() == b.json(), (a.simpleString(), b.simpleString())


def test_load_tables_fires_no_jobs(fresh, sf_dir):
    tables, n = _jobs_during(
        fresh, "catalog.load_tables", lambda: load_tables(fresh, sf_dir)
    )
    assert sorted(tables) == sorted(TABLES)
    assert n == 0


@pytest.mark.parametrize("scale", SCALES)
def test_footer_schema_equals_spark_inference(fresh, sf_dir, scale):
    sf = os.path.join(os.path.dirname(sf_dir), scale)
    tables = load_tables(fresh, sf)
    assert sorted(tables) == sorted(TABLES)
    for name, df in tables.items():
        inferred = fresh.read.parquet(os.path.join(sf, f"{name}.parquet"))
        if name == "events":
            inferred = normalize_events(inferred)
        _same_schema(df.schema, inferred.schema)


def test_nanos_events_take_long_branch(fresh, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_001]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    events = load_tables(fresh, str(tmp_path))["events"]
    raw = fresh.read.parquet(str(tmp_path / "events.parquet"))
    assert raw.schema["ts"].dataType.simpleString() == "bigint"  # nanosAsLong
    _same_schema(events.schema, normalize_events(raw).schema)
    rows = events.orderBy("event_id").collect()
    assert [r.ts_ns for r in rows] == ns
    assert [r.ts.microsecond for r in rows] == [123456, 0]


def _spark_written_file(spark, df, dest):
    """Write ``df`` as one Spark part file and move it to ``dest``."""
    out = tempfile.mkdtemp(dir=os.path.dirname(dest))
    df.coalesce(1).write.mode("overwrite").parquet(out)
    (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
    shutil.move(part, dest)
    shutil.rmtree(out)


def test_spark_row_metadata_schema_respected(fresh, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("r_regionkey", LongType(), False, {"comment": "key"}),
            StructField("r_name", StringType(), True, {"comment": "name"}),
        ]
    )
    df = fresh.createDataFrame([(0, "AFRICA"), (1, "ASIA")], schema)
    _spark_written_file(fresh, df, str(tmp_path / "region.parquet"))
    region = load_tables(fresh, str(tmp_path))["region"]
    inferred = fresh.read.parquet(str(tmp_path / "region.parquet"))
    _same_schema(region.schema, inferred.schema)
    assert region.schema["r_name"].metadata == {"comment": "name"}
    assert region.count() == 2


def test_partitioned_directory_table_keeps_partition_column(fresh, sf_dir, tmp_path):
    nation = fresh.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    nation.write.partitionBy("n_regionkey").parquet(str(tmp_path / "nation.parquet"))
    loaded = load_tables(fresh, str(tmp_path))["nation"]
    assert "n_regionkey" in loaded.columns
    assert loaded.count() == nation.count()
    assert loaded.select("n_regionkey").distinct().count() == 5


def test_file_uri_sf_dir_loads(fresh, sf_dir):
    tables = load_tables(fresh, "file://" + sf_dir)
    assert sorted(tables) == sorted(TABLES)
    assert fresh.table("region").count() == 5


def test_missing_table_skipped(fresh, sf_dir, tmp_path):
    for name in ("region", "nation"):
        shutil.copy(
            os.path.join(sf_dir, f"{name}.parquet"), tmp_path / f"{name}.parquet"
        )
    assert sorted(load_tables(fresh, str(tmp_path))) == ["nation", "region"]
    assert load_tables(fresh, str(tmp_path / "absent")) == {}


def test_switch_drops_views_the_new_dir_lacks(fresh, sf_dir, tmp_path):
    """A table missing from the new directory must not keep serving the
    previous directory's rows; a view loaded by other means stays.
    The switch fires no Spark job."""
    from pyspark.sql.utils import AnalysisException

    shutil.copy(os.path.join(sf_dir, "region.parquet"), tmp_path / "region.parquet")
    load_tables(fresh, sf_dir)
    load_parquet(fresh, os.path.join(sf_dir, "nation.parquet"), name="my_nation")
    tables, n = _jobs_during(
        fresh, "catalog.switch", lambda: load_tables(fresh, str(tmp_path))
    )
    assert sorted(tables) == ["region"] and n == 0
    with pytest.raises(AnalysisException):
        fresh.table("lineitem")
    assert fresh.table("region").count() == 5
    assert fresh.table("my_nation").count() == 25


def test_load_parquet_single_file_fires_no_jobs(fresh, sf_dir, tmp_path):
    path = os.path.join(sf_dir, "orders.parquet")
    df, n = _jobs_during(
        fresh, "catalog.load_parquet", lambda: load_parquet(fresh, path, name="o")
    )
    assert n == 0
    _same_schema(df.schema, fresh.read.parquet(path).schema)
    assert fresh.table("o").count() == df.count() > 0
    # A directory still opens through Spark's inference.
    df.write.parquet(str(tmp_path / "orders_dir"))
    assert load_parquet(fresh, str(tmp_path / "orders_dir")).count() == df.count()


def test_package_zip_built_once_and_removed_at_exit(spark):
    pattern = os.path.join(
        tempfile.gettempdir(), "bosql_*", "pkg_*", "bo_sql_spark_pkg.zip"
    )
    before = set(glob.glob(pattern))
    first = catalog._package_zip()
    catalog._ship_package_to_workers(spark.newSession())
    assert catalog._package_zip() == first
    assert set(glob.glob(pattern)) - before <= {first}
    assert os.path.exists(first)
    # A process that built a zip leaves none behind when it exits.
    code = "from bo_sql_spark import catalog; print(catalog._package_zip())"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True,
        check=True, timeout=120,
    )
    built = out.stdout.strip()
    assert built.endswith(".zip") and not os.path.exists(built)
