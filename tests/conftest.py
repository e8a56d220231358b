from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _compile_fs_double() -> str | None:
    """Compile the Hadoop FileSystem test double (tests/java/) into a
    temp classes dir for spark.driver.extraClassPath, so the CAS
    scheme-matrix contract test can register an s3a-like scheme whose
    class is visible to every thread of the local-mode JVM (in the
    scratch root, removed when the test process exits). Returns
    None (and the dependent test skips with a reason) when no JDK or
    hadoop jar is available."""
    import glob
    import shutil
    import subprocess

    from bo_sql_spark.scratch import scratch_dir

    javac = shutil.which("javac")
    if not javac:
        return None
    try:
        import pyspark

        jars = glob.glob(
            os.path.join(
                os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"
            )
        )
        src = os.path.join(
            os.path.dirname(__file__), "java", "S3ALikeLocalFileSystem.java"
        )
        if not jars or not os.path.exists(src):
            return None
        out = scratch_dir("fs_double")
        subprocess.run(
            [javac, "-cp", jars[0], "-d", out, src],
            check=True,
            capture_output=True,
            timeout=120,
        )
        return out
    except Exception:
        return None


@pytest.fixture(scope="session")
def spark():
    from bo_sql_spark.session import get_session

    double_cp = _compile_fs_double()
    s = get_session(
        app_name="bo-sql-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf=(
            {"spark.driver.extraClassPath": double_cp} if double_cp else None
        ),
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    from bo_sql_spark.testing import duckdb_connect

    con = duckdb_connect(sf_dir)
    yield con
    con.close()
