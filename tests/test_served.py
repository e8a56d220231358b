"""The served-store contract: a registry entry that declares
``amortized = (prepare, serve)`` builds its store once in ``prepare``
and answers each query from it in ``serve``; its ``builder`` is the
two run back to back. bench.py times the same declaration instead of
keeping its own copy, and every store lands under the per-process
scratch root, which is removed at exit."""

from __future__ import annotations

import ast
import glob
import os
import subprocess
import sys

import pytest

from bo_sql_spark.queries import load_all

REG = load_all()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SERVED = (
    "similarity_ivf_served",
    "similarity_ivf_batch_served",
    "similarity_ivfsq_served",
    "text_search_served",
    "text_bm25_served",
    "similarity_ivfpq_adc",
    "similarity_pq_trained256",
)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_served_entries_are_the_amortized_ones():
    assert sorted(n for n, s in REG.items() if s.amortized) == sorted(SERVED)


@pytest.mark.parametrize("name", SERVED)
def test_builder_equals_serve_over_prepared_store(spark, sf_dir, name):
    """The builder's rows equal serve(prepare()), and a second read of
    the same store returns them again."""
    prepare, serve = REG[name].amortized
    want = _rows(REG[name].builder(spark, sf_dir))
    assert want
    state = prepare(spark, sf_dir)
    assert _rows(serve(spark, sf_dir, state)) == want
    assert _rows(serve(spark, sf_dir, state)) == want


def test_bench_times_the_registry_declaration():
    """bench.py builds no store and calls no operator itself: every
    timed pipeline name is a registry entry, and the served ones are
    timed through their ``amortized`` declaration."""
    sys.path.insert(0, ROOT)
    import bench

    src = open(os.path.join(ROOT, "bench.py")).read()
    names: set[str] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
            if isinstance(node.value, ast.Name):
                assert node.value.id != "S", ast.unparse(node)
        elif isinstance(node, ast.ImportFrom):
            assert not (node.module or "").startswith("bo_sql_spark.operators")
        elif isinstance(node, ast.FunctionDef):
            assert not node.name.endswith("_builder"), node.name
    assert "tempfile" not in names
    assert not [n for n in names if n.startswith("materialize_")]
    assert all(n in REG for n in bench.PIPELINE)
    assert set(SERVED) <= {n for n in bench.PIPELINE if REG[n].amortized}


def test_queries_make_no_temp_dirs_of_their_own():
    for path in glob.glob(os.path.join(ROOT, "bo_sql_spark", "queries", "*.py")):
        assert "mkdtemp" not in open(path).read(), path


def test_stores_are_removed_at_exit(tmp_path, sf_dir):
    """A process that built two served stores leaves nothing under its
    temp dir once it exits."""
    code = "\n".join([
        "import os, sys, tempfile",
        "from pyspark.sql import SparkSession",
        "from bo_sql_spark.queries import load_all",
        "spark = (SparkSession.builder.master('local[2]')",
        "         .config('spark.ui.enabled', 'false').getOrCreate())",
        "reg = load_all()",
        "for name in ('similarity_ivf_batch_served', 'text_search_served'):",
        "    reg[name].builder(spark, sys.argv[1]).collect()",
        "print(sorted(os.listdir(tempfile.gettempdir())))",
    ])
    out = subprocess.run(
        [sys.executable, "-c", code, sf_dir],
        cwd=ROOT, env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True, text=True, check=True, timeout=600,
    )
    assert "bosql_" in out.stdout, out.stdout
    assert not [p for p in os.listdir(tmp_path) if p.startswith("bosql_")]
