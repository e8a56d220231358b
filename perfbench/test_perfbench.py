"""The benchmark's own tests: input determinism, the reference model, and
a smoke run of every workload on the tiny dataset.

    python3 -m pytest -q perfbench/test_perfbench.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
from workloads import PIPELINE_BUILDERS, WORKLOADS, IndexModel, tokens  # noqa: E402


@pytest.mark.parametrize(
    "gen",
    [
        lambda s: inputs.sql_texts(s, 21),
        lambda s: inputs.query_terms(s, 12),
        lambda s: inputs.doc_batch(s, 3, 1000, 20),
        lambda s: inputs.base_doc_ids(s, 500),
        lambda s: inputs.pass_order(s, list(PIPELINE_BUILDERS), 1),
        lambda s: [(op.label, op.payload) for w in WORKLOADS.values() for op in w.ops(s, 12)],
    ],
)
def test_inputs_are_a_function_of_the_seed(gen):
    assert gen(7) == gen(7)
    assert gen(7) != gen(8)


def test_dataset_is_deterministic():
    a = datagen.make_tables(datagen.SCALES["smoke"])
    b = datagen.make_tables(datagen.SCALES["smoke"])
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)


def test_op_lists_depend_only_on_seed_and_seconds():
    for w in WORKLOADS.values():
        assert len(w.ops(1, 12)) == len(w.ops(2, 12)) > 0
        assert len(w.ops(1, 30)) >= len(w.ops(1, 12))


def test_cycle_slots_spread_every_cycle_over_the_rounds():
    for n in range(12):
        slots = run.cycle_slots(n, 3)
        assert sum(slots) == n and slots == sorted(slots) and slots[-1] - slots[0] <= 1


def test_index_model_matches_hand_computed_scores():
    m = IndexModel([(1, "a b b"), (2, "b  C"), (3, "a")])
    assert tokens(" X  y\tz ") == ["x", "y", "z"]
    assert sorted(m.search(["b"])) == [(1, 1, 2), (2, 1, 1)]
    assert m.search(["a", "b"]) == [(1, 2, 3)]
    # df(a) = 2 of 3 docs; the top doc by score, ties by doc id
    top = m.bm25(["a"], k=1)
    assert top[0][0] == 3 and top[0][2] == 1
    m.add([(4, "a a a")])
    assert [r[0] for r in m.bm25(["a"], k=3)] == [4, 3, 1]


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "sql_adhoc", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "2", "--trace", str(trace), "--scale", "smoke")
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    assert sorted(out["metrics"]) == sorted(want)
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        assert out["metrics"]["trace.op_coverage_min_pct"]["value"] >= 90
