"""Steadiness check: run the benchmark once per seed and summarize.

    python3 perfbench/steady.py --workload sql_adhoc --seeds 1-10 --out perfbench/steadiness/set1

For each end-to-end metric it prints the median, the quartiles (Python's
``statistics.quantiles(values, n=4)``) and the spread: the distance
between the quartiles as a share of the median, next to the metric's
bound from BENCHMARK.json. Each run's result line and host weather
(``perfbench-host`` line on stderr) are appended to
``<out>/<workload>.jsonl``; ``--summarize`` rebuilds the tables from
those files without running anything.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    host = [json.loads(line.split(" ", 1)[1]) for line in proc.stderr.splitlines() if line.startswith("perfbench-host ")]
    result = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.returncode == 0 else None
    return {
        "seed": seed,
        "trace": trace,
        "returncode": proc.returncode,
        "wall_s": time.perf_counter() - t,
        "result": result,
        "host": host[-1] if host else None,
    }


def summarize(records: list[dict], bounds: dict[str, float]) -> list[str]:
    ok = [r for r in records if r["result"]]
    lines = [f"runs: {len(ok)} of {len(records)}; failed ops: {sum(r['result']['failed'] for r in ok)}"]
    lines.append("| metric | median | q1 | q3 | spread | bound/3 |")
    lines.append("|---|---|---|---|---|---|")
    for name in ok[0]["result"]["metrics"] if len(ok) > 1 else []:
        vals = [r["result"]["metrics"][name]["value"] for r in ok]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        b = bounds.get(name)
        lines.append(
            f"| {name} | {med:.4g} | {q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.3f} | {b / 3 if b else float('nan'):.3f} |"
        )
    lines.append("| seed | host.steal_pct | host.anchor_ms | run wall s |")
    lines.append("|---|---|---|---|")
    for r in records:
        h = r["host"] or {}
        lines.append(
            f"| {r['seed']} | {h.get('host.steal_pct', float('nan')):.2f} "
            f"| {h.get('host.anchor_ms', float('nan')):.1f} | {r.get('wall_s', float('nan')):.1f} |"
        )
    return lines


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", required=True)
    p.add_argument("--summarize", action="store_true")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    path = os.path.join(a.out, f"{a.workload}.jsonl")
    if not a.summarize:
        os.makedirs(a.out, exist_ok=True)
        for s in seeds(a.seeds):
            rec = run_once(a.workload, s, bench["run_seconds"], a.trace)
            with open(path, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"seed {s}: rc={rec['returncode']}", file=sys.stderr)
    with open(path) as f:
        records = [json.loads(line) for line in f if line.strip()]
    print(f"## {a.workload} ({os.path.basename(a.out.rstrip('/'))})")
    print("\n".join(summarize([r for r in records if r["trace"] == a.trace], bounds)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
