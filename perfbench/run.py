"""Closed-loop benchmark of the engine, one client, one workload per run.

    python3 perfbench/run.py --workload sql_adhoc --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. One client process drives the
workload in a closed loop (each op waits for its result) against a
``local[N]`` session, N = half the CPUs this process may use. A run:

1. builds the benchmark's own dataset under ``.bench_build/`` (first
   run of a checkout only; never timed);
2. sets up three times -- SparkSession, ``load_tables``, workload
   preparation -- the first round in a fresh JVM and followed by the
   warm-up, the next two after a session restart in that JVM;
   ``setup_s`` is the median round;
3. runs the workload's fixed op list cycle by cycle, the cycles spread
   over the gaps after the three rounds (the ops keep round 1's state,
   such as its store, in each new session), with the host anchor
   sampled before the first cycle and after the last;
4. checks every op's output against an oracle (outside all timing);
5. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``, spans written to ``.bench_build/perfbench/spans``).

Host weather (steal, anchor, peak RSS) goes to stderr on every run as a
``perfbench-host`` line. Exits 2 without a result when the engine is
not importable next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import datagen
import host
import tracing
from workloads import WORKLOADS, Op, Runtime, store_stats

SETUP_ROUNDS = 3
DRIVER_MEMORY = "2g"
ANCHOR_SAMPLES = 1  # before the first timed cycle and again after the last
WEATHER_UNITS = {"host.steal_pct": "%", "host.anchor_ms": "ms", "host.peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(datagen.SCALES), default="bench")
    return p.parse_args(argv)


def task_threads() -> int:
    """Half the CPUs this process may use, at least one. The JVM's JIT
    compiler and GC threads, the py4j threads and this driver run beside
    the task threads; with one task thread per CPU they queue behind
    each other and every op then times the scheduler as well."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def cycle_slots(n_cycles: int, rounds: int) -> list[int]:
    """How many timed cycles follow each set-up round: as even as the
    count allows, the remainder after the last rounds. Spreading the
    cycles over the whole run, between the restarts, lets the median
    cycle stand clear of a slow stretch of the host that covers only
    part of the run."""
    return [n_cycles // rounds + (r >= rounds - n_cycles % rounds) for r in range(rounds)]


def median_or_zero(values):
    return statistics.median(values) if values else 0.0


def mean_or_zero(values):
    return sum(values) / len(values) if values else 0.0


class Harness:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.wl = WORKLOADS[args.workload]
        self.work = os.path.join(root, ".bench_build", "perfbench")
        self.cpus = task_threads()
        self.tracer = tracing.Tracer()
        self.traced = bool(args.trace)
        self.rt: Runtime | None = None

    # ---- setup -----------------------------------------------------------

    def session(self):
        from bo_sql_spark.session import get_session

        tmp = self.tmp
        return get_session(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                # no hsperfdata file under /tmp: the run writes only in the checkout
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )

    def setup_round(self, r: int) -> float:
        from bo_sql_spark.catalog import load_tables

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("setup", round=r):
            with tr.span("session"):
                spark = self.session()
            with tr.span("catalog"):
                tables = load_tables(spark, self.sf_dir)
            rt = Runtime(spark, self.sf_dir, self.tmp, self.args.seed, r, tables)
            with tr.span("prepare"):
                self.wl.prepare(rt)
            if r == 0:  # JIT and codegen caches live in the JVM: warm them once
                with tr.span("warmup"):
                    self.anchor_ms(spark)
                    self.wl.warmup(rt)
        if r == 0:
            self.rt = rt
        else:  # the timed ops go on with round 1's state in the new session
            self.rt.rebind(rt)
        return time.perf_counter() - t0

    @staticmethod
    def anchor_ms(spark) -> float:
        """A fixed pure-JVM job (no I/O): the host-speed reference."""
        t = time.perf_counter()
        spark.range(100_000_000).selectExpr("sum(id * 3 + 1)").collect()
        return 1000 * (time.perf_counter() - t)

    # ---- one op ----------------------------------------------------------

    def run_op(self, i: int, op: Op) -> float:
        t = time.perf_counter()
        try:
            if self.traced:
                self.traced_op(i, op)
            else:
                df = self.wl.build(self.rt, op)
                if df is not None:
                    op.result = df.toPandas()
        except Exception as e:  # an op that raises is a failed op; the loop goes on
            op.error = f"{type(e).__name__}: {e}"
        return time.perf_counter() - t

    def traced_op(self, i: int, op: Op) -> None:
        tr, rt = self.tracer, self.rt
        sc = rt.spark.sparkContext
        with tr.span("op", i, kind=op.kind, label=op.label) as sp:
            sc.setJobGroup(f"op{i}.build", op.label)
            before = dict(tr.counts)
            if op.label == "bm25_served":
                sp.attrs["terms_table"] = os.path.exists(rt.index + "_terms")
            with tr.span(op.layer, i):
                df = self.wl.build(rt, op)
            sp.attrs.update({f"build_{k}": tr.counts[k] - before[k] for k in before})
            if df is not None:
                with tr.span("catalyst", i):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                sc.setJobGroup(f"op{i}.exec", op.label)
                with tr.span("exec", i):
                    op.result = df.toPandas()
        # readings taken between ops, outside every span
        sc.setJobGroup("perfbench.idle", "between ops")
        sp.attrs["build_stats"] = tracing.job_stats(rt.spark, f"op{i}.build")
        if df is not None:
            sp.attrs["catalyst"] = tracing.catalyst_phases(qe)
            sp.attrs["plan"] = tracing.plan_counts(qe)
            sp.attrs["exec_stats"] = tracing.job_stats(rt.spark, f"op{i}.exec")
            sp.attrs["rows"] = len(op.result)

    def timed_cycles(self, ops: list[Op], first: int, n: int) -> None:
        """Run ``n`` cycles of the op list from cycle ``first``; record
        each op's latency and each cycle's wall s, process-tree CPU s and
        host CPU counters. The /proc readings between cycles fall
        outside the cycle's wall."""
        k = self.wl.cycle_len
        for c in range(first * k, (first + n) * k, k):
            cpu0, host0 = host.tree_cpu_s(), host.cpu_counters()
            t0 = time.perf_counter()
            self.lat += [self.run_op(i, ops[i]) for i in range(c, c + k)]
            wall = time.perf_counter() - t0
            self.cycles.append((wall, host.tree_cpu_s() - cpu0, host0, host.cpu_counters()))

    # ---- the run ---------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        self.sf_dir = datagen.ensure_dataset(os.path.join(self.work, "data"), datagen.SCALES[args.scale])
        if self.traced:
            tracing.install_counters(self.tracer)
        ops = self.wl.ops(args.seed, args.seconds)
        slots = cycle_slots(len(ops) // self.wl.cycle_len, SETUP_ROUNDS)
        rounds, anchors, self.lat, self.cycles = [], [], [], []
        for r in range(SETUP_ROUNDS):
            if self.rt is not None:
                self.rt.spark.stop()
            rounds.append(self.setup_round(r))
            if r == 0:
                anchors += [self.anchor_ms(self.rt.spark) for _ in range(ANCHOR_SAMPLES)]
            self.timed_cycles(ops, sum(slots[:r]), slots[r])
        anchors += [self.anchor_ms(self.rt.spark) for _ in range(ANCHOR_SAMPLES)]
        lat, cycles = self.lat, self.cycles
        steal = [sum(c[3][j] - c[2][j] for c in cycles) for j in (0, 1)]
        weather = {
            "host.steal_pct": host.steal_pct((0, 0), steal),
            "host.anchor_ms": statistics.median(anchors),
            "host.peak_rss_mb": host.tree_peak_rss_mb(),
        }
        store = store_stats(self.rt.index) if self.rt.index else (0, 0)
        bad = self.wl.check(self.rt, ops)
        errors = [f"{op.label}: {op.error}" for op in ops if op.error]
        for msg in (errors + bad)[:10]:
            print(f"perfbench: failed op {msg[:500]}", file=sys.stderr)
        failed = len(errors) + len(bad)
        print(
            "perfbench-host "
            + json.dumps(
                {"workload": args.workload, "seed": args.seed, "trace": args.trace, **weather,
                 "cycle_s": [round(c[0], 3) for c in cycles]}
            ),
            file=sys.stderr,
        )
        if self.traced:
            os.makedirs(os.path.join(self.work, "spans"), exist_ok=True)
            self.tracer.write(os.path.join(self.work, "spans", f"{args.workload}-{args.seed}.jsonl"))
            metrics = self.layer_metrics(ops, lat, weather, store)
        else:
            k = self.wl.cycle_len
            metrics = {
                "setup_s": (statistics.median(rounds), "s"),
                "ops_per_s": (k / statistics.median(c[0] for c in cycles), "1/s"),
                "op_p50_ms": (1000 * statistics.median(lat), "ms"),
                "cpu_s_per_op": (statistics.median(c[1] for c in cycles) / k, "s"),
            }
        return {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    # ---- per-layer metrics from the spans --------------------------------

    def layer_metrics(self, ops, lat, weather, store) -> dict:
        """Per-layer metrics over the ops that completed (a failed op has
        no readings; failures are counted in the result)."""
        tr = self.tracer
        spans = tr.spans

        def setup_span(name):
            return [s.dur for s in spans if s.name == name and s.op == -1]

        recs = [
            (s, {c.name: c.dur for c in tr.children(j)}, ops[s.op])
            for j, s in enumerate(spans)
            if s.name == "op" and not ops[s.op].error
        ]
        with_df = [s for s, _k, _o in recs if "plan" in s.attrs]
        non_sql = [s for s, _k, o in recs if o.kind != "sql"]
        every = [s for s, _k, _o in recs]

        def build_ms(kind):
            return [1000 * k[o.layer] for s, k, o in recs if o.kind in kind and o.layer in k]

        def per_op(getter, pool):
            return mean_or_zero([getter(s) for s in pool])

        reads = [s for s, _k, o in recs if o.kind == "read"]
        user_bytes = self.rt.user_bytes
        coverage = [sum(k.values()) / s.dur for s, k, _o in recs if s.dur > 0]
        m = {
            "session.start_s": (statistics.median(setup_span("session")), "s"),
            "session.cold_start_s": (setup_span("session")[0], "s"),
            "catalog.load_s": (statistics.median(setup_span("catalog")), "s"),
            "setup.prepare_s": (statistics.median(setup_span("prepare")), "s"),
            "setup.warmup_s": (statistics.median(setup_span("warmup")), "s"),
            "engine.sql_ms": (median_or_zero(build_ms(("sql",))), "ms"),
            "catalyst.ms": (median_or_zero([1000 * k["catalyst"] for _s, k, _o in recs if "catalyst" in k]), "ms"),
        }
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = (median_or_zero([s.attrs["catalyst"][phase] for s in with_df]), "ms")
        m.update(
            {
                "queries.build_ms": (median_or_zero(build_ms(("build", "read", "write"))), "ms"),
                "queries.build_jobs": (per_op(lambda s: s.attrs["build_stats"]["jobs"], non_sql), "count"),
                "queries.build_py4j_calls": (per_op(lambda s: s.attrs["build_py4j"], non_sql), "count"),
                "parallel.cuts": (per_op(lambda s: s.attrs["build_lineage_cut"], every), "count"),
                "parallel.spreads": (per_op(lambda s: s.attrs["build_spread_scan"], every), "count"),
                "exec.ms": (median_or_zero([1000 * k["exec"] for _s, k, _o in recs if "exec" in k]), "ms"),
            }
        )
        units = {"jobs": "count", "stages": "count", "tasks": "count", "task_run_ms": "ms", "gc_ms": "ms"}
        for key in ("jobs", "stages", "tasks", "task_run_ms", "gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            m[f"exec.{key}"] = (per_op(lambda s: s.attrs["exec_stats"][key], with_df), units.get(key, "bytes"))
        m["exec.peak_exec_mem_mb"] = (max([s.attrs["exec_stats"]["peak_exec_mem_mb"] for s in with_df] or [0.0]), "MB")
        for key in ("scans", "exchanges", "reused_exchanges", "broadcasts", "existing_rdd"):
            m[f"plan.{key}"] = (per_op(lambda s: s.attrs["plan"][key], with_df), "count")
        m["transport.result_rows"] = (per_op(lambda s: s.attrs["rows"], with_df), "count")
        m.update(
            {
                "store.read_ms": (median_or_zero([s.dur * 1000 for s in reads]), "ms"),
                "store.write_ms": (median_or_zero([s.dur * 1000 for s, _k, o in recs if o.kind == "write"]), "ms"),
                "store.files": (store[0], "count"),
                "store.bytes": (store[1], "bytes"),
                "store.bytes_per_user_byte": (store[1] / user_bytes if user_bytes else 0.0, "ratio"),
                "store.files_read_per_read": (per_op(lambda s: s.attrs["plan"]["files_read"], reads), "count"),
                "store.terms_hits": (sum(1 for s in reads if s.attrs.get("terms_table")), "count"),
                **{k: (v, WEATHER_UNITS[k]) for k, v in weather.items()},
                "trace.op_p50_ms": (1000 * statistics.median(lat), "ms"),
                "trace.op_coverage_min_pct": (100 * min(coverage), "%"),
            }
        )
        return m


def stop_all(rt: Runtime | None) -> None:
    """Stop the session, the JVM and its Python workers; wait for each."""
    from pyspark import SparkContext

    children = host.tree_pids()[1:]
    if rt is not None:
        rt.spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in host.wait_gone(children):
        os.kill(pid, signal.SIGKILL)
    host.wait_gone(children, 10)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    try:
        import bo_sql_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {root}: {e}", file=sys.stderr)
        return 2
    h = Harness(args, root)
    os.makedirs(h.work, exist_ok=True)
    h.tmp = tempfile.mkdtemp(prefix="run-", dir=h.work)
    # everything the engine, Spark and its workers write stays in the checkout
    os.environ["TMPDIR"] = h.tmp
    tempfile.tempdir = h.tmp
    # spark-submit's launcher JVM, like the driver JVM, writes no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        result = h.run()
    finally:
        try:
            stop_all(h.rt)
        finally:
            shutil.rmtree(h.tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
