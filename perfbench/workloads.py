"""The three workloads: what one op is, how a setup round prepares for
it, and how its outputs are checked.

Each workload turns (seed, seconds) into a FIXED op list, so every run
of one seed does identical work: counts (jobs, stages, plan nodes,
py4j calls) repeat exactly, and a faster engine finishes the same work
sooner instead of doing more of it. ``seconds`` only sizes the list,
through a nominal rate per workload chosen so the timed cycles together
last about that long on a 4-core host. The list is made of whole cycles of
``cycle_len`` ops, each cycle the workload's full op mix once, so the
harness can time cycle by cycle and report the median cycle.

Oracle work (DuckDB queries, the Python index reference) runs in
``check``, after the last timed cycle and outside setup.
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass, field
from typing import Any

import inputs

PIPELINE_BUILDERS = (
    "dedup_minhash_survivors_portable",
    "dedup_survivors",
    "sketch_kmv_overlap",
    "text_bpe_train",
    "dedup_simhash_portable",
    "dedup_semantic",
    "events_anomaly_mad",
    "corpus_filter_entropy",
)


@dataclass
class Op:
    kind: str  # sql | build | read | write
    label: str  # template, builder or served-read name
    payload: Any
    layer: str = ""  # the span name of the op's first step
    result: Any = None  # pandas frame (reads) or None (writes, failures)
    error: str = ""


@dataclass
class Runtime:
    """One setup round's session and the state its workload prepared."""

    spark: Any
    sf_dir: str
    tmp: str
    seed: int
    round: int = 0
    tables: dict = field(default_factory=dict)
    engine: Any = None  # sql_adhoc
    registry: dict = field(default_factory=dict)  # pipeline_build
    index: str = ""  # index_ingest_serve: the store path
    base_ids: list = field(default_factory=list)
    next_id: int = 0
    user_bytes: int = 0  # text bytes in the store, set by the check

    def rebind(self, fresh: "Runtime") -> None:
        """Carry on in a restarted session: take ``fresh``'s session-bound
        handles and keep this runtime's store state."""
        self.spark, self.tables, self.engine, self.registry = fresh.spark, fresh.tables, fresh.engine, fresh.registry


class SqlAdhoc:
    """An analyst at the REPL: seeded ad-hoc SQL over the star schema
    through ``Engine.sql``; every op has new literals."""

    name = "sql_adhoc"
    rate = 2.0  # nominal ops/s
    cycle_len = len(inputs.SQL_TEMPLATES)

    def ops(self, seed: int, seconds: int) -> list[Op]:
        # whole template blocks, so the mix is the same for every seed
        k = self.cycle_len
        n = k * max(1, math.ceil(seconds * self.rate / k))
        return [Op("sql", name, q, "engine") for name, q in inputs.sql_texts(seed, n)]

    def prepare(self, rt: Runtime) -> None:
        from bo_sql_spark.engine import Engine

        rt.engine = Engine(rt.spark)

    def warmup(self, rt: Runtime) -> None:
        # one query per template: the first run of each plan shape pays
        # JIT and codegen compilation (measured: ~30% slower ops)
        for _name, q in inputs.sql_texts(-1, len(inputs.SQL_TEMPLATES)):
            rt.engine.sql(q).toPandas()

    def build(self, rt: Runtime, op: Op):
        return rt.engine.sql(op.payload)

    def check(self, rt: Runtime, ops: list[Op]) -> list[str]:
        return duckdb_failures(rt, ops, {op.payload: op.payload for op in ops})


def duckdb_failures(rt: Runtime, ops: list[Op], oracle_sql: dict[str, str]) -> list[str]:
    """Compare each completed op's result with DuckDB running
    ``oracle_sql[op.payload]`` on the same parquet files; each distinct
    oracle query runs once."""
    from bo_sql_spark.testing import compare_results, duckdb_connect

    con = duckdb_connect(rt.sf_dir)
    try:
        want = {sql: con.execute(sql).df() for sql in set(oracle_sql.values())}
    finally:
        con.close()
    return [
        f"{op.label}: {msg}"
        for op in ops
        if op.result is not None
        for ok, msg in [compare_results(op.result, want[oracle_sql[op.payload]])]
        if not ok
    ]


class PipelineBuild:
    """A pipeline driver: the eight ROADMAP builders through the query
    registry, each pass in a seeded order; the build layer dominates."""

    name = "pipeline_build"
    pass_seconds = 15.0  # nominal wall of one pass
    cycle_len = len(PIPELINE_BUILDERS)

    def ops(self, seed: int, seconds: int) -> list[Op]:
        passes = max(1, round(seconds / self.pass_seconds))
        return [
            Op("build", b, b, "queries")
            for p in range(passes)
            for b in inputs.pass_order(seed, list(PIPELINE_BUILDERS), p)
        ]

    def prepare(self, rt: Runtime) -> None:
        from bo_sql_spark.queries import load_all

        rt.registry = load_all()

    def warmup(self, rt: Runtime) -> None:
        # none: a pipeline job calls each builder once per process, so
        # the first call's compilation is part of what it pays
        pass

    def build(self, rt: Runtime, op: Op):
        return rt.registry[op.payload].builder(rt.spark, rt.sf_dir)

    def check(self, rt: Runtime, ops: list[Op]) -> list[str]:
        return duckdb_failures(rt, ops, {op.payload: rt.registry[op.payload].oracle for op in ops})


class IndexIngestServe:
    """Writes beside reads on one postings store: seeded document
    batches appended with ``append_postings`` between ``bm25_served`` /
    ``search_served`` reads, at a fixed 1:3 write:read ratio. Half the
    ops are ranked reads, so the median op is a ranked read."""

    name = "index_ingest_serve"
    rate = 0.75  # nominal ops/s
    cycle = ("bm25", "search", "bm25", "write")
    cycle_len = len(cycle)
    batch_docs = 50
    base_share = 0.8
    top_k = 20

    def ops(self, seed: int, seconds: int) -> list[Op]:
        n_cycles = max(1, math.ceil(seconds * self.rate / len(self.cycle)))
        terms = iter(inputs.query_terms(seed, n_cycles * len(self.cycle)))
        out, batch = [], 0
        for _ in range(n_cycles):
            for kind in self.cycle:
                if kind == "write":
                    out.append(Op("write", "append_postings", batch, "store.write"))
                    batch += 1
                else:
                    out.append(Op("read", f"{kind}_served", next(terms), "store.read"))
        return out

    def prepare(self, rt: Runtime) -> None:
        from pyspark.sql import functions as F

        from bo_sql_spark.operators.search import materialize_inverted_index

        docs = rt.tables["documents"]
        n_docs = docs.count()
        rt.base_ids = inputs.base_doc_ids(rt.seed, n_docs, self.base_share)
        rt.next_id = n_docs
        ids = rt.spark.createDataFrame([(i,) for i in rt.base_ids], "doc_id long")
        rt.index = os.path.join(rt.tmp, f"store-{rt.round}", "index")
        materialize_inverted_index(docs.join(F.broadcast(ids), "doc_id", "left_semi"), rt.index)

    def warmup(self, rt: Runtime) -> None:
        """One ranked read. No append: it would change the store the
        timed cycles start from."""
        from bo_sql_spark.operators.search import bm25_served

        bm25_served(rt.spark, rt.index, ["spark", "join"], k=self.top_k).toPandas()

    def batch_rows(self, rt: Runtime, batch: int) -> list[tuple[int, str]]:
        first = rt.next_id + batch * self.batch_docs
        return inputs.doc_batch(rt.seed, batch, first, self.batch_docs)

    def build(self, rt: Runtime, op: Op):
        from bo_sql_spark.operators.search import append_postings, bm25_served, search_served

        if op.kind == "write":
            rows = self.batch_rows(rt, op.payload)
            append_postings(rt.spark.createDataFrame(rows, "doc_id long, text string"), rt.index)
            return None
        if op.label == "bm25_served":
            return bm25_served(rt.spark, rt.index, op.payload, k=self.top_k)
        return search_served(rt.spark, rt.index, op.payload)

    def check(self, rt: Runtime, ops: list[Op]) -> list[str]:
        """Replay the op list against a Python model of the store that
        holds exactly the documents present: the base subset plus every
        batch appended before the read (failed appends excluded)."""
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(rt.sf_dir, "documents.parquet"), columns=["doc_id", "text"])
        text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        model = IndexModel((i, text[i]) for i in rt.base_ids)
        bad = []
        for op in ops:
            if op.kind == "write":
                if not op.error:
                    model.add(self.batch_rows(rt, op.payload))
                continue
            if op.result is None:
                continue
            if op.label == "bm25_served":
                cols, want = ["doc_id", "bm25_micros", "n_terms_hit"], model.bm25(op.payload, self.top_k)
            else:
                cols, want = ["doc_id", "n_terms_hit", "tf_sum"], model.search(op.payload)
            got = op.result
            ok = sorted(got.columns) == sorted(cols) and sorted(
                got[cols].astype("int64").itertuples(index=False, name=None)
            ) == sorted(want)
            if not ok:
                bad.append(f"{op.label}{op.payload}: result differs from the reference")
        rt.user_bytes = model.user_bytes
        return bad


def store_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under a postings store and its side tables."""
    files = size = 0
    for d in (path, path + "_stats", path + "_terms"):
        for root, _dirs, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    return files, size


_WS = re.compile(r"\s+")


def tokens(text: str) -> list[str]:
    """The engine's tokenization: lowercase, collapse whitespace, split."""
    return [t for t in _WS.sub(" ", text.lower()).strip().split(" ") if t]


class IndexModel:
    """Reference postings over an explicit document set, with the
    engine's fixed-point BM25 (operators/search.py: bm25_fold) replayed
    in Python integers."""

    def __init__(self, docs) -> None:
        self.tf: dict[int, dict[str, int]] = {}
        self.user_bytes = 0
        self.add(docs)

    def add(self, docs) -> None:
        for doc_id, text in docs:
            counts: dict[str, int] = {}
            for t in tokens(text):
                counts[t] = counts.get(t, 0) + 1
            self.tf[doc_id] = counts
            self.user_bytes += len(text.encode())

    def search(self, terms: list[str]) -> list[tuple[int, int, int]]:
        uniq = set(terms)
        return [
            (d, len(uniq), sum(c[t] for t in uniq))
            for d, c in self.tf.items()
            if all(t in c for t in uniq)
        ]

    def bm25(self, terms: list[str], k: int) -> list[tuple[int, int, int]]:
        from bo_sql_spark.functions.fixedpoint import ln_micros_py

        uniq = sorted(set(terms))
        n_docs = len(self.tf)
        sum_dl = sum(sum(c.values()) for c in self.tf.values())
        idf = {}
        for t in uniq:
            df = sum(1 for c in self.tf.values() if t in c)
            if df:
                idf[t] = ln_micros_py(2 * n_docs + 2) - ln_micros_py(2 * df + 1)
        scores = []
        for d, c in self.tf.items():
            hit = [t for t in uniq if t in c]
            if not hit:
                continue
            dl = sum(c.values())
            dlr = dl * 1_000_000 * n_docs // sum_dl
            score = 0
            for t in hit:
                tf = c[t]
                denom = tf * 1_000_000 + 300_000 + 900_000 * dlr // 1_000_000
                tfpart = tf * 2_200_000 * 1_000_000 // denom
                score += idf[t] * tfpart // 1_000_000
            scores.append((d, score, len(hit)))
        scores.sort(key=lambda r: (-r[1], r[0]))
        return scores[:k]


WORKLOADS = {w.name: w for w in (SqlAdhoc(), PipelineBuild(), IndexIngestServe())}
