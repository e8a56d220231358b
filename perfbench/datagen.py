"""Deterministic synthetic tables for the benchmark.

The benchmark must not depend on data outside its checkout, so it writes
its own copy of the engine's fixture schema (TESTDATA.md): the
TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables, with the same column names, types and value
domains. The tables are a function of (scale, fixed seed) only; the
workload seed never reaches them, so every run of a scale reads the
same bytes and the pipeline oracles stay comparable across seeds.

Two size knobs, because the workloads stress different layers:
``star_sf`` sizes the star schema (execution-bound ad-hoc SQL) and
``text_sf`` sizes the text/event/vector tables (build-bound pipeline
builders, whose cost is mostly fixed per call).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP_WORD = "dup"

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "new", "small")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LANGS = ("en", "de", "es", "fr", "zh")


@dataclass(frozen=True)
class Scale:
    name: str
    star_sf: float
    text_sf: float

    def rows(self, table: str) -> int:
        star = {
            "customer": 150_000,
            "supplier": 10_000,
            "part": 200_000,
            "orders": 1_500_000,
            "lineitem": 6_000_000,
        }
        text = {"events": 1_000_000, "documents": 50_000, "embeddings": 20_000}
        if table in star:
            return max(10, int(star[table] * self.star_sf))
        return max(500, int(text[table] * self.text_sf))


SCALES = {
    # the measured scale: 17 MB star schema (the engine's sf0.1), text
    # tables at the sf0.01 fixture sizes
    "bench": Scale("bench", star_sf=0.1, text_sf=0.01),
    # the smoke scale the benchmark's own tests run (the sf0.001 sizes)
    "smoke": Scale("smoke", star_sf=0.001, text_sf=0.001),
}


def _days(rng, n, start, end):
    base = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - base).astype(int))
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _cents(rng, n, lo, hi):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def make_documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents over VOCAB; about 5% are an earlier
    document plus the word ``dup`` (the near-duplicates the dedup
    builders look for)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " " + DUP_WORD)
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    lang_p = np.array([0.5, 0.125, 0.125, 0.125, 0.125])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=lang_p)], pa.string()),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def make_tables(scale: Scale) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = (scale.rows(t) for t in ("customer", "supplier", "part"))
    n_ord, n_li = scale.rows("orders"), scale.rows("lineitem")
    n_ev, n_doc, n_emb = (scale.rows(t) for t in ("events", "documents", "embeddings"))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": pa.array(_cents(rng, n_cust, -999.99, 9999.99), f64),
                "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), s),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": pa.array(_cents(rng, n_supp, -999.99, 9999.99), f64),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": pa.array(
                    [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))],
                    s,
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
                "p_type": pa.array(_pick(rng, PART_TYPES, n_part), s),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, f64),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": pa.array(_pick(rng, ("F", "O", "P"), n_ord), s),
                "o_totalprice": pa.array(_cents(rng, n_ord, 1000, 500000), f64),
                "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), ts),
                "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), s),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
                "l_extendedprice": pa.array(_cents(rng, n_li, 900, 105000), f64),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
                "l_returnflag": pa.array(_pick(rng, ("A", "N", "R"), n_li), s),
                "l_linestatus": pa.array(_pick(rng, ("F", "O"), n_li), s),
                "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"), ts),
            }
        ),
    }
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), ts),
            "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), i64),
            "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), s),
            "value": pa.array(np.round(rng.gamma(2.0, 30.0, n_ev), 2), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
        }
    )
    tables["documents"] = make_documents(rng, n_doc)
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return tables


def ensure_dataset(root: str, scale: Scale) -> str:
    """Write the tables under ``root/<scale>`` once and return that
    directory. Written to a sibling temp directory first and renamed,
    so an interrupted build never leaves a half-written dataset."""
    out = os.path.join(root, scale.name)
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
