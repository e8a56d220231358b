"""Seeded input generators: the only thing a workload seed controls.

Every generator is a pure function of its seed (``random.Random``, no
global state), so the same seed yields byte-identical inputs and the
program under test sees only the generated SQL texts, document batches
and query terms.
"""

from __future__ import annotations

import random

from datagen import DUP_WORD, PART_TYPES, PRIORITIES, REGIONS, SEGMENTS, VOCAB

# Exact-arithmetic building blocks: every aggregate is over integer
# cents or integer-valued doubles, so Spark and DuckDB agree bit for
# bit regardless of summation order.
CENTS = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
REV = f"({CENTS} * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))"


def _day(rng: random.Random, lo_year: int = 1995, hi_year: int = 2001) -> str:
    return f"{rng.randint(lo_year, hi_year)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _window(rng: random.Random) -> tuple[str, str]:
    y, m = rng.randint(1995, 2000), rng.randint(1, 12)
    months = rng.randint(3, 18)
    y2, m2 = y + (m - 1 + months) // 12, (m - 1 + months) % 12 + 1
    return f"{y}-{m:02d}-01", f"{y2}-{m2:02d}-01"


def _pricing(rng):
    return f"""SELECT l_returnflag, l_linestatus,
  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
  CAST(SUM({CENTS}) AS BIGINT) AS sum_cents,
  AVG(l_quantity) AS avg_qty,
  COUNT(*) AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_day(rng)}' AND l_quantity >= {rng.randint(1, 40)}
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""


def _region_revenue(rng):
    lo, hi = _window(rng)
    return f"""SELECT n_name, CAST(SUM({REV}) AS BIGINT) AS revenue, COUNT(*) AS n
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{rng.choice(REGIONS)}'
  AND o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}'
GROUP BY n_name
ORDER BY revenue DESC, n_name"""


def _brand_mix(rng):
    lo = rng.randint(1, 40)
    return f"""SELECT p_type, COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS qty,
  AVG(l_quantity) AS avg_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#{rng.randint(1, 25)}' AND p_size BETWEEN {lo} AND {lo + rng.randint(3, 10)}
GROUP BY p_type
ORDER BY n DESC, p_type"""


def _priority_count(rng):
    return f"""SELECT o_orderpriority, COUNT(*) AS n,
  AVG(CAST(ROUND(o_totalprice * 100) AS DOUBLE)) AS avg_cents
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{rng.choice(SEGMENTS)}' AND o_orderdate < TIMESTAMP '{_day(rng, 1996, 2001)}'
GROUP BY o_orderpriority
ORDER BY o_orderpriority"""


def _top_orders(rng):
    lo, hi = _window(rng)
    return f"""SELECT l_orderkey, CAST(SUM({REV}) AS BIGINT) AS revenue, COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{rng.choice(SEGMENTS)}'
  AND o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}'
  AND o_orderpriority = '{rng.choice(PRIORITIES)}'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey
LIMIT {rng.choice((5, 10, 20, 50))}"""


def _top_suppliers(rng):
    lo, hi = _window(rng)
    return f"""SELECT s_name, n_name, CAST(SUM({REV}) AS BIGINT) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_regionkey = {rng.randint(0, 4)}
  AND l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'
GROUP BY s_name, n_name
ORDER BY revenue DESC, s_name
LIMIT {rng.choice((10, 25, 100))}"""


def _type_by_year(rng):
    return f"""SELECT YEAR(l_shipdate) AS yr, COUNT(*) AS n,
  CAST(SUM({CENTS}) AS BIGINT) AS sum_cents, AVG(l_quantity) AS avg_qty
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE p_type = '{rng.choice(PART_TYPES)}' AND s_nationkey = {rng.randint(0, 24)}
  AND l_discount >= {rng.randint(0, 8) / 100:.2f}
GROUP BY YEAR(l_shipdate)
ORDER BY yr"""


SQL_TEMPLATES = (
    _pricing,
    _region_revenue,
    _brand_mix,
    _priority_count,
    _top_orders,
    _top_suppliers,
    _type_by_year,
)


def sql_texts(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` (template, SQL) ad-hoc queries with fresh literals each, so consecutive ops
    share little work. Templates come in seeded-order blocks of one
    each, so every seed runs the same template mix."""
    rng = random.Random(f"sql:{seed}")
    out: list[tuple[str, str]] = []
    while len(out) < n:
        block = list(SQL_TEMPLATES)
        rng.shuffle(block)
        out.extend((t.__name__.lstrip("_"), t(rng)) for t in block)
    return out[:n]


def pass_order(seed: int, names: list[str], n_pass: int) -> list[str]:
    """The registry builders in a seeded order for pass ``n_pass``."""
    order = sorted(names)
    random.Random(f"pass:{seed}:{n_pass}").shuffle(order)
    return order


def base_doc_ids(seed: int, n_docs: int, share: float = 0.8) -> list[int]:
    """The seeded subset of ``documents`` the base index is built over."""
    rng = random.Random(f"base:{seed}")
    return sorted(rng.sample(range(n_docs), int(n_docs * share)))


def doc_batch(seed: int, batch: int, first_id: int, size: int) -> list[tuple[int, str]]:
    """Synthetic documents (doc_id, text) for append ``batch``: ids
    continue after ``first_id``, words come from the corpus vocabulary,
    and one document in eight carries the rare ``dup`` term."""
    rng = random.Random(f"docs:{seed}:{batch}")
    out = []
    for i in range(size):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        if rng.random() < 0.125:
            words.append(DUP_WORD)
        out.append((first_id + i, " ".join(words)))
    return out


def query_terms(seed: int, n: int) -> list[list[str]]:
    """``n`` queries of distinct vocabulary terms. The shape is fixed by
    position -- query i has 1 + i % 3 terms, and every sixth query leads
    with the rare ``dup`` term -- so every seed has the same mix of
    selectivities and only the words change."""
    rng = random.Random(f"terms:{seed}")
    out = []
    for i in range(n):
        terms = rng.sample(VOCAB, 1 + i % 3)
        if i % 6 == 5:
            terms[0] = DUP_WORD
        out.append(terms)
    return out
