"""Beyond-reference SQL surface (SURVEY.md §2.3 — everything the
reference lacks, supplied by built-in Spark SQL).

Each category in the §2.3 checklist gets at least one oracle-checked
query. The reference parses only inner-equi joins (reference
src/parser/parser.cpp:119-134), drops HAVING silently
(planner.cpp:108-165), and has zero scalar functions
(expression.cpp:202-203) — everything here is Spark built-in, fully
Catalyst-optimized, no custom code.

Oracle-alignment conventions (on top of the package docstring's rules):
- DuckDB SUM(BIGINT) returns HUGEINT -> oracle casts integer sums to
  BIGINT explicitly.
- Transcendental functions (ln/exp/pow) are NOT bit-identical across
  libms -> rounded to 6 decimals on both sides. sqrt/abs/ceil/floor are
  IEEE-exact -> no rounding.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bo_sql_spark.catalog import load_tables
from bo_sql_spark.queries import register
from bo_sql_spark.scratch import scratch_dir


def _t(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir)


# ---------------------------------------------------------------- joins
@register(
    "join_left_outer",
    oracle="""
    SELECT o_orderkey, o_totalprice, c.c_name
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
      ON o.o_custkey = c.c_custkey
    WHERE o_orderkey <= 1000
    """,
    doc="LEFT OUTER join with NULL-producing right side (dim filtered to "
    "high-balance customers). Broadcast-able: outer side streams.",
    tags=("extended", "join"),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    rich = t["customer"].filter(F.col("c_acctbal") > 5000)
    return (
        t["orders"]
        .filter(F.col("o_orderkey") <= 1000)
        .join(F.broadcast(rich), F.col("o_custkey") == F.col("c_custkey"), "left")
        .select("o_orderkey", "o_totalprice", "c_name")
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
    doc="LEFT SEMI join (EXISTS). Spark dedups the build side; no row "
    "multiplication, output <= left cardinality.",
    tags=("extended", "join"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    big = t["orders"].filter(F.col("o_totalprice") > 200000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="LEFT ANTI join (NOT EXISTS): customers with no orders.",
    tags=("extended", "join"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT n.n_name, c.cnt
    FROM nation n
    FULL OUTER JOIN (
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer WHERE c_acctbal > 7000 GROUP BY c_nationkey
    ) c ON n.n_nationkey = c.c_nationkey
    """,
    doc="FULL OUTER join: nations with no rich customers get NULL counts.",
    tags=("extended", "join"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    counts = (
        t["customer"]
        .filter(F.col("c_acctbal") > 7000)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        t["nation"]
        .join(counts, F.col("n_nationkey") == F.col("c_nationkey"), "full_outer")
        .select("n_name", "cnt")
    )


@register(
    "join_cross",
    oracle="""
    SELECT r_name, s.o_orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    doc="CROSS join of two tiny relations (5 x |statuses|). At scale, "
    "cross joins are only ever sane on small inputs — Spark broadcasts "
    "the smaller side (BroadcastNestedLoopJoin).",
    tags=("extended", "join"),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    statuses = t["orders"].select("o_orderstatus").distinct()
    return t["region"].crossJoin(F.broadcast(statuses)).select("r_name", "o_orderstatus")


@register(
    "join_theta_band",
    oracle="""
    SELECT a.s_suppkey AS low_supp, b.s_suppkey AS high_supp,
           ROUND(b.s_acctbal - a.s_acctbal, 2) AS bal_gap
    FROM supplier a JOIN supplier b
      ON a.s_acctbal < b.s_acctbal AND b.s_acctbal - a.s_acctbal < 1000
    """,
    doc="Theta (non-equi band) self-join. The reference silently turns "
    "non-equi ON into a cross product (planner.cpp:74-81); Spark "
    "evaluates the real predicate (BroadcastNestedLoopJoin here; at "
    "scale you'd bucket the band — see operators.asof for the pattern).",
    tags=("extended", "join"),
)
def join_theta_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    a = t["supplier"].alias("a")
    b = t["supplier"].alias("b")
    return a.join(
        b,
        (F.col("a.s_acctbal") < F.col("b.s_acctbal"))
        & (F.col("b.s_acctbal") - F.col("a.s_acctbal") < 1000),
    ).select(
        F.col("a.s_suppkey").alias("low_supp"),
        F.col("b.s_suppkey").alias("high_supp"),
        F.round(F.col("b.s_acctbal") - F.col("a.s_acctbal"), 2).alias("bal_gap"),
    )


@register(
    "multi_join_chain",
    oracle="""
    SELECT s_name, n_name, r_name, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE s_acctbal > 0
    """,
    doc="Chained multi-join (the reference's planner TODO, "
    "planner.cpp:66-69). Catalyst collapses to two broadcast joins.",
    tags=("extended", "join"),
)
def multi_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["supplier"]
        .filter(F.col("s_acctbal") > 0)
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_name", "n_name", "r_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


# ------------------------------------------------- grouping extensions
@register(
    "having_filter",
    oracle="""
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_spent_cents
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 3
       AND SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) > 30000000
    """,
    doc="HAVING over grouped aggregates — parsed-but-dropped in the "
    "reference (SURVEY §4.3 #6); real filter-above-aggregate here. The "
    "HAVING threshold compares integer cents so the row-inclusion cut "
    "itself is float-order-independent, not just the emitted value.",
    tags=("extended", "aggregate"),
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "total_spent_cents"
            ),
        )
        .filter((F.col("n_orders") >= 3) & (F.col("total_spent_cents") > 30_000_000))
    )


@register(
    "distinct_select",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="SELECT DISTINCT — hash aggregate w/ map-side partial dedup.",
    tags=("extended",),
)
def distinct_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return t["lineitem"].select("l_returnflag", "l_linestatus").distinct()


@register(
    "rollup_agg",
    oracle="""
    SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="ROLLUP: hierarchical subtotals (region, region+nation, grand "
    "total). Spark expands grouping sets before the shuffle.",
    tags=("extended", "aggregate"),
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "cube_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE: all grouping-set combinations of the two keys.",
    tags=("extended", "aggregate"),
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["lineitem"]
        .cube("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "grouping_sets_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS (neither pure rollup nor cube): "
    "per-flag, per-status, and grand total in one pass.",
    tags=("extended", "aggregate"),
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    _ = t
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "count_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Exact COUNT DISTINCT — Spark rewrites to a two-phase expand+agg.",
    tags=("extended", "aggregate"),
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.count_distinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_ACD_P = 9
_ACD_M = 1 << _ACD_P
_ACD_NUMER = round(0.7213 / (1 + 1.079 / _ACD_M) * 1e6) * _ACD_M * _ACD_M * (1 << 33)


def _acd_est_sql(col: str) -> str:
    """Scalar subquery replaying the portable-HLL estimate for one
    column (same chain the sketch_hll_* family oracles use)."""
    return f"""(
        WITH keyed AS (
            SELECT CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15))
                        AS BIGINT) AS h
            FROM lineitem WHERE {col} IS NOT NULL
        ), reg AS (
            SELECT h % {_ACD_M} AS bucket,
                   MAX(33 - length(ltrim(bin((h // {_ACD_M}) % 4294967296),
                                         '0'))) AS M
            FROM keyed GROUP BY h % {_ACD_M}
        ), s AS (
            SELECT SUM(CAST(1 AS BIGINT) << (33 - M))
                       + ({_ACD_M} - COUNT(*)) * 8589934592 AS t
            FROM reg
        )
        SELECT CAST(CAST('{_ACD_NUMER}' AS HUGEINT) // (t * 1000000)
                    AS BIGINT)
        FROM s)"""


@register(
    "approx_count_distinct",
    oracle=f"""
    SELECT {_acd_est_sql("l_orderkey")} AS approx_orders,
           {_acd_est_sql("l_orderkey * 10 + l_linenumber")} AS approx_lineids
    """,
    doc="Approximate NDV, the 100 TB answer to COUNT(DISTINCT): one "
    "O(m)-memory mergeable sketch pass instead of shuffling the key "
    "space. This panel row runs the PORTABLE HyperLogLog "
    "(operators/heavy_hitters.py:hll_distinct, m=512) on two columns "
    "so the oracle replays the estimates EXACTLY — Spark's native "
    "approx_count_distinct (HLL++) computes the same thing with an "
    "engine-private sketch that no cross-engine oracle can replay by "
    "design; it stays demonstrated as approx_count_distinct_native "
    "(rows-only). Same plan shape for both: map-combinable register "
    "groupBy, <= m rows per task at any corpus size. Columns: order "
    "NDV and line-id NDV — both in the raw regime (n >= 2.5m) at "
    "every test SF; l_partkey's 200 distinct at sf0.001 sits in the "
    "small-range regime where the PORTABLE estimator is biased by "
    "design (linear counting needs ln(), which is not bit-portable).",
    tags=("extended", "aggregate", "approx", "sketch"),
)
def approx_count_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bo_sql_spark.operators import heavy_hitters as HH

    t = _t(spark, sf_dir)
    li = t["lineitem"]
    e1 = HH.hll_distinct(li, "l_orderkey", p=_ACD_P).select(
        F.col("hll_estimate").alias("approx_orders")
    )
    e2 = HH.hll_distinct(
        li.withColumn("_lineid", F.expr("l_orderkey * 10 + l_linenumber")),
        "_lineid",
        p=_ACD_P,
    ).select(F.col("hll_estimate").alias("approx_lineids"))
    return e1.crossJoin(e2)


@register(
    "approx_count_distinct_native",
    oracle=None,  # HLL++ sketch is engine-private by design; the
    # oracle-replayable portable twin is approx_count_distinct above
    doc="Spark's native approx_count_distinct (HyperLogLog++) on the "
    "same two columns. Rows-only: the HLL++ sketch's exact estimates "
    "are engine-private; estimate parity with the portable sketch is "
    "unit-asserted within the published error bound "
    "(tests/test_operators.py::test_native_and_portable_hll_agree).",
    tags=("extended", "aggregate", "approx"),
)
def approx_count_distinct_native_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return t["lineitem"].agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct(
            F.expr("l_orderkey * 10 + l_linenumber")
        ).alias("approx_lineids"),
    )


_PCTL_ACC = 10_000_000  # >> any test-SF row count => GK sketch is EXACT


@register(
    "percentile_approx",
    oracle="""
    WITH s AS (
        SELECT l_extendedprice AS x,
               row_number() OVER (ORDER BY l_extendedprice) AS rnk,
               COUNT(*) OVER () AS n
        FROM lineitem
    )
    SELECT max(CASE WHEN rnk = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT))
                    THEN x END) AS p50,
           max(CASE WHEN rnk = GREATEST(1, CAST(CEIL(0.95 * n) AS BIGINT))
                    THEN x END) AS p95
    FROM s
    """,
    doc="approx_percentile via the GK QuantileSummaries sketch — "
    "mergeable across partitions, O(accuracy) memory at any scale. "
    "Registered with accuracy >> n so the sketch DEGENERATES to the "
    "exact discrete percentile (it keeps every sample; targetError "
    "= n/accuracy < 0.5 pins the query to rank ceil(q*n), measured "
    "identical at sf0.001/0.01/0.1) and the oracle can replay the "
    "selection as an explicit rank pick. With accuracy <= n the "
    "returned element is sketch-specific and no cross-engine oracle "
    "exists (that regime is what approx_count_distinct documents). "
    "At 100 TB use the default accuracy=10000: bounded-memory "
    "mergeable summaries are the point of the operator.",
    tags=("extended", "aggregate", "approx"),
)
def percentile_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return t["lineitem"].agg(
        F.percentile_approx("l_extendedprice", 0.5, _PCTL_ACC).alias("p50"),
        F.percentile_approx("l_extendedprice", 0.95, _PCTL_ACC).alias("p95"),
    )


# ------------------------------------------------------------- windows
@register(
    "window_topn_per_group",
    oracle="""
    SELECT c_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total_price, rn
    FROM (
        SELECT c_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 2
    """,
    doc="Top-N per group via ROW_NUMBER. Spark 3.5+ inserts a "
    "WindowGroupLimit below the shuffle: each map task pre-trims to N "
    "per key, so the shuffle carries ~2|keys| rows — the pattern that "
    "keeps per-group top-k viable at 100 TB.",
    tags=("extended", "window"),
)
def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 2)
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "rn",
        )
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_total_cents
    FROM orders
    """,
    doc="Running total per customer (cumulative frame), summed as integer "
    "cents: window-aggregate internals differ across engines (DuckDB "
    "evaluates windowed sums with a segment tree, not sequentially), so "
    "exact longs are the only order-proof representation.",
    tags=("extended", "window"),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents).over(w).alias("running_total_cents"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(o_totalprice, 2) AS total_price,
           ROUND(LAG(o_totalprice)  OVER w, 2) AS prev_price,
           ROUND(LEAD(o_totalprice) OVER w, 2) AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="LAG/LEAD neighbor access within an ordered partition.",
    tags=("extended", "window"),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
    )


@register(
    "window_rank_dense",
    oracle="""
    SELECT n_name,
           CAST(RANK() OVER (ORDER BY cnt DESC, n_name) AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER (ORDER BY cnt DESC, n_name) AS BIGINT) AS drnk,
           cnt
    FROM (
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    )
    """,
    doc="RANK/DENSE_RANK over an aggregated input (global window — fine "
    "on grouped data, never on a raw fact table).",
    tags=("extended", "window"),
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    counts = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), "n_name")
    return counts.select(
        "n_name",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        "cnt",
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER (
               PARTITION BY o_custkey
               ORDER BY epoch(o_orderdate)
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS BIGINT) AS spend_30d_cents
    FROM orders
    """,
    doc="RANGE frame (value-based window): trailing-30-day spend per "
    "customer — peers at the same timestamp aggregate together, unlike "
    "a ROWS frame. Integer cents keep the sliding sum exact under either "
    "engine's frame-evaluation order.",
    tags=("extended", "window"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2592000, 0)
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents).over(w).alias("spend_30d_cents"),
    )


@register(
    "window_distribution",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(NTILE(4) OVER w AS BIGINT)      AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6)      AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6)         AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    doc="Distribution window functions (NTILE/PERCENT_RANK/CUME_DIST) "
    "per market segment, fully tie-broken for determinism.",
    tags=("extended", "window"),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return t["customer"].select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# -------------------------------------------------------------- set ops
@register(
    "set_union_all",
    oracle="""
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer WHERE c_acctbal > 9000
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier WHERE s_acctbal > 9000
    """,
    doc="UNION ALL — no dedup shuffle, pure concatenation of partitions.",
    tags=("extended", "setops"),
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    c = (
        t["customer"]
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side"))
    )
    s = (
        t["supplier"]
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side"))
    )
    return c.unionAll(s)


@register(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="INTERSECT (distinct) — nations having both customers and suppliers.",
    tags=("extended", "setops"),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    c = t["customer"].select(F.col("c_nationkey").alias("nationkey"))
    s = t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "set_except",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 1000
    """,
    doc="EXCEPT (distinct) — ordering customers whose balance is <= 1000 "
    "(non-empty at every SF, unlike a nation-level EXCEPT).",
    tags=("extended", "setops"),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    o = t["orders"].select(F.col("o_custkey").alias("custkey"))
    c = (
        t["customer"]
        .filter(F.col("c_acctbal") > 1000)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return o.subtract(c)


@register(
    "set_intersect_all",
    oracle="""
    SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 45
    INTERSECT ALL
    SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="INTERSECT ALL — multiplicity-preserving set op (min of the two "
    "multiplicities per value).",
    tags=("extended", "setops"),
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    a = t["lineitem"].filter(F.col("l_quantity") > 45).select(F.col("l_suppkey").alias("k"))
    b = t["lineitem"].filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("k"))
    return a.intersectAll(b)


@register(
    "set_except_all",
    oracle="""
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="EXCEPT ALL — bag difference (multiplicities subtract).",
    tags=("extended", "setops"),
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    a = t["orders"].filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    b = t["orders"].filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    return a.exceptAll(b)


@register(
    "window_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price,
           ROUND(LAST_VALUE(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="FIRST_VALUE/LAST_VALUE — LAST over the full-partition frame "
    "(the default running frame would return the current row).",
    tags=("extended", "window"),
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(w_full), 2).alias("last_price"),
    )


@register(
    "null_safe_equality",
    oracle="""
    SELECT a.l_orderkey, a.l_linenumber,
           CAST(NULLIF(a.l_discount, 0.0) IS NOT DISTINCT FROM NULLIF(a.l_tax, 0.0) AS BIGINT) AS same_rate
    FROM lineitem a WHERE a.l_orderkey <= 300
    """,
    doc="Null-safe equality (<=> / IS NOT DISTINCT FROM): NULL <=> NULL "
    "is TRUE — the 2-valued comparison 3-valued logic can't spell.",
    tags=("extended", "functions"),
)
def null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_orderkey") <= 300)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_discount"), F.lit(0.0))
        .eqNullSafe(F.nullif(F.col("l_tax"), F.lit(0.0)))
        .cast("long")
        .alias("same_rate"),
    )


@register(
    "explode_tokens",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents WHERE doc_id < 20
    ), p AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks))) AS g
        FROM t
    )
    SELECT doc_id, CAST(g - 1 AS INT) AS pos, toks[g] AS tok FROM p
    """,
    doc="LATERAL explode with position (posexplode / UNNEST WITH "
    "ORDINALITY) — the row-generating table function.",
    tags=("extended", "functions"),
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 20)
    toks = F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    return docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))


# ------------------------------------------------- subqueries and CTEs
@register(
    "subquery_in",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    """,
    doc="IN subquery — Catalyst rewrites to a left-semi join.",
    tags=("extended", "subquery"),
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    _ = t  # views registered
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        """
    )


@register(
    "subquery_scalar",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    WHERE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
          > 1.5 * (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
                          / COUNT(*) FROM orders)
    """,
    doc="Scalar subquery in WHERE — one tiny agg job feeds a pushed "
    "filter. The threshold compares exact per-row cents against "
    "1.5 x (exact cent sum / count): every operand is an integer or a "
    "deterministic function of integers, so the row cut cannot move "
    "with float summation order.",
    tags=("extended", "subquery"),
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    _ = t
    return spark.sql(
        """
        SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price
        FROM orders
        WHERE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
              > 1.5 * (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
                              / COUNT(*) FROM orders)
        """
    )


@register(
    "cte_query",
    oracle="""
    WITH nation_sales AS (
        SELECT n_name,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sales_cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT n_name, sales_cents FROM nation_sales WHERE sales_cents > 100000000
    """,
    doc="CTE (WITH) — full Spark SQL support; the reference has none "
    "(non-goal, reference README.md:16). Sales in integer cents; the "
    "CTE-consumer filter cuts on the exact value.",
    tags=("extended", "subquery"),
)
def cte_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    _ = t
    return spark.sql(
        """
        WITH nation_sales AS (
            SELECT n_name,
                   SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS sales_cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT n_name, sales_cents FROM nation_sales WHERE sales_cents > 100000000
        """
    )


# ------------------------------------------------------ scalar functions
@register(
    "string_funcs",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name)                       AS upper_name,
           LOWER(c_mktsegment)                 AS lower_seg,
           CAST(LENGTH(c_name) AS BIGINT)      AS name_len,
           SUBSTRING(c_name, 1, 8)             AS name_prefix,
           c_name || '/' || c_mktsegment       AS name_seg,
           REPLACE(c_name, 'Customer', 'Cust') AS short_name,
           TRIM('  pad  ')                     AS trimmed
    FROM customer
    WHERE c_name LIKE '%1%'
    """,
    doc="String function library (reference has ZERO scalar functions, "
    "expression.cpp:202-203): UPPER/LOWER/LENGTH/SUBSTRING/CONCAT/"
    "REPLACE/TRIM/LIKE.",
    tags=("extended", "functions"),
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["customer"]
        .filter(F.col("c_name").like("%1%"))
        .select(
            "c_custkey",
            F.upper("c_name").alias("upper_name"),
            F.lower("c_mktsegment").alias("lower_seg"),
            F.length("c_name").cast("long").alias("name_len"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.concat(F.col("c_name"), F.lit("/"), F.col("c_mktsegment")).alias("name_seg"),
            F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("short_name"),
            F.trim(F.lit("  pad  ")).alias("trimmed"),
        )
    )


@register(
    "date_funcs",
    oracle="""
    SELECT CAST(YEAR(o_orderdate) AS BIGINT)  AS yr,
           CAST(MONTH(o_orderdate) AS BIGINT) AS mth,
           CAST(COUNT(*) AS BIGINT)           AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY yr, mth
    """,
    doc="Date extraction + grouping by calendar month; revenue as exact "
    "integer cents (ROADMAP #8).",
    tags=("extended", "functions"),
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mth"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "revenue_cents"
            ),
        )
    )


@register(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_extendedprice - 30000)          AS abs_dev,
           CAST(CEIL(l_discount * 100) AS BIGINT)  AS disc_pct_ceil,
           CAST(FLOOR(l_quantity / 7) AS BIGINT)   AS qty_bucket,
           SQRT(l_extendedprice)                 AS sqrt_price,
           ROUND(LN(l_extendedprice), 6)         AS ln_price
    FROM lineitem
    WHERE l_orderkey <= 500
    """,
    doc="Math functions. sqrt/abs are IEEE-exact cross-engine; LN is "
    "libm-dependent so rounded to 6dp on both sides.",
    tags=("extended", "functions"),
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_orderkey") <= 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 30000).alias("abs_dev"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.floor(F.col("l_quantity") / 7).alias("qty_bucket"),
        F.sqrt("l_extendedprice").alias("sqrt_price"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
    )


@register(
    "null_handling",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           COALESCE(NULLIF(l_discount, 0.0), -1.0) AS disc_or_flag,
           CASE WHEN NULLIF(l_tax, 0.0) IS NULL THEN 'no_tax' ELSE 'taxed' END AS tax_flag
    FROM lineitem
    WHERE l_orderkey <= 500
    """,
    doc="NULLIF/COALESCE/IS NULL — 3-valued logic the reference lacks "
    "entirely (no NULLs anywhere, SURVEY §1.2).",
    tags=("extended", "functions"),
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_orderkey") <= 500)
    disc_null = F.nullif(F.col("l_discount"), F.lit(0.0))
    tax_null = F.nullif(F.col("l_tax"), F.lit(0.0))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(disc_null, F.lit(-1.0)).alias("disc_or_flag"),
        F.when(tax_null.isNull(), "no_tax").otherwise("taxed").alias("tax_flag"),
    )


@register(
    "tpch_q6_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100, 0) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape (pure filter + global agg): the canonical "
    "predicate-pushdown benchmark — every predicate reaches the parquet "
    "row-group statistics; zero shuffle beyond the 1-row final agg.",
    tags=("extended", "tpch"),
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.03, 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_discount") * 100, 0).cast(
                    "long"
                )
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q14_promo",
    oracle="""
    SELECT ROUND(
               100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0.0 END)
               / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-07-01'
    """,
    doc="TPC-H Q14 shape (promo revenue share): broadcast dim join + "
    "conditional aggregation in one pass.",
    tags=("extended", "tpch"),
)
def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0)
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-07-01")
        )
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(disc_price), 4).alias("promo_share")
        )
    )


@register(
    "tpch_q18_big_orders",
    oracle="""
    SELECT c_name, o_orderkey,
           ROUND(o_totalprice, 2) AS total_price,
           SUM(l_quantity)        AS total_qty
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_name, o_orderkey, o_totalprice
    HAVING SUM(l_quantity) > 180
    """,
    doc="TPC-H Q18 shape (large-volume orders): group at order grain "
    "across a 3-way join, HAVING on the grouped sum. Catalyst pushes "
    "the lineitem-side partial agg below the join via AQE.",
    tags=("extended", "tpch"),
)
def tpch_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 180)
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "total_qty",
        )
    )


@register(
    "tpch_q4_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_quantity > 48
      )
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (order priority checking): date-windowed orders "
    "semi-joined on an EXISTS correlated subquery, counted by priority.",
    tags=("extended", "tpch"),
)
def tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    big_items = t["lineitem"].filter(F.col("l_quantity") > 48)
    return (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
        )
        .join(big_items, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q10_returns",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned-item reporting): revenue lost to "
    "returns per customer, top 20 — 3-way join + agg + top-k. Exact "
    "cents keep both the hash and the top-20 cut order-independent.",
    tags=("extended", "tpch"),
)
def tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    rev = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
            "long"
        )
    )
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(
            t["lineitem"].filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rev.alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue_cents", "n_name")
    )


@register(
    "tpch_q13_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape (customer order distribution): double "
    "aggregation with zero-order customers preserved via the LEFT join "
    "(COUNT(col) skips the NULLs).",
    tags=("extended", "tpch"),
)
def tpch_q13_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    per_cust = (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q22_dormant",
    oracle="""
    SELECT substring(c_name, 10, 2) AS code,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS total_bal_cents
    FROM customer
    WHERE CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
          > (SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
                    / COUNT(*) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY code
    """,
    doc="TPC-H Q22 shape (dormant high-balance customers): uncorrelated "
    "scalar subquery threshold + anti join + group by a derived code. "
    "Balance threshold and total are exact cents (float-order-proof).",
    tags=("extended", "tpch"),
)
def tpch_q22_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    _ = t
    return spark.sql(
        """
        SELECT substring(c_name, 10, 2) AS code,
               CAST(COUNT(*) AS BIGINT) AS n_custs,
               SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS total_bal_cents
        FROM customer
        WHERE CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
              > (SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
                        / COUNT(*) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY code
        """
    )


@register(
    "try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(CAST(l_quantity AS BIGINT) % 7, 0) AS per_bucket,
           COALESCE(l_extendedprice / NULLIF(CAST(l_quantity AS BIGINT) % 7, 0), -1.0) AS per_bucket_filled
    FROM lineitem WHERE l_orderkey <= 300
    """,
    doc="NULL-propagating division by a sometimes-zero denominator "
    "(try_divide / NULLIF guard) — ANSI mode makes raw x/0 an error; "
    "this is the standard-safe spelling on both engines.",
    tags=("extended", "functions"),
)
def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_orderkey") <= 300)
    denom = F.nullif(F.col("l_quantity").cast("long") % 7, F.lit(0))
    per_bucket = F.col("l_extendedprice") / denom
    return li.select(
        "l_orderkey",
        "l_linenumber",
        per_bucket.alias("per_bucket"),
        F.coalesce(per_bucket, F.lit(-1.0)).alias("per_bucket_filled"),
    )


@register(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(MIN(epoch(date_trunc('month', ts))) AS BIGINT) AS cohort_month
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id,
               CAST(epoch(date_trunc('month', ts)) AS BIGINT) AS active_month
        FROM events
    )
    SELECT f.cohort_month, a.active_month,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM firsts f JOIN activity a USING (user_id)
    GROUP BY f.cohort_month, a.active_month
    """,
    doc="Cohort retention matrix over events: first-seen month x active "
    "month -> distinct users. Two aggregations + a key join — the "
    "everyday product-analytics shape.",
    tags=("extended", "events"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    ev = t["events"]
    month = F.unix_timestamp(F.date_trunc("month", F.col("ts"))).alias("m")
    firsts = ev.select("user_id", month).groupBy("user_id").agg(
        F.min("m").alias("cohort_month")
    )
    activity = ev.select("user_id", month.alias("active_month")).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy("cohort_month", "active_month")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "regex_funcs",
    oracle="""
    SELECT c_custkey,
           CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num,
           regexp_replace(c_name, '[0-9]+', '#', 'g')            AS name_masked,
           CAST(regexp_matches(c_mktsegment, '^B') AS BIGINT)    AS seg_starts_b
    FROM customer
    WHERE regexp_matches(c_name, '00[0-9]$')
    """,
    doc="Regex functions (extract/replace/match) — portable pattern "
    "subset so Java regex and RE2 agree.",
    tags=("extended", "functions"),
)
def regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["customer"]
        .filter(F.col("c_name").rlike("00[0-9]$"))
        .select(
            "c_custkey",
            F.regexp_extract("c_name", "([0-9]+)", 1).cast("long").alias("name_num"),
            F.regexp_replace("c_name", "[0-9]+", "#").alias("name_masked"),
            F.col("c_mktsegment").rlike("^B").cast("long").alias("seg_starts_b"),
        )
    )


@register(
    "array_agg_sorted",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Ordered string/array aggregation per group (collect_list -> "
    "array_sort -> join, the deterministic form of list aggregation).",
    tags=("extended", "aggregate"),
)
def array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["nation"]
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "pivot_status_counts",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="PIVOT (long->wide counts per status). Spark pivot with an "
    "explicit value list — one pass, no per-value scans.",
    tags=("extended", "aggregate"),
)
def pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    wide = (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return wide.select(
        "c_mktsegment",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


@register(
    "stats_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 4)      AS qty_price_corr,
           ROUND(stddev_samp(l_extendedprice), 2)           AS price_sd,
           ROUND(var_samp(l_quantity), 4)                   AS qty_var,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_cov
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Statistical aggregates (corr/stddev/var/covar) per group — "
    "single-pass mergeable moments, rounded for cross-engine float "
    "accumulation order.",
    tags=("extended", "aggregate"),
)
def stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_sd"),
            F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "qty_price_cov"
            ),
        )
    )


@register(
    "filtered_agg",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
               FILTER (WHERE o_totalprice > 100000) AS BIGINT)               AS big_rev_cents,
           CAST(COUNT(*) FILTER (WHERE o_totalprice <= 100000) AS BIGINT)   AS n_small,
           CAST(COUNT(*) AS BIGINT)                                         AS n_all
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="FILTER clause on aggregates (SQL:2003) — conditional "
    "aggregation without CASE scaffolding; one pass.",
    tags=("extended", "aggregate"),
)
def filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    _ = t
    return spark.sql(
        """
        SELECT o_orderstatus,
               SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                   FILTER (WHERE o_totalprice > 100000)                          AS big_rev_cents,
               CAST(COUNT(*) FILTER (WHERE o_totalprice <= 100000) AS BIGINT)   AS n_small,
               CAST(COUNT(*) AS BIGINT)                                         AS n_all
        FROM orders
        GROUP BY o_orderstatus
        """
    )


@register(
    "histogram_width_bucket",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 400000 THEN 21
                ELSE CAST(FLOOR(o_totalprice / 20000) + 1 AS BIGINT) END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY bucket
    """,
    doc="Equi-width histogram via width_bucket — the one-pass "
    "distribution sketch for dashboards.",
    tags=("extended", "aggregate"),
)
def histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["orders"]
        .groupBy(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(400000), F.lit(20))
            .cast("long")
            .alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "calendar_gap_fill",
    oracle="""
    WITH cal AS (
        SELECT CAST(strftime(DATE '1996-01-01' + CAST(d AS INTEGER), '%Y%m%d') AS BIGINT) AS order_day
        FROM (SELECT unnest(generate_series(0, 30)) AS d)
    ), daily AS (
        SELECT CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) AS order_day,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'
        GROUP BY order_day
    )
    SELECT cal.order_day, COALESCE(daily.n_orders, 0) AS n_orders
    FROM cal LEFT JOIN daily USING (order_day)
    """,
    doc="Time-series gap filling: generated calendar spine LEFT JOIN "
    "daily counts, zeros for silent days (sequence+explode in Spark, "
    "generate_series in the oracle).",
    tags=("extended", "events"),
)
def calendar_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    cal = spark.range(0, 31).select(
        F.date_format(
            F.date_add(F.lit("1996-01-01").cast("date"), F.col("id").cast("int")),
            "yyyyMMdd",
        )
        .cast("long")
        .alias("order_day")
    )
    daily = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-02-01")
        )
        .groupBy(
            F.date_format("o_orderdate", "yyyyMMdd").cast("long").alias("order_day")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return cal.join(daily, "order_day", "left").select(
        "order_day", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )


@register(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
    FROM lineitem WHERE l_orderkey <= 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey <= 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax
    FROM lineitem WHERE l_orderkey <= 200
    """,
    doc="UNPIVOT (wide->long) via stack(): three measure columns become "
    "(measure, value) rows — one pass, no join.",
    tags=("extended", "functions"),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(F.col("l_orderkey") <= 200)
        .selectExpr(
            "l_orderkey",
            "l_linenumber",
            "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) AS (measure, value)",
        )
    )


@register(
    "merge_upsert_emulation",
    oracle="""
    WITH changes AS (
        SELECT c_custkey, c_name, 'PREMIUM' AS c_mktsegment, ROUND(c_acctbal + 500.25, 2) AS c_acctbal
        FROM customer WHERE c_acctbal > 8000
    )
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM changes
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment, ROUND(c_acctbal, 2) AS c_acctbal
    FROM customer
    WHERE c_custkey NOT IN (SELECT c_custkey FROM changes)
    """,
    doc="MERGE/upsert emulation without a table format: changes UNION "
    "ALL (target ANTI JOIN changes) — the CDC-apply pattern; with Delta "
    "or Iceberg the same statement is a native MERGE INTO.",
    tags=("extended", "cdc"),
)
def merge_upsert_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    cust = t["customer"]
    changes = (
        cust.filter(F.col("c_acctbal") > 8000)
        .select(
            "c_custkey",
            "c_name",
            F.lit("PREMIUM").alias("c_mktsegment"),
            F.round(F.col("c_acctbal") + 500.25, 2).alias("c_acctbal"),
        )
    )
    untouched = cust.join(changes.select("c_custkey"), "c_custkey", "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    return changes.unionByName(untouched)


@register(
    "percentile_exact",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4)  AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4)  AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles per group (Spark percentile == "
    "SQL percentile_cont linear interpolation).",
    tags=("extended", "aggregate"),
)
def percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias(
                "median_price"
            ),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        )
    )


@register(
    "array_functions",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_sort(list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS toks
        FROM documents WHERE doc_id < 40
    )
    SELECT doc_id,
           CAST(len(toks) AS INT)                       AS n_distinct,
           array_to_string(toks[1:5], ',')              AS first5,
           CAST(list_contains(toks, 'data') AS BIGINT)  AS has_data,
           toks[1]                                      AS first_tok,
           toks[len(toks)]                              AS last_tok
    FROM t
    """,
    doc="Array function library: sort/distinct/slice/join/contains/"
    "element access over token arrays (Spark array_* == DuckDB list_*).",
    tags=("extended", "functions"),
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 40)
    toks = F.array_sort(
        F.array_distinct(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        )
    )
    d = docs.select("doc_id", toks.alias("toks"))
    return d.select(
        "doc_id",
        F.size("toks").alias("n_distinct"),
        # DuckDB list slicing toks[1:5] is INCLUSIVE -> 5 elements
        F.array_join(F.slice("toks", 1, 5), ",").alias("first5"),
        F.array_contains("toks", "data").cast("long").alias("has_data"),
        F.element_at("toks", 1).alias("first_tok"),
        F.element_at("toks", -1).alias("last_tok"),
    )


@register(
    "ratio_to_report",
    oracle="""
    WITH type_rev AS (
        SELECT p_type,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
                 AS rev_cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_type
    )
    SELECT p_type, rev_cents,
           ROUND(CAST(rev_cents AS DOUBLE) / CAST(SUM(rev_cents) OVER () AS BIGINT), 6) AS share
    FROM type_rev
    """,
    doc="Ratio-to-report: each part type's revenue share via a window "
    "over the aggregated (tiny) result — the window never sees the "
    "fact table. Revenue in exact cents; the share divides identical "
    "integers on both engines so the 6dp round can't straddle.",
    tags=("extended", "window", "aggregate"),
)
def ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    type_rev = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
                ).cast("long")
            ).alias("rev_cents")
        )
    )
    w = Window.partitionBy()
    return type_rev.select(
        "p_type",
        "rev_cents",
        F.round(
            F.col("rev_cents").cast("double") / F.sum("rev_cents").over(w), 6
        ).alias("share"),
    )


@register(
    "null_ordering",
    oracle="""
    SELECT o_orderkey, c.c_name
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 9000) c
      ON o.o_custkey = c.c_custkey
    WHERE o_orderkey <= 400
    ORDER BY c.c_name ASC NULLS FIRST, o_orderkey
    LIMIT 30
    """,
    doc="Explicit NULLS FIRST ordering — Spark defaults nulls-first on "
    "ASC, DuckDB nulls-last: unpinned null order is a silent "
    "cross-engine divergence, so the engine always spells it.",
    tags=("extended", "orderby"),
)
def null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    rich = t["customer"].filter(F.col("c_acctbal") > 9000)
    return (
        t["orders"]
        .filter(F.col("o_orderkey") <= 400)
        .join(F.broadcast(rich), F.col("o_custkey") == F.col("c_custkey"), "left")
        .orderBy(F.col("c_name").asc_nulls_first(), "o_orderkey")
        .limit(30)
        .select("o_orderkey", "c_name")
    )


@register(
    "approx_freq_items",
    oracle=None,  # KEPT ROWS-ONLY BY DESIGN (r13 triage): Spark's
    # freqItems sketch (lossy counting) has engine-private merge
    # internals and no DuckDB twin; exact frequency queries
    # (agg_pricing_summary-family GROUP BYs) are the graded ground
    # truth for the same columns
    doc="Approximate frequent items (freqItems, lossy-count style "
    "sketch) over order status+priority — rows-only check; kept as "
    "the native-sketch demo (exact GROUP BY twins are oracle-graded).",
    tags=("extended", "approx"),
)
def approx_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return t["orders"].stat.freqItems(["o_orderstatus", "o_orderpriority"], 0.2)


# ------------------------------------------------------- events (batch)
@register(
    "events_hourly",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2)     AS sum_value
    FROM events
    GROUP BY hour_start, event_type
    """,
    doc="Tumbling-hour aggregation over the events table (batch form; "
    "streaming twin in streaming_queries). Window starts emitted as "
    "epoch seconds so ns-vs-us timestamp precision never enters the hash.",
    tags=("extended", "events"),
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


_WPCT_QS = (250, 500, 750, 900, 990)


_WPCT_ORACLE = f"""
    WITH vg AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2
    ), cum AS (
        SELECT l_returnflag, v,
               CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS BIGINT) AS cw
        FROM vg
    ), tot AS (
        SELECT l_returnflag, CAST(SUM(w) AS BIGINT) AS tw FROM vg GROUP BY 1
    ), thr AS (
        SELECT l_returnflag, q, (q * tw + 999) // 1000 AS thr
        FROM tot, (SELECT unnest([{', '.join(str(q) for q in _WPCT_QS)}]) AS q)
    )
    SELECT t.l_returnflag,
           CAST(t.q AS BIGINT) AS q_permille,
           MIN(c.v) AS value
    FROM thr t JOIN cum c ON c.l_returnflag = t.l_returnflag AND c.cw >= t.thr
    GROUP BY t.l_returnflag, t.q
    """


@register(
    "percentile_weighted_exact",
    oracle=_WPCT_ORACLE,
    doc="EXACT weighted percentiles (operators/quantile_sketch.py:"
    "weighted_percentile_exact): per return flag, the "
    "quantity-weighted p25/p50/p75/p90/p99 of extended price in cents "
    "— each line item counts with weight = quantity, the question "
    "Spark's percentile/approx_percentile (row-weighted) cannot "
    "express without exploding rows by weight. Definition: smallest "
    "value whose cumulative weight reaches ceil(q*W/1000) (type-1 "
    "lower quantile generalized). Shape: one groupBy to VALUE grain, "
    "a cumulative window over the value-domain aggregate (the "
    "drift_emd ordinal-support precedent — rows = distinct values, "
    "never events), and a broadcast (group x qs) threshold join; "
    "all-integer, both engines replay every pick.",
    tags=("extended", "aggregate"),
)
def percentile_weighted_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bo_sql_spark.operators.quantile_sketch import weighted_percentile_exact

    li = _t(spark, sf_dir)["lineitem"].select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("value_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return weighted_percentile_exact(
        li, ["l_returnflag"], "value_cents", "qty", _WPCT_QS
    )


@register(
    "stream_percentile_weighted",
    oracle=_WPCT_ORACLE,
    doc="STREAMING weighted percentiles: each microbatch appends its "
    "(return flag, price-cents, summed quantity) VALUE-GRAIN counts "
    "to a store; serving sum-merges the stored rows back to value "
    "grain and runs the same cumulative-threshold fold as the batch "
    "query — weighted counts are the mergeable summary (sums of sums), "
    "so the served percentiles replay percentile_weighted_exact's "
    "oracle VERBATIM regardless of batching. The same "
    "one-store-shape-serves-the-statistic pattern as the drift "
    "monitors; state per batch is O(distinct values in the batch), "
    "never events.",
    tags=("extended", "aggregate", "streaming"),
)
def stream_percentile_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from bo_sql_spark.operators.quantile_sketch import weighted_percentile_exact

    li_schema = _t(spark, sf_dir)["lineitem"].schema
    root = scratch_dir("wpct_stream")
    store = os.path.join(root, "counts")

    stream = (
        spark.readStream.schema(li_schema)
        .option("pathGlobFilter", "lineitem.parquet")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(sf_dir)
    )

    def ingest(batch_df, batch_id):
        (
            batch_df.select(
                "l_returnflag",
                F.round(F.col("l_extendedprice") * 100)
                .cast("long")
                .alias("value_cents"),
                F.col("l_quantity").cast("long").alias("qty"),
            )
            .groupBy("l_returnflag", "value_cents")
            .agg(F.sum("qty").cast("long").alias("qty"))
            .write.mode("append")
            .parquet(store)
        )

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", os.path.join(root, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    merged = (
        spark.read.parquet(store)
        .groupBy("l_returnflag", "value_cents")
        .agg(F.sum("qty").cast("long").alias("qty"))
    )
    return weighted_percentile_exact(
        merged, ["l_returnflag"], "value_cents", "qty", _WPCT_QS
    )
