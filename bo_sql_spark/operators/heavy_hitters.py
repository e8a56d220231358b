"""Distributed heavy hitters: Misra-Gries mergeable summaries per
partition, then an exact recount of the candidate set.

The op a 100 TB pipeline runs to find dominant domains/URLs/tokens when
the key space is corpus-sized — where a plain groupBy(key) would
shuffle every distinct key. Two phases instead:

1. Per-partition Misra-Gries summary with ``m`` counters, inside ONE
   Arrow-batched ``mapInPandas`` pass (vectorized per batch: pandas
   value_counts merged into the summary with the standard mergeable-
   summaries trim — add counts, then subtract the (m+1)-th largest and
   drop non-positives; Agarwal et al., "Mergeable Summaries", PODS'12).
   Only <= m candidate rows per partition ever shuffle.
2. Exact recount of the (tiny, broadcast) candidate union, then the
   global ratio filter.

Guarantee (why the output is exact and deterministic even though the
candidate set depends on partitioning): if cnt(t)/N >= 1/r globally,
then cnt_p(t)/N_p >= 1/r in at least one partition (weighted-average
pigeonhole), and an MG summary with m >= r counters retains every key
with partition ratio > 1/(m+1). With m chosen > r the candidate union
is a SUPERSET of the true heavy hitters under ANY partitioning, and the
exact recount + threshold makes the final answer independent of the
physical layout — which is what lets a DuckDB oracle check it.

The reference engine has no sketches at all (SELECT-only surface,
reference parser.h:9-14); this extends the engine the way frequency
monitoring over training corpora needs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bo_sql_spark.parallel import lineage_cut


def misra_gries_candidates(
    df: DataFrame, key_col: str, m: int, emit_total: bool = False
) -> DataFrame:
    """Phase 1: per-partition MG summaries -> (key, est) candidate rows,
    at most ``m`` per partition. ``est`` undercounts by at most
    N_p/(m+1) (the MG bound); it is NOT exact and callers must recount.

    ``emit_total=True`` additionally emits ONE NULL-key row per
    non-empty partition carrying that partition's exact row count in
    ``est`` — the same pass that summarizes keys also counts rows, so
    heavy_hitters' global-total aggregate stops being a third corpus
    scan (r15 scan audit: text_heavy_hitters re-tokenized the corpus
    for candidates, recount, AND total). Requires null-free input (the
    NULL key is the marker; heavy_hitters pre-filters)."""

    key_type = df.schema[key_col].dataType.simpleString()

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: pd.Series | None = None
        nrows = 0
        for pdf in batches:
            nrows += len(pdf)
            # value_counts(dropna=True is the default) would silently
            # drop NULL keys; callers pre-filter nulls (heavy_hitters /
            # recount_candidates do) so dropping here is consistent —
            # but make it explicit rather than an accident of pandas.
            vc = pdf[key_col].value_counts(dropna=True)
            counters = vc if counters is None else counters.add(vc, fill_value=0)
            if len(counters) > m:
                # mergeable-summaries trim: subtract the (m+1)-th
                # largest count from everything, keep positives
                kth = counters.nlargest(m + 1).iloc[-1]
                counters = counters - kth
                counters = counters[counters > 0]
        if counters is not None and not counters.empty:
            yield pd.DataFrame(
                {key_col: counters.index, "est": counters.astype("int64").values}
            )
        # NB: the MG trim can empty the counters on a NON-empty
        # partition (all counts equal the (m+1)-th), so the total row
        # is emitted independently of the candidate rows.
        if emit_total and nrows:
            yield pd.DataFrame({key_col: [None], "est": [nrows]})

    return df.select(key_col).mapInPandas(
        summarize, schema=f"{key_col} {key_type}, est long"
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    ratio_denom: int = 200,
    m: int | None = None,
) -> DataFrame:
    """Exact keys with global frequency >= 1/ratio_denom of all rows,
    found without ever shuffling the full key space: MG candidates
    (phase 1), broadcast semi-join recount (phase 2), integer ratio
    filter. Two corpus scans instead of one corpus-wide shuffle — the
    right trade when |keys| ~ |corpus| (URLs, n-grams).

    ``m`` defaults to 2*ratio_denom: any m > ratio_denom preserves the
    superset guarantee; the factor 2 keeps candidates safe even when a
    partition's summary absorbed heavy deletion pressure.

    NULL keys are excluded from both the candidate set and the total
    (a NULL URL/token is a data-quality signal, not a frequency one);
    the matching oracle filters ``key IS NOT NULL`` / empty the same
    way."""
    if m is None:
        m = 2 * ratio_denom
    if m <= ratio_denom:
        raise ValueError(
            f"need m ({m}) > ratio_denom ({ratio_denom}) for the MG "
            "superset guarantee"
        )
    df = df.filter(F.col(key_col).isNotNull())
    # r15-opt: one MG pass yields candidates AND per-partition totals
    # (NULL-key rows) — two corpus scans, not three. The summary table
    # (<= m+1 rows per partition) feeds both, so cut it.
    summ = lineage_cut(
        misra_gries_candidates(df, key_col, m, emit_total=True)
    )
    cand = (
        summ.filter(F.col(key_col).isNotNull()).select(key_col).distinct()
    )
    total = summ.filter(F.col(key_col).isNull()).agg(
        F.sum("est").cast("long").alias("_total")
    )
    return recount_candidates(df, cand, key_col, ratio_denom, total=total)


def recount_candidates(
    df: DataFrame,
    candidates: DataFrame,
    key_col: str,
    ratio_denom: int,
    total: DataFrame | None = None,
) -> DataFrame:
    """Phase 2, shared by the batch and streaming paths: exact recount
    of a (guaranteed-superset) candidate set via broadcast semi-join,
    then the integer global-ratio filter. Living in one place keeps
    the threshold comparison (>=, not >) and join semantics identical
    wherever candidates came from (one MG pass, or a drained
    per-microbatch store).

    No forced broadcast on the candidate side: the union is <= m rows
    per *partition*, so at 100 TB (tens of thousands of partitions,
    m=400 default) it can reach millions of rows and blow the
    broadcast/driver limit. AQE sees the post-distinct size at runtime
    and broadcasts exactly when it is actually small — which is every
    realistic case — while the huge-candidate edge degrades to a
    correct shuffled semi-join instead of an OOM."""
    df = df.filter(F.col(key_col).isNotNull())
    exact = (
        df.join(candidates.select(key_col), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # total may arrive precomputed (heavy_hitters folds it into the MG
    # pass); the fallback aggregate keeps the streaming drain path,
    # whose candidates come from a store, on its own exact count.
    if total is None:
        total = df.agg(F.count(F.lit(1)).alias("_total"))
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * ratio_denom >= F.col("_total"))
        .select(key_col, F.col("cnt").cast("long").alias("cnt"))
    )


# --------------------------------------------------- Count-Min sketch
def count_min_table(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of a key
    column's frequencies: a (depth x width) counter grid where row r
    increments bucket h_r(key). Returns the grid as (r, bucket, cnt)
    rows — depth*width rows total, independent of corpus size.

    The 100 TB properties: building it is ONE map-combinable groupBy
    over (r, bucket) int pairs (every partition pre-aggregates its own
    grid, the shuffle carries at most depth*width rows per task), and
    two grids MERGE by cell-wise addition — the sketch of a union is
    the sum of the sketches, so per-day / per-shard grids roll up for
    free. Memory is O(depth*width) regardless of distinct keys — the
    regime where exact groupBy(key) would shuffle a corpus-sized key
    space.

    Unlike the HLL/GK sketches, the CM grid is fully DETERMINISTIC
    given the hash family: h_r(key) = first 15 hex digits of
    md5('<r>:'||key) mod width — bit-portable to any engine with md5,
    so the DuckDB oracle replays the ENTIRE grid, not a rows-only
    check. (Estimates from the grid are approximate; the grid itself
    is exact.)"""
    from bo_sql_spark.parallel import spread_scan

    rows = F.array(*[F.lit(r) for r in range(int(depth))])
    # r14-opt: parallel depth-x-md5 map on single-split inputs (§2.5;
    # composes with caller-side spreads — already-parallel inputs no-op)
    keyed = (
        spread_scan(df.select(F.col(key_col).cast("string").alias("_k")))
        .filter(F.col("_k").isNotNull())
    )
    return (
        keyed.select(
            F.explode(rows).alias("r"),
            "_k",
        )
        .select(
            "r",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("r").cast("string"), F.col("_k"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(int(width)),
            ).alias("bucket"),
        )
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("r").cast("long"),
            F.col("bucket").cast("long"),
            F.col("cnt").cast("long"),
        )
    )


def count_min_estimates(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    top_k: int = 20,
) -> DataFrame:
    """Point-query the CM sketch for the corpus's ``top_k`` most
    frequent keys and emit (key, exact, cm_estimate): estimate =
    min over rows r of grid[r][h_r(key)], which can only OVERCOUNT
    (collisions add, never subtract) — `cm_estimate >= exact` is the
    CMS guarantee, asserted by the oracle for every emitted row.
    The probe join is a broadcast of top_k*depth cells onto the
    depth*width grid."""
    grid = count_min_table(df, key_col, depth, width)
    exact = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("exact"))
        .orderBy(F.col("exact").desc(), F.col("key"))
        .limit(int(top_k))
    )
    probes = exact.select(
        "key",
        "exact",
        F.explode(F.array(*[F.lit(r) for r in range(int(depth))])).alias("r"),
    ).select(
        "key",
        "exact",
        "r",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("r").cast("string"), F.col("key"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(int(width)),
        ).alias("bucket"),
    )
    return (
        F.broadcast(probes)
        .join(grid, ["r", "bucket"])
        .groupBy("key", "exact")
        .agg(F.min("cnt").alias("cm_estimate"))
        .select(
            "key",
            F.col("exact").cast("long"),
            F.col("cm_estimate").cast("long"),
        )
    )


def hll_registers(df: DataFrame, key_col: str, p: int = 9) -> DataFrame:
    """Portable HyperLogLog registers (Flajolet et al. 2007) over a
    key column: (bucket, register) rows, one per NONEMPTY bucket of
    m = 2^p, register = max over the bucket's keys of the leading-zero
    rank of a 32-bit hash word. O(m) output regardless of distinct
    count, built by ONE map-combinable groupBy (each partition
    pre-maxes its own registers; the shuffle carries <= m rows/task).

    Registers MERGE by cellwise MAX — HLL of a union is the max of
    the registers, even for OVERLAPPING shards — which is the 100 TB
    rollup story: per-day/per-shard register tables union into a
    global NDV without re-scanning.

    Unlike Spark's approx_count_distinct (HLL++, engine-private
    sketch), every bit here is portable arithmetic: the hash is the
    md5-prefix BIGINT (low p bits -> bucket, next 32 bits -> rank
    word; rho = 33 - bit_length(word) via conv-to-binary + ltrim,
    identical in DuckDB as bin() + ltrim), so an oracle replays the
    ENTIRE register table and the estimate — the sketch is
    approximate, its computation is exact. p must keep p+32 <= 60
    (the md5-prefix width); alpha below needs m >= 128."""
    return hll_registers_by(df, key_col, [], p)


def hll_registers_by(
    df: DataFrame, key_col: str, group_cols: list[str], p: int = 9
) -> DataFrame:
    """Per-group hll_registers: (group_cols..., bucket, register) —
    the GROUP BY form of the sketch (NDV per source/day/language in
    one pass). Same single map-combinable groupBy; the shuffle
    carries <= m rows per (task, group)."""
    if not (7 <= int(p) <= 28):
        raise ValueError("p must be in [7, 28]")
    m = 1 << int(p)
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    # r14-opt: spread_scan was tried here and LOST in every instrument
    # (bench pairs 1.47x/1.06x, interleaved A/Bs 1.5-2.2x): one md5 of
    # a short key per row is too cheap to amortize the added exchange,
    # and the map-side register combine already bounds the shuffle at
    # <= m rows per task — the "cheap map" exclusion of parallel.py.
    keyed = (
        df.select(*dict.fromkeys((key_col, *group_cols)))
        .filter(F.col(key_col).isNotNull())
        .select(*group_cols, h.alias("_h"))
    )
    rho = F.lit(33) - F.length(
        F.expr(f"ltrim('0', conv((_h DIV {m}) % 4294967296, 10, 2))")
    )
    return (
        keyed.select(
            *group_cols,
            F.pmod(F.col("_h"), F.lit(m)).alias("bucket"),
            rho.alias("_rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("_rho").alias("register"))
        .select(
            *group_cols,
            F.col("bucket").cast("long"),
            F.col("register").cast("long"),
        )
    )


def hll_summary(registers: DataFrame, p: int = 9) -> DataFrame:
    """Fold an hll_registers table into the one-row summary
    (m, n_nonempty, sum_scaled, hll_estimate).

    All-integer estimator: sum_scaled = sum over ALL m buckets of
    2^(33 - register) (empty buckets contribute 2^33; max m * 2^33 =
    2^(p+33) fits BIGINT for p <= 28), and the estimate is one
    integral divide of the CONSTANT alpha_m * m^2 * 2^33 — scaled to
    micros and precomputed as a decimal literal, so both engines
    divide the same two integers; no float ever enters. Raw-regime
    estimator only (n >= 2.5m): the standard small-range linear-
    counting correction needs ln(), whose last-ulp varies across
    libm implementations — consumers with small n apply it from the
    emitted n_nonempty instead (V = m - n_nonempty)."""
    return hll_summary_by(registers, [], p)


def hll_summary_by(
    registers: DataFrame, group_cols: list[str], p: int = 9
) -> DataFrame:
    """Per-group hll_summary over an hll_registers_by table:
    (group_cols..., m, n_nonempty, sum_scaled, hll_estimate). A group
    with no register rows simply doesn't appear (same semantics as
    GROUP BY over an empty group)."""
    m = 1 << int(p)
    alpha_u = round(0.7213 / (1 + 1.079 / m) * 1e6)  # micros; m >= 128
    numer = alpha_u * m * m * (1 << 33)
    return (
        registers.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("_ne"),
            F.coalesce(
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 33 - register)")),
                F.lit(0),
            ).alias("_t0"),
        )
        .select(
            *group_cols,
            F.lit(m).cast("long").alias("m"),
            F.col("_ne").cast("long").alias("n_nonempty"),
            (F.col("_t0") + (F.lit(m) - F.col("_ne")) * F.lit(1 << 33))
            .cast("long")
            .alias("sum_scaled"),
        )
        .select(
            *group_cols,
            "m",
            "n_nonempty",
            "sum_scaled",
            F.expr(
                # sum_scaled reaches 2^(p+33); the 10^6 alpha rescale must
                # happen in DECIMAL(38,0), not BIGINT, or p >= 11 overflows
                # int64 (2^44 * 10^6 > 2^63).
                f"CAST(CAST('{numer}' AS DECIMAL(38,0))"
                " DIV (CAST(sum_scaled AS DECIMAL(38,0)) * 1000000)"
                " AS BIGINT)"
            ).alias("hll_estimate"),
        )
    )


def hll_distinct(df: DataFrame, key_col: str, p: int = 9) -> DataFrame:
    """One-scan approximate NDV: hll_registers |> hll_summary.
    Expected relative error 1.04/sqrt(2^p) (~4.6% at p=9) in the raw
    regime n >= 2.5 * 2^p."""
    return hll_summary(hll_registers(df, key_col, p), p)


def sampled_quantiles(
    df: DataFrame,
    value_col: str,
    key_col: str,
    qs: tuple[float, ...] = (0.5, 0.95),
    d: int = 8,
    n_shards: int = 32,
) -> DataFrame:
    """Portable, mergeable quantile estimates from a DETERMINISTIC
    1/d hash sample — the quantile sibling of the portable HLL: the
    'sketch' is the sample itself (md5-prefix hash of a unique row
    key, keep h % d == 0), so unions/shards merge by concatenation
    and ANY engine replays the exact same sample and therefore the
    exact same estimates (unlike GK/t-digest, whose retained elements
    are engine-private; cf. percentile_approx's degenerate-exact
    registration). Estimate for q = the rank-ceil(q*m) element of the
    m-row sample; rank error is the standard sampling bound
    O(sqrt(q(1-q)/m)) quantiles-of-ranks, so d sets the
    memory/accuracy knob the way p does for HLL.

    Execution has NO global window/sort: the sample is binned into
    ``n_shards`` value ranges, per-shard row_numbers are offset by a
    broadcast n_shards-row cumulative table (the contiguous-shard
    trick, sampling.py), and only the target ranks survive. r15-opt
    (guide §5, driver round-trips): the count/min/max stats that sized
    the shards and ranks used to be a SEPARATE scalar ``.first()``
    action per build; now min/max are a one-row aggregate CROSS-JOINED
    (broadcast) into the plan, the count is the sum of the per-shard
    totals carried by the offsets table, and the rank arithmetic runs
    in SQL — the whole build is ONE job. Same exact integer-micros
    rank math (q_micros * n in int64, both engines). Emits one row
    per quantile: (q double, sample_n long, est double); an empty
    sample (d too large for the corpus) now yields an EMPTY result —
    the same answer the DuckDB replay gives — instead of the former
    eager ValueError (no scalar action is left to raise from)."""
    if int(d) <= 0 or not qs:
        raise ValueError("d must be positive and qs non-empty")
    from pyspark.sql import Window

    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    # r14-opt: cut the sample's lineage — the one-row stats aggregate
    # and the shard/rank plan both consume it; the cut makes the full
    # md5 scan run ONCE per build (the one-consumer rule; guide §5
    # lineage cut). spread_scan was tried on the scan and LOST in
    # every instrument (bench pairs 1.44x/1.77x): one md5 per row is
    # below the exchange's cost — the "cheap map" exclusion.
    samp = lineage_cut(
        df.select(*dict.fromkeys((key_col, value_col)))
        .filter(F.col(value_col).isNotNull())
        .filter(F.pmod(h, F.lit(int(d))) == 0)
        .select(F.col(value_col).cast("double").alias("_x"))
    )
    # min/max only: the sample size rides the offsets table instead,
    # so both consumers of ``staged`` read the SAME stats subtree and
    # AQE reuses its exchange (a count kept here was pruned from one
    # consumer only, which made the two copies canonically different)
    stats = samp.agg(F.min("_x").alias("_mn"), F.max("_x").alias("_mx"))
    ns = int(n_shards)
    span = F.when(F.col("_mx") - F.col("_mn") == 0.0, F.lit(1.0)).otherwise(
        F.col("_mx") - F.col("_mn")
    )
    staged = samp.crossJoin(F.broadcast(stats)).withColumn(
        "_shard",
        F.least(
            F.lit(ns - 1),
            F.floor((F.col("_x") - F.col("_mn")) / span * F.lit(ns)),
        ).cast("long"),
    )
    totals = staged.groupBy("_shard").agg(
        F.count(F.lit(1)).cast("long").alias("_tot")
    )
    wo = Window.orderBy("_shard")
    offsets = totals.select(
        "_shard",
        F.coalesce(
            F.sum("_tot").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("_off"),
        # the sample size n = the sum of every shard's total
        F.sum("_tot")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("long")
        .alias("_n"),
    )
    # ceil(q*n) in exact integer arithmetic: q as micros (q_micros*n is
    # exact for q with <= 6 decimals) — float ceil can land one rank
    # off when q*n is integral (e.g. 0.5 * 4096). n is a COLUMN now;
    # the per-q rank expressions replay the former Python ints exactly.
    def _rank(q: float):
        qm = round(float(q) * 1_000_000)
        # integer DIV, not Column `/` (which is IEEE double division):
        # qm * n stays in int64 exactly, as the Python ints did
        return F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(CAST({qm} AS BIGINT) * _n + 999999) DIV 1000000"),
        )

    w = Window.partitionBy("_shard").orderBy("_x")
    ranked = (
        staged.withColumn("_local", F.row_number().over(w).cast("long"))
        .join(F.broadcast(offsets), "_shard")
        .withColumn("_rank", F.col("_off") + F.col("_local"))
    )
    qs_sorted = sorted(float(q) for q in qs)
    hits = ranked.filter(
        F.array_contains(
            F.array(*[_rank(q) for q in qs_sorted]), F.col("_rank")
        )
    )
    # one output row per REQUESTED q (two qs may share a rank at tiny n:
    # explode the q list per hit rank)
    out = hits.select(
        F.explode(
            F.filter(
                F.array(*[
                    F.when(F.col("_rank") == _rank(q), F.lit(q))
                    for q in qs_sorted
                ]),
                lambda v: v.isNotNull(),
            )
        ).alias("q"),
        F.col("_n").alias("sample_n"),
        F.col("_x").alias("est"),
    )
    return out.orderBy("q")


def sampled_quantiles_by(
    df: DataFrame,
    value_col: str,
    key_col: str,
    group_cols: list[str],
    qs: tuple[float, ...] = (0.5, 0.95),
    d: int = 8,
) -> DataFrame:
    """Per-GROUP sampled_quantiles in one pass: the same deterministic
    1/d hash sample, then a rank pick per (group, q) via a per-group
    window — one shuffle keyed by the group columns, no scalar driver
    stats (per-group sample sizes ride in a count window over the
    same partition). Groups whose sample is empty simply don't appear
    (same semantics as GROUP BY over an empty group). Emits
    (group_cols..., q double, sample_n long, est double).

    Per-group windows hold one group's SAMPLE per task (~group/d rows)
    — the d knob bounds task memory exactly the way it bounds the
    global variant's sample; a group viral enough to blow that gets
    the same salting answer as any hot key."""
    if int(d) <= 0 or not qs:
        raise ValueError("d must be positive and qs non-empty")
    from pyspark.sql import Window

    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    # r14-opt: no spread — same cheap-md5-map measurement as the
    # global variant (the exchange costs more than the map buys)
    samp = (
        df.select(*dict.fromkeys((key_col, value_col, *group_cols)))
        .filter(F.col(value_col).isNotNull())
        .filter(F.pmod(h, F.lit(int(d))) == 0)
        .select(*group_cols, F.col(value_col).cast("double").alias("_x"))
    )
    w = Window.partitionBy(*group_cols).orderBy("_x")
    wn = Window.partitionBy(*group_cols)
    ranked = samp.select(
        *group_cols,
        "_x",
        F.row_number().over(w).cast("long").alias("_rnk"),
        F.count(F.lit(1)).over(wn).cast("long").alias("_n"),
    )
    # exact integer rank: ceil(q*n) = (q_micros*n + 999999) DIV 10^6
    # (float ceil lands one off when q*n is integral)
    q_hits = [
        F.when(
            F.col("_rnk")
            == F.greatest(
                F.lit(1),
                F.expr(
                    f"({int(q * 1_000_000)} * _n + 999999) DIV 1000000"
                ).cast("long"),
            ),
            F.lit(float(q)),
        )
        for q in sorted(qs)
    ]
    return (
        ranked.select(
            *group_cols,
            F.explode(
                F.filter(F.array(*q_hits), lambda v: v.isNotNull())
            ).alias("q"),
            F.col("_n").alias("sample_n"),
            F.col("_x").alias("est"),
        )
        .orderBy(*group_cols, "q")
    )
