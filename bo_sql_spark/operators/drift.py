"""Distribution-drift detection between two corpus samples.

Beyond-reference monitoring surface (SURVEY §2.3): the check a
continuously-ingested training corpus runs per snapshot — has the
category mix (source, language, event type, quality bucket) shifted
between two samples? Pearson's two-sample chi-square statistic per
category, in INTEGER fixed-point so the oracle replays every
contribution bit-for-bit (memory: oracle-determinism doctrine).

Math, integer-exact: for category c with counts a, b and sample
totals N_a, N_b (N = N_a + N_b), the classic contribution
(a - E_a)^2 / E_a with E_a = (a+b) * N_a / N rewrites as

    d = a * N - (a + b) * N_a            -- integer, sign irrelevant
    contrib_a = d^2 / (N * (a+b) * N_a)  -- all-positive denominator

so contrib_micros = (d * d * 10^6) DIV (N * (a+b) * N_a), computed in
DECIMAL(38,0) / HUGEINT because d^2 reaches ~N^4 (overflows int64 at
~60k rows). The statistic is the sum over categories of both sides'
contributions; the caller compares it to a chi-square critical value
(df = categories - 1) OFF-engine — thresholds need the inverse CDF,
which is float territory and deliberately out of the exact core.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from bo_sql_spark.parallel import lineage_cut


def two_sample_chisq(
    df: DataFrame, category_col: str, in_b: Column
) -> DataFrame:
    """Per-category drift between rows where ``in_b`` is false (sample
    A) and true (sample B). One counting groupBy + a broadcast 1-row
    totals join — nothing else shuffles at any corpus size. Emits
    (category, n_a, n_b, chisq_micros) with chisq_micros = 10^6 x the
    category's summed A+B contribution; categories absent from one
    sample contribute via their zero side exactly like the textbook
    formula (guarded: a zero denominator -- category count or sample
    total of 0 -- contributes 0)."""
    counts = (
        df.select(F.col(category_col).alias("category"), in_b.alias("_b"))
        .groupBy("category")
        .agg(
            F.sum(F.when(~F.col("_b"), 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(F.col("_b"), 1).otherwise(0)).cast("long").alias("n_b"),
        )
    )
    return chisq_from_counts(counts)


def chisq_from_counts(counts: DataFrame) -> DataFrame:
    """The chi-square fold over a pre-aggregated (category, n_a, n_b)
    table — counts ARE the mergeable summary (sum-merge across
    microbatches/shards/days), so this shared tail is what both the
    batch operator and the streaming drift monitor run on their
    drained stores."""
    totals = counts.agg(
        F.sum("n_a").cast("long").alias("_ta"),
        F.sum("n_b").cast("long").alias("_tb"),
    )

    def contrib(n_side: str, tot_side: str) -> str:
        # (d*d*10^6) DIV (N * (a+b) * N_side) in DECIMAL(38,0);
        # d = n_side*N - (n_a+n_b)*N_side
        return (
            f"CAST(CASE WHEN (n_a + n_b) = 0 OR {tot_side} = 0 THEN 0 "
            f"ELSE CAST(({n_side} * (_ta + _tb) - (n_a + n_b) * {tot_side})"
            f" AS DECIMAL(38,0))"
            f" * ({n_side} * (_ta + _tb) - (n_a + n_b) * {tot_side})"
            f" * 1000000"
            f" DIV (CAST((_ta + _tb) AS DECIMAL(38,0)) * (n_a + n_b)"
            f" * {tot_side}) END AS BIGINT)"
        )

    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "category",
            "n_a",
            "n_b",
            (F.expr(contrib("n_a", "_ta")) + F.expr(contrib("n_b", "_tb")))
            .cast("long")
            .alias("chisq_micros"),
        )
        .orderBy("category")
    )


def two_sample_kl(
    df: DataFrame, category_col: str, in_b: Column
) -> DataFrame:
    """Per-category KL(A || B) contributions between rows where
    ``in_b`` is false (sample A) and true (sample B) — the
    information-theoretic drift measure beside the chi-square above
    (chi-square weights by expected counts; KL is the expected
    log-likelihood-ratio the monitoring literature thresholds).
    Same shape: one counting groupBy + the shared fold."""
    counts = (
        df.select(F.col(category_col).alias("category"), in_b.alias("_b"))
        .groupBy("category")
        .agg(
            F.sum(F.when(~F.col("_b"), 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(F.col("_b"), 1).otherwise(0)).cast("long").alias("n_b"),
        )
    )
    return kl_from_counts(counts)


def kl_from_counts(counts: DataFrame) -> DataFrame:
    """The KL fold over a pre-aggregated (category, n_a, n_b) table —
    counts are the mergeable summary, same doctrine as
    chisq_from_counts. Add-one (Laplace) smoothing over the observed
    category union keeps every ln argument a positive integer and the
    divergence finite when a category is absent from one side (the
    textbook guard for MLE KL's infinities):

        a' = n_a + 1, b' = n_b + 1, A' = ta + K, B' = tb + K
        contrib_micros = (a' * (ln a' - ln A' - ln b' + ln B')) DIV A'

    with every ln the portable fixed-point ln in micros, applied at
    CATEGORY grain (the counts table) — so both engines replay each
    contribution bit-for-bit. Contributions can be negative
    (KL >= 0 only in total); Spark DIV and DuckDB // both truncate
    toward zero, so the signed DIV is still cross-engine exact.
    Emits (category, n_a, n_b, kl_contrib_micros); total KL(A||B) =
    sum over categories."""
    from bo_sql_spark.functions.fixedpoint import with_ln_micros

    totals = counts.agg(
        F.sum("n_a").cast("long").alias("_ta"),
        F.sum("n_b").cast("long").alias("_tb"),
        F.count(F.lit(1)).cast("long").alias("_k"),
    )
    t = counts.crossJoin(F.broadcast(totals))
    t = with_ln_micros(t, "n_a + 1", "_ln_a1")
    t = with_ln_micros(t, "n_b + 1", "_ln_b1")
    t = with_ln_micros(t, "_ta + _k", "_ln_aa")
    t = with_ln_micros(t, "_tb + _k", "_ln_bb")
    return t.select(
        "category",
        "n_a",
        "n_b",
        # (n_a + 1) * (4-ln sum, |.| <= ~176e6) wraps BIGINT at
        # n_a ~ 5e10 — DECIMAL(38)-widened like the BM25 fold; the
        # signed quotient's magnitude is <= 176e6 so the DIV is exact.
        # Signedness: Spark DIV and DuckDB HUGEINT // both truncate
        # toward zero (verified by the cross-engine fuzz family), which
        # is what keeps negative KL contributions bit-identical. NOTE
        # this is NOT Python-int semantics — Python // floors, which
        # differs from truncation for negative quotients.
        F.expr(
            "(CAST(n_a + 1 AS DECIMAL(38,0))"
            " * (_ln_a1 - _ln_aa - _ln_b1 + _ln_bb)) DIV (_ta + _k)"
        )
        .cast("long")
        .alias("kl_contrib_micros"),
    ).orderBy("category")


def psi_from_counts(counts: DataFrame) -> DataFrame:
    """Population Stability Index fold over a pre-aggregated
    (category, n_a, n_b) table — THE drift number model-risk teams
    ship (banking/scorecard literature thresholds: < 0.1 stable,
    0.1-0.25 watch, > 0.25 act). PSI is the SYMMETRIZED KL
    (J-divergence): sum over categories of (p_a - p_b) ln(p_a/p_b),
    so it reuses kl_from_counts' add-one smoothing and ln chain
    verbatim and shares the mergeable counts store with every other
    count-based monitor. Computed directly as

        contrib_micros = ((a'*B' - b'*A') * L) DIV (A'*B')

    with a' = n_a+1, A' = ta+K (smoothed), L the fixed-point ln
    difference in micros — ONE truncated DIV, not kl(A||B)+kl(B||A)
    with two roundings. Every contribution is theoretically >= 0
    (both factors share a sign in exact math); fixed-point ln
    rounding can produce micro-negatives near p_a == p_b, which is
    why the DIV's toward-zero truncation (Spark DIV == DuckDB //,
    fuzz-verified) matters for bit-equality. Widths: the numerator
    reaches N^2 * 176e6 — DECIMAL(38)-widened (HUGEINT oracle), safe
    to ~1e14 rows per side; the quotient magnitude is bounded by
    |p_a - p_b| * 176e6 < 1.76e8, far inside the DECIMAL DIV's int64
    wrap. Emits (category, n_a, n_b, psi_contrib_micros); total PSI
    is the sum over categories."""
    from bo_sql_spark.functions.fixedpoint import with_ln_micros

    totals = counts.agg(
        F.sum("n_a").cast("long").alias("_ta"),
        F.sum("n_b").cast("long").alias("_tb"),
        F.count(F.lit(1)).cast("long").alias("_k"),
    )
    t = counts.crossJoin(F.broadcast(totals))
    t = with_ln_micros(t, "n_a + 1", "_ln_a1")
    t = with_ln_micros(t, "n_b + 1", "_ln_b1")
    t = with_ln_micros(t, "_ta + _k", "_ln_aa")
    t = with_ln_micros(t, "_tb + _k", "_ln_bb")
    return t.select(
        "category",
        "n_a",
        "n_b",
        F.expr(
            "((CAST(n_a + 1 AS DECIMAL(38,0)) * (_tb + _k)"
            "  - CAST(n_b + 1 AS DECIMAL(38,0)) * (_ta + _k))"
            " * (_ln_a1 - _ln_aa - _ln_b1 + _ln_bb))"
            " DIV (CAST(_ta + _k AS DECIMAL(38,0)) * (_tb + _k))"
        )
        .cast("long")
        .alias("psi_contrib_micros"),
    )


def entropy_from_counts(counts: DataFrame, count_col: str = "n") -> DataFrame:
    """Shannon entropy of a categorical MIX from its count table —
    1 row (n_total, n_categories, entropy_micros, norm_entropy_permille),
    exact in nat-micros via the fixed-point ln:

        H = ln(N) - (sum_c c * ln(c)) DIV N
        norm = (H * 1000) DIV ln(K)      -- K = #categories; max
                                            entropy is ln K, so norm
                                            is the uniformity index in
                                            [0, 1000] (0 for K <= 1)

    The monitoring number for source/language/quality-bucket
    composition: a collapsing mix (one source flooding the corpus)
    drives norm toward 0 long before any single category's share
    alarms. Counts are the mergeable summary — sum-merge across
    microbatches/shards/days and fold once (same doctrine as
    chisq_from_counts / kl_from_counts; the streaming twin drains the
    SAME store the chi-square/KL monitors use). Zero-count rows are
    ignored (ln needs positives; an absent category contributes 0 to
    H by the usual 0 ln 0 = 0 convention)."""
    from bo_sql_spark.functions.fixedpoint import with_ln_micros

    pos = counts.filter(F.col(count_col) >= 1).select(
        F.col(count_col).cast("long").alias("_c")
    )
    pos = with_ln_micros(pos, "_c", "_lnc")
    # c * ln(c) runs DECIMAL(38)-widened: plain BIGINT wraps at
    # c ~ 3e11 (c * 44e6 > 2^63) and the running sum at ~3e11 total —
    # below claimed scale. The quotient _sum_cln DIV N is <= ln(max c)
    # micros (~44e6) so the DECIMAL DIV's long result never wraps.
    agg = pos.agg(
        F.sum("_c").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.sum(F.expr("CAST(_c AS DECIMAL(38,0)) * _lnc")).alias("_sum_cln"),
    )
    agg = with_ln_micros(agg, "greatest(n_total, 1)", "_lnn")
    agg = with_ln_micros(agg, "greatest(n_categories, 1)", "_lnk")
    return agg.select(
        "n_total",
        "n_categories",
        F.expr("_lnn - _sum_cln DIV greatest(n_total, 1)")
        .cast("long")
        .alias("entropy_micros"),
        F.expr(
            "CASE WHEN n_categories <= 1 THEN 0"
            " ELSE ((_lnn - _sum_cln DIV greatest(n_total, 1)) * 1000)"
            " DIV _lnk END"
        )
        .cast("long")
        .alias("norm_entropy_permille"),
    )


def emd_from_counts(counts: DataFrame) -> DataFrame:
    """Two-sample earth-mover (Wasserstein-1) distance over an ORDINAL
    integer support, from a value-grain count table (_x long, n_a,
    n_b) — 1 row (n_a, n_b, support_size, emd_micros), exact:

        W1 = sum_i |cumA_i * Nb - cumB_i * Na| * (x_{i+1} - x_i)
             * 1e6 DIV (Na * Nb)

    The L1 companion to two_sample_ks's sup-norm: KS sees the single
    worst CDF gap, EMD integrates ALL of it — a small shift smeared
    across the whole range (every value 1 tick heavier) barely moves
    KS but accumulates in EMD, and a narrow spike does the opposite;
    the pair brackets the drift geometry. Units: emd_micros is in
    micro-VALUE-UNITS (micro-quantities here) — the average distance
    probability mass moved.

    Scope, stated honestly: ordinal domains with DOMAIN-bounded
    support (quantities, ratings, permille quality buckets) — the cum
    window sorts |support| POST-AGGREGATE rows, bounded by the domain,
    never the corpus (the documented bounded-global-window shape).
    Continuous columns get bucketed first (the standard EMD-monitor
    practice), which lands them in the same bounded-support scope.
    The one exact division keeps the fold integer-exact: the numerator
    runs DECIMAL(38)-widened (|dcum| <= Na*Nb and gaps multiply in),
    and the quotient is <= range * 1e6, inside the DECIMAL DIV's long
    ceiling.

    Input grain: the operator sum-merges duplicate ``_x`` rows itself
    (one bounded-support groupBy) rather than assuming value grain —
    counts tables are mergeable summaries, so a store merged from
    shards/microbatches legitimately carries several rows per value,
    and a silent duplicate would double-count the cumulative sums."""
    from pyspark.sql import Window

    counts = counts.groupBy("_x").agg(
        F.sum("n_a").cast("long").alias("n_a"),
        F.sum("n_b").cast("long").alias("n_b"),
    )
    agg = counts.agg(
        F.sum("n_a").cast("long").alias("_na"),
        F.sum("n_b").cast("long").alias("_nb"),
    )
    w = Window.orderBy("_x")
    cum = (
        counts.crossJoin(F.broadcast(agg))
        .withColumn(
            "_ca",
            F.sum("n_a")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .withColumn(
            "_cb",
            F.sum("n_b")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .withColumn("_gap", F.coalesce(F.lead("_x").over(w) - F.col("_x"), F.lit(0)))
    )
    return cum.agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("support_size"),
        F.expr(
            "CAST(CASE WHEN max(_na) = 0 OR max(_nb) = 0 THEN 0"
            " ELSE (SUM(abs(CAST(_ca AS DECIMAL(38,0)) * _nb"
            " - CAST(_cb AS DECIMAL(38,0)) * _na) * _gap) * 1000000)"
            " DIV (CAST(max(_na) AS DECIMAL(38,0)) * max(_nb)) END AS BIGINT)"
        ).alias("emd_micros"),
    )


def gini_from_counts(counts: DataFrame, count_col: str = "n") -> DataFrame:
    """Gini concentration of a categorical MIX from its count table —
    1 row (n_total, n_categories, gini_micros), exact in micros via
    the sorted-rank identity (counts c_(1) <= ... <= c_(K) ascending):

        G = (2 * sum_i i * c_(i) - (K + 1) * N) DIV (K * N)

    0 = perfectly uniform, rising toward 1 - 1/K as one category takes
    everything (K = 1 is 0 by definition). The Lorenz-curve
    counterpart of entropy_from_counts' uniformity index — the pair
    disagree exactly where it matters: a long tail of tiny sources
    barely moves H (each contributes ~0 mass) but stretches the
    Lorenz curve, so Gini flags tail-starvation that norm-entropy
    misses. Counts stay the mergeable summary (same store as the
    chi-square/KL/entropy monitors). S1 is invariant under permuting
    TIED counts (equal c across a rank block sums identically), so
    the rank window needs no tie-break for value-determinism.
    Products run DECIMAL(38)-widened (2 * S1 * 1e6 wraps int64 once
    K * N ~ 1e13); the quotient is <= 1e6 micros so the widened DIV's
    long result is exact. Plan at scale: one counting aggregate
    upstream; the rank window sorts K POST-AGGREGATE rows (never
    events) — the documented bounded-global-window shape."""
    from pyspark.sql import Window

    pos = counts.filter(F.col(count_col) >= 1).select(
        F.col(count_col).cast("long").alias("_c")
    )
    ranked = pos.withColumn(
        "_i", F.row_number().over(Window.orderBy("_c")).cast("long")
    )
    agg = ranked.agg(
        F.sum("_c").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.sum(F.expr("CAST(_i AS DECIMAL(38,0)) * _c")).alias("_s1"),
    )
    return agg.select(
        F.expr("coalesce(n_total, CAST(0 AS BIGINT))").alias("n_total"),
        "n_categories",
        F.expr(
            "CASE WHEN coalesce(n_total, 0) = 0 THEN 0"
            " ELSE ((2 * _s1 - CAST(n_categories + 1 AS DECIMAL(38,0))"
            " * n_total) * 1000000)"
            " DIV (CAST(n_categories AS DECIMAL(38,0)) * n_total) END"
        )
        .cast("long")
        .alias("gini_micros"),
    )


def robust_group_outliers(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Robust per-group anomaly profile: median / MAD / outlier count.

    The monitoring question drift detection doesn't answer: within ONE
    sample, which rows are anomalous? Mean/stddev break down exactly
    when it matters (the outliers drag the threshold toward
    themselves), so the robust pair is the lower MEDIAN and the MAD
    (median absolute deviation), with the classic |x - med| > 3 * MAD
    flag (Hampel). Emits one row per group:
    (group, n, med, mad, n_outliers, max_dev).

    Exactness without fixed-point: the statistic never SUMS floats —
    medians are order statistics (picks of actual data values), the
    deviation |x - med| is a single IEEE subtract+abs (correctly
    rounded, engine-identical), and 3 * mad is a single multiply.
    Order + pick + one-op arithmetic is deterministic across engines;
    only float accumulation isn't (registry doctrine). Median rank is
    ceil(n/2) — the lower median, same pick the percentile_approx
    oracle replays.

    Plan at scale: everything runs at VALUE grain, not row grain — a
    groupBy(group, x) counts first, so the per-group cumulative
    windows sort |distinct values| rows, never |rows| (the KS trick
    one function up). Two window passes (median, then MAD over
    deviation grain) + broadcast joins of group-grain tables. Groups
    are the partition key; a column with few distinct groups bounds
    parallelism at #groups for the window stages only — at 100 TB the
    value-grain tables those windows sort are cardinality-sized
    (typically millions), far below data scale.
    """
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("grp"), F.col(value_col).cast("double").alias("_x"))
        .groupBy("grp", "_x")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    return robust_outliers_from_counts(counts)


def robust_outliers_from_counts(counts: DataFrame) -> DataFrame:
    """The median/MAD/Hampel fold over a pre-aggregated value-grain
    (grp, _x, _c) table. Value-grain counts are a MERGEABLE summary
    (sum-merge on (grp, x) across microbatches/shards/days — order
    statistics of the union are exactly recoverable from merged
    counts), so this shared tail is what both the batch operator and
    the streaming anomaly monitor run; same split as
    chisq_from_counts."""
    from pyspark.sql import Window

    # r15-opt RETRACTED (was: one repartition("grp") exchange shared by
    # every consumer instead of the r14 lineage cuts). The shared
    # exchange NEVER materializes as shared: per-consumer column
    # pruning pushes different Projects under each branch's copy of the
    # repartition subtree, the canonical forms differ, and ReuseExchange
    # does not fire — the AQE FINAL plan for events_anomaly_mad showed
    # 0 ReusedExchange and the events table scanned 14 times in one run
    # (plans/r15/events_anomaly_mad_after_final_repart.txt) vs ONE
    # materialized pass under the cuts. 14 corpus-grain scans is a
    # 100 TB scale-killer that a wall-neutral fixture A/B
    # (0.96x/1.03x/1.12x) cannot justify; the cuts' ~7 re-exchanges are
    # of VALUE-grain (cardinality-sized) tables, which is the cheap
    # side of that trade at any scale. (.persist() would share the
    # exchange AND keep partitioning info, but a session-level cache
    # entry keyed on the logical plan would be hit by the bench's
    # repeat reps — cross-rep result reuse, i.e. exactly the gaming the
    # round rules forbid.)
    #
    # counts is consumed three times (totals, median cum, deviation
    # grain) and devs twice — checkpoint both so the upstream scan and
    # the value-grain aggregation run ONCE, not once per consumer
    # (the graph/SemDeDup lineage-cut discipline). Both tables are
    # value-cardinality-sized, tiny next to the data.
    counts = lineage_cut(counts)
    totals = counts.groupBy("grp").agg(F.sum("_c").cast("long").alias("n"))
    w = (
        Window.partitionBy("grp")
        .orderBy("_x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("_cum", F.sum("_c").over(w).cast("long")).join(
        F.broadcast(totals), "grp"
    )
    med = (
        cum.filter(F.col("_cum") >= F.expr("(n + 1) DIV 2"))
        .groupBy("grp")
        .agg(F.min("_x").alias("med"))
    )
    devs = lineage_cut(
        counts.join(F.broadcast(med), "grp")
        .select("grp", F.abs(F.col("_x") - F.col("med")).alias("_d"), "_c")
        .groupBy("grp", "_d")
        .agg(F.sum("_c").cast("long").alias("_c"))
    )
    wd = (
        Window.partitionBy("grp")
        .orderBy("_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dcum = devs.withColumn("_cum", F.sum("_c").over(wd).cast("long")).join(
        F.broadcast(totals), "grp"
    )
    mad = (
        dcum.filter(F.col("_cum") >= F.expr("(n + 1) DIV 2"))
        .groupBy("grp")
        .agg(F.min("_d").alias("mad"))
    )
    flagged = devs.join(F.broadcast(mad), "grp").groupBy("grp").agg(
        F.sum(F.when(F.col("_d") > 3 * F.col("mad"), F.col("_c")).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
        F.max("_d").alias("max_dev"),
    )
    return (
        totals.join(med, "grp")
        .join(mad, "grp")
        .join(flagged, "grp")
        .select("grp", "n", "med", "mad", "n_outliers", "max_dev")
        .orderBy("grp")
    )


def two_sample_ks(
    df: DataFrame, value_col: str, in_b: Column, n_shards: int = 32
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift of a NUMERIC column — the
    continuous sibling of two_sample_chisq (has the distribution of
    doc lengths / quality scores / purchase values shifted?).

    Integer-exact core: with per-distinct-value cumulative counts
    cum_a, cum_b and totals N_a, N_b, the KS deviation at x is
    |cum_a/N_a - cum_b/N_b| = |cum_a*N_b - cum_b*N_a| / (N_a*N_b) —
    the numerator is a plain int64 (max ~N^2), so the max over x and
    its location are exact; the caller divides by N_a*N_b off-engine
    for the familiar [0,1] D statistic. Emits ONE row:
    (n_a, n_b, d_num, x_at_max) with ties at the max broken by MIN x.

    No global window/sort (the distinct-value set is corpus-sized for
    continuous data): distinct-value counts are binned into
    ``n_shards`` value ranges (one min/max+totals scalar pass),
    cumulated per shard, and offset by a broadcast n_shards-row
    cumulative table — the contiguous-shard pattern the quantile
    sketch uses."""
    from pyspark.sql import Window

    counts = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(value_col).cast("double").alias("_x"), in_b.alias("_b"))
        .groupBy("_x")
        .agg(
            F.sum(F.when(~F.col("_b"), 1).otherwise(0)).cast("long").alias("_a"),
            F.sum(F.when(F.col("_b"), 1).otherwise(0)).cast("long").alias("_bc"),
        )
    )
    stats = counts.agg(
        F.min("_x").alias("mn"),
        F.max("_x").alias("mx"),
        F.sum("_a").cast("long").alias("na"),
        F.sum("_bc").cast("long").alias("nb"),
    ).first()
    if stats["na"] is None or (stats["na"] + stats["nb"]) == 0:
        raise ValueError("empty input")
    mn, mx, na, nb = stats["mn"], stats["mx"], stats["na"], stats["nb"]
    span = (mx - mn) or 1.0
    ns = int(n_shards)
    staged = counts.withColumn(
        "_shard",
        F.least(
            F.lit(ns - 1),
            F.floor((F.col("_x") - F.lit(mn)) / F.lit(span) * F.lit(ns)),
        ).cast("long"),
    )
    totals = staged.groupBy("_shard").agg(
        F.sum("_a").cast("long").alias("_ta"),
        F.sum("_bc").cast("long").alias("_tb"),
    )
    wo = Window.orderBy("_shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_shard",
        F.coalesce(F.sum("_ta").over(wo), F.lit(0)).cast("long").alias("_oa"),
        F.coalesce(F.sum("_tb").over(wo), F.lit(0)).cast("long").alias("_ob"),
    )
    w = (
        Window.partitionBy("_shard")
        .orderBy("_x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        staged.withColumn("_ca", F.sum("_a").over(w).cast("long"))
        .withColumn("_cb", F.sum("_bc").over(w).cast("long"))
        .join(F.broadcast(offsets), "_shard")
        .select(
            "_x",
            F.abs(
                (F.col("_oa") + F.col("_ca")) * F.lit(nb)
                - (F.col("_ob") + F.col("_cb")) * F.lit(na)
            ).alias("_d"),
        )
    )
    picked = cum.agg(
        F.max(F.struct(F.col("_d"), (-F.col("_x")).alias("_nx"))).alias("_m")
    )
    return picked.select(
        F.lit(int(na)).cast("long").alias("n_a"),
        F.lit(int(nb)).cast("long").alias("n_b"),
        F.col("_m._d").cast("long").alias("d_num"),
        (-F.col("_m._nx")).alias("x_at_max"),
    )


def embedding_centroid_drift(
    emb: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Embedding-SPACE drift: per-group centroid direction vs the
    global centroid — (group, n_vectors, cos_to_global). The
    count-based monitors (chi-square/KL/EMD/Gini) are blind to a
    source whose category MIX is stable but whose embedding
    distribution rotated (a re-trained encoder, a topical shift
    inside one source); this catches exactly that: a group pointing
    off the corpus axis shows cos_to_global well below its siblings.

    Exactness: vectors are fixed-point quantized (similarity.py:
    quantize_vec, round(v*1e6) -> int64) and per-group component sums
    fold in DECIMAL(38,0) — sums are bounded by n_vectors * 1e6 * |v|,
    so the later sum-vector dot products (the widest values here)
    stay under DECIMAL(38)'s 1e38 up to ~1e15 vectors per group;
    int64 would already wrap at the global self-dot of ~60k vectors.
    Cosine of SUM vectors equals cosine of centroids (scale
    invariance) — no division until the final double. The oracle
    replays in HUGEINT; CAST(exact int AS DOUBLE) rounds identically
    in both engines.

    100 TB shape: one groupBy with map-side-combinable decimal sums;
    the global row is an aggregate OF the group rows (never a second
    corpus pass) broadcast back — per-group state is dims numbers,
    like every mergeable monitor in this family.

    The component sums are keyed LONG-GRAIN on (grp, d) via
    posexplode instead of dims wide sum columns: the values are the
    identical exact decimals (commutative integer sums), but every
    expression stays a handful of terms, where a wide form's 64
    decimal aggregates + 192-term dot projection make whole-stage-
    codegen COMPILE the fixture wall (the plan constant is invariant
    in rows because it is paid at plan build, guide §7.3). The wide
    shape survives as embedding_group_sums + centroid_cosines_from_sums
    (the mergeable-summary path), bit-equality pinned in tests.
    """
    from bo_sql_spark.operators.similarity import quantize_vec

    dec = "decimal(38,0)"
    longg = emb.select(
        F.col(group_col).alias("grp"), quantize_vec(vec_col).alias("qv")
    ).select("grp", F.posexplode_outer("qv").alias("d", "x")).filter(
        F.col("d").isNull() | (F.col("d") < dims)
    )

    # r15-opt (§5 one-consumer rule): sums is a (groups x dims)-row
    # mergeable summary consumed by the global fold AND the per-group
    # join, and glob (dims rows) by the join AND the self-dot — without
    # the cuts each branch re-ran the corpus posexplode (r15 scan
    # audit: 3 parquet scans of embeddings in this one executed plan).
    sums = lineage_cut(
        longg.groupBy("grp", "d").agg(
            F.sum(F.col("x").cast(dec)).alias("s"),
            F.count(F.lit(1)).alias("_cnt"),
        )
    )
    glob = lineage_cut(
        sums.filter(F.col("d").isNotNull())
        .groupBy("d")
        .agg(F.sum("s").cast(dec).alias("g"))
    )
    j = sums.join(F.broadcast(glob), "d", "left")
    dots = j.groupBy("grp").agg(
        # every non-empty vector contributes exactly one d=0 row; empty
        # vectors surface as the posexplode_outer NULL-d row
        F.sum(
            F.when(F.col("d").isNull() | (F.col("d") == 0), F.col("_cnt")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_vectors"),
        F.sum(F.col("s") * F.col("g")).alias("_lg"),
        F.sum(F.col("s") * F.col("s")).alias("_ll"),
    )
    # global self-dot: one scalar off the dims-row table, broadcast —
    # identical for every group by construction
    dots = dots.crossJoin(
        F.broadcast(glob.agg(F.sum(F.col("g") * F.col("g")).alias("_gg")))
    )
    cos = F.col("_lg").cast("double") / (
        F.sqrt(F.col("_ll").cast("double")) * F.sqrt(F.col("_gg").cast("double"))
    )
    cos = F.when(
        (F.col("_ll") == 0) | (F.col("_gg") == 0), F.lit(None)
    ).otherwise(cos)
    return dots.select(
        F.col("grp").alias(group_col),
        "n_vectors",
        F.round(cos, 6).alias("cos_to_global"),
    )


def embedding_group_sums(
    emb: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """The MERGEABLE summary behind embedding_centroid_drift:
    (grp, n_vectors, s0..s{dims-1}) — per-group quantized component
    sums in DECIMAL(38,0) plus the member count. Partial sums from
    any split of the corpus (microbatches, shards) merge by summing
    columns — the property the streaming twin appends on."""
    from bo_sql_spark.operators.similarity import quantize_vec

    # r14-opt note: spread_scan was A/B'd here and LOST (1.11x) — the
    # fixture wall of this operator is not the map stage (see
    # OPTIMIZATION_r14.md, drift_embedding_centroid), so the input is
    # deliberately left un-spread.
    qv = quantize_vec(vec_col)
    dec = "decimal(38,0)"
    return emb.select(F.col(group_col).alias("grp"), qv.alias("qv")).groupBy(
        "grp"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        *[
            F.sum(F.element_at(F.col("qv"), d + 1).cast(dec)).alias(f"s{d}")
            for d in range(dims)
        ],
    )


def centroid_cosines_from_sums(per_group: DataFrame, dims: int = 64) -> DataFrame:
    """(grp, n_vectors, cos_to_global) from an embedding_group_sums
    table (or any column-wise merge of several): the global sum
    vector is an aggregate OF the group rows (broadcast back, never a
    second corpus pass); cosine of sum vectors == cosine of centroids
    by scale invariance; no division until the final double.

    r14-opt: the fold is UNPIVOTED to (grp, d, s) rows first — the
    wide form (dims sum aggregates + 3*dims-term dot projection) paid
    a multi-second whole-stage-codegen compile per plan regardless of
    row count (guide §7.3; measured 3.8s -> 0.85s on the batch twin).
    Same exact decimal arithmetic, identical output values
    (commutative integer sums; bit-equality pinned in tests)."""
    dec = "decimal(38,0)"
    stack_expr = ", ".join(f"{d}, s{d}" for d in range(dims))
    longg = per_group.select(
        "grp",
        F.col("n_vectors"),
        F.expr(f"stack({dims}, {stack_expr})").alias("d", "s"),
    )
    glob = longg.groupBy("d").agg(F.sum("s").cast(dec).alias("g"))
    j = longg.join(F.broadcast(glob), "d")
    dots = j.groupBy("grp").agg(
        F.first("n_vectors").alias("n_vectors"),
        F.sum(F.col("s") * F.col("g")).alias("_lg"),
        F.sum(F.col("s") * F.col("s")).alias("_ll"),
    ).crossJoin(
        F.broadcast(glob.agg(F.sum(F.col("g") * F.col("g")).alias("_gg")))
    )
    cos = F.col("_lg").cast("double") / (
        F.sqrt(F.col("_ll").cast("double")) * F.sqrt(F.col("_gg").cast("double"))
    )
    # a sum vector can cancel to exactly zero (v and -v in one group,
    # or all members quantizing to zero) — 0/0 is NaN whose ordering/
    # hashing is an engine quirk; emit NULL deterministically instead
    cos = F.when(
        (F.col("_ll") == 0) | (F.col("_gg") == 0), F.lit(None)
    ).otherwise(cos)
    return dots.select(
        "grp",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.round(cos, 6).alias("cos_to_global"),
    )
