"""As-of join (point-in-time lookup) — an operator Spark lacks natively.

Semantics: for each left row, attach the single most recent right row
with right.ts <= left.ts within the same key (DuckDB's ASOF JOIN, pandas
merge_asof, kdb aj).

Two plans, one interface, picked by ``direction``:

- ``window`` (backward/forward): the union trick, pure DataFrame ops. Tag both
  sides, union on (key, ts), then ``last(<right struct>, ignorenulls)``
  over (PARTITION BY key ORDER BY ts, side ROWS UNBOUNDED PRECEDING)
  fills every left row with the latest preceding right row; filter back
  to left rows. ONE shuffle, JVM window exec, zero Python — at 100 TB
  this is strictly better than any Python path, and it's immune to the
  many-small-groups overhead that makes cogrouped Pandas slow (each
  group pays ~ms of pandas setup; a billion keys = hours of overhead).
- ``cogroup`` (nearest): cogrouped ``applyInPandas`` +
  ``pd.merge_asof`` per key, for the semantics the window rewrite
  doesn't cover; the tests also use it as the window plan's reference.

Right-row payloads ride in ONE struct so ``last(..., ignorenulls)``
can't mix columns from different right rows when a payload field is
legitimately NULL.

Skewed keys: either plan puts one key in one task — salt by coarse
time bucket if a single key exceeds memory (bucket boundaries then need
a one-bucket lookback pass).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None = None,
    tolerance: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: left rows + most recent right row per key.

    ``on`` must be an orderable numeric column present in both sides
    (use int64 epoch nanos for timestamps — exact, no unit drift);
    ``by`` is the equality key. Right columns are suffixed ``_right``
    if they collide. ``direction`` is 'backward' (right.on <= left.on)
    or 'forward' (right.on >= left.on), both planned as the window
    rewrite, or 'nearest' (cogroup); ``tolerance`` bounds
    |left.on - right.on|.
    """
    if direction in ("backward", "forward"):
        return _asof_window(left, right, on, by, right_cols, tolerance, direction)
    return _asof_cogroup(left, right, on, by, right_cols, tolerance, direction)


def _out_names(
    left: DataFrame, right: DataFrame, on: str, by: str, right_cols: list[str] | None
) -> list[tuple[str, str]]:
    """[(right col, output name)] with _right suffix on collisions."""
    rcols = right_cols or [c for c in right.columns if c not in (on, by)]
    return [(c, c if c not in left.columns else f"{c}_right") for c in rcols]


def _asof_window(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None,
    tolerance: int | None,
    direction: str,
) -> DataFrame:
    pairs = _out_names(left, right, on, by, right_cols)
    lcols = left.columns

    # 'forward' is 'backward' on the negated axis.
    sort_on = F.col("_on") if direction == "backward" else -F.col("_on")

    passthrough = [c for c in lcols if c not in (by, on)]
    # keep _r_on in the ORIGINAL dtype: int64 epoch nanos exceed 2^53,
    # a double would silently lose the low bits
    rstruct = F.struct(
        F.col(on).alias("_r_on"),
        *[F.col(c).alias(name) for c, name in pairs],
    )
    rhs = right.select(
        F.col(by),
        F.col(on).alias("_on"),
        F.lit(0).alias("_is_left"),
        rstruct.alias("_r"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in passthrough
        ],
    )
    null_struct = F.lit(None).cast(rhs.schema["_r"].dataType.simpleString())
    lhs = left.select(
        F.col(by),
        F.col(on).alias("_on"),
        F.lit(1).alias("_is_left"),
        null_struct.alias("_r"),
        *[F.col(c) for c in passthrough],
    )
    unioned = rhs.unionByName(lhs)

    # Right rows sort BEFORE left rows at equal ts (inclusive match).
    w = (
        Window.partitionBy(by)
        .orderBy(sort_on, "_is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.withColumn("_rf", F.last("_r", ignorenulls=True).over(w)).filter(
        F.col("_is_left") == 1
    )
    if tolerance is not None:
        within = F.abs(F.col("_on") - F.col("_rf._r_on")) <= F.lit(tolerance)
        filled = filled.withColumn(
            "_rf", F.when(within, F.col("_rf")).otherwise(null_struct)
        )
    out = [
        F.col("_on").alias(on) if c == on else F.col(c)
        for c in lcols
    ]
    return filled.select(
        *out, *[F.col(f"_rf.{name}").alias(name) for _, name in pairs]
    )


def _asof_cogroup(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None,
    tolerance: int | None,
    direction: str,
) -> DataFrame:
    pairs = _out_names(left, right, on, by, right_cols)
    lcols = left.columns
    out_fields = [left.schema[c] for c in lcols]
    right_out = [
        (c, name, right.schema[c].dataType.simpleString()) for c, name in pairs
    ]
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields]
        + [f"`{name}` {dt}" for _, name, dt in right_out]
    )

    def merge(key, ldf: pd.DataFrame, rdf: pd.DataFrame) -> pd.DataFrame:
        ldf = ldf.sort_values(on, kind="mergesort")
        if rdf.empty:
            for _, name, _dt in right_out:
                ldf[name] = None
            return ldf
        rdf = rdf.sort_values(on, kind="mergesort")
        merged = pd.merge_asof(
            ldf,
            rdf[[on] + [c for c, _, _ in right_out]],
            on=on,
            direction=direction,
            tolerance=tolerance,
            suffixes=("", "_right"),
        )
        for c, name, _dt in right_out:
            got = c if c in merged.columns and name not in merged.columns else name
            if got != name:
                merged[name] = merged[got]
                merged = merged.drop(columns=[got])
        return merged[[*lcols, *[name for _, name, _ in right_out]]]

    return (
        left.groupBy(by)
        .cogroup(right.groupBy(by))
        .applyInPandas(merge, schema=schema)
    )


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_ts_col: str,
    right_start_col: str,
    right_end_col: str,
    bucket_width: int,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Range (interval) join as an EQUI-join via bucket expansion —
    the other join Spark lacks natively (the batch sibling of the
    as-of join above; streaming has interval_join).

    Semantics: inner-join every left row to every right interval with
    ``start <= ts < end`` (half-open), optionally also matching on
    ``extra_keys``. The naive ``ON ts BETWEEN start AND end`` plan in
    Spark is a BroadcastNestedLoopJoin (or a cartesian product when
    neither side broadcasts) — O(|L| * |R|) comparisons and a
    single-task disaster at scale. Bucketing makes it an equi-join:

    - left rows get bucket = ts DIV w (one row each);
    - right intervals EXPLODE to one row per covered bucket
      (sequence(start DIV w, end DIV w) — ceil(len/w)+1 rows);
    - hash-join on (extra_keys..., bucket), then the exact range
      predicate filters survivors.

    No post-dedup is needed: a (left, right) pair shares exactly ONE
    bucket — left's own ts DIV w — so matches are emitted once.
    Shuffle is |L| + |R| * (interval_len/w + 1) rows; pick w near the
    TYPICAL interval length so expansion stays ~2x. All-integer
    bucket arithmetic (int64 epoch nanos), so the bucketing is exact
    and oracle-replayable; Catalyst plans a plain shuffled/broadcast
    hash join and AQE handles a skewed bucket like any other hot key.

    Columns: all left columns + all right columns (callers rename
    collisions first; raises on overlap)."""
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    overlap = set(left.columns) & set(right.columns)
    overlap -= set(extra_keys or [])
    # `_bucket` is the internal join key: withColumn would silently
    # REPLACE a same-named user column, corrupting the output.
    overlap |= {"_bucket"} & (set(left.columns) | set(right.columns))
    if overlap:
        raise ValueError(f"column collision: {sorted(overlap)}")
    w = int(bucket_width)
    keys = list(extra_keys or [])
    l = left.filter(F.col(left_ts_col).isNotNull()).withColumn(
        "_bucket", F.expr(f"{left_ts_col} DIV {w}")
    )
    r = (
        right.filter(
            F.col(right_start_col).isNotNull()
            & F.col(right_end_col).isNotNull()
        )
        .withColumn(
            "_bucket",
            F.explode(
                F.sequence(
                    F.expr(f"{right_start_col} DIV {w}"),
                    F.expr(f"{right_end_col} DIV {w}"),
                )
            ),
        )
    )
    return (
        l.join(r, keys + ["_bucket"])
        .filter(
            (F.col(left_ts_col) >= F.col(right_start_col))
            & (F.col(left_ts_col) < F.col(right_end_col))
        )
        .drop("_bucket")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start_col: str,
    left_end_col: str,
    right_start_col: str,
    right_end_col: str,
    bucket_width: int,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """INTERVAL-INTERVAL overlap join as an equi-join — the third join
    Spark lacks natively (point-in-time: asof_join; point-in-interval:
    range_join_bucketed; this is interval-vs-interval, the genomic /
    session-vs-incident / downtime-vs-downtime shape).

    Semantics: inner-join every (left, right) pair of HALF-OPEN
    intervals with a non-empty intersection — ``l_start < r_end AND
    r_start < l_end`` — optionally also matching ``extra_keys``.
    Empty intervals (start >= end) are dropped on both sides (the
    overlap formula is only equivalent to non-empty intersection for
    non-empty inputs). Spark plans the naive predicate as a nested-
    loop/cartesian; bucketing makes it a hash join:

    - BOTH sides explode to their covered buckets
      (sequence(start DIV w, (end - 1) DIV w));
    - hash-join on (extra_keys..., bucket) + the exact overlap
      predicate;
    - NO post-dedup: a matching pair shares every bucket of its
      intersection, so it is emitted only from the CANONICAL one —
      the intersection's first bucket, greatest(l_start, r_start)
      DIV w — one extra integer comparison instead of a global
      distinct over the (potentially huge) pair output.

    Shuffle is sum over rows of ceil(len/w)+1 per side; pick w near
    the typical interval length so expansion stays ~2x per side.
    All-integer int64 bucket arithmetic (epoch nanos), exact and
    oracle-replayable; AQE treats a hot bucket like any other skewed
    key. Columns: all left + all right columns (collisions, including
    the internal ``_bucket``/``_cbucket``, raise)."""
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    keys = list(extra_keys or [])
    overlap = set(left.columns) & set(right.columns)
    overlap -= set(keys)
    overlap |= {"_bucket", "_cbucket"} & (set(left.columns) | set(right.columns))
    if overlap:
        raise ValueError(f"column collision: {sorted(overlap)}")
    w = int(bucket_width)

    def explode_side(df: DataFrame, s: str, e: str) -> DataFrame:
        return (
            df.filter(
                F.col(s).isNotNull() & F.col(e).isNotNull() & (F.col(s) < F.col(e))
            ).withColumn(
                "_bucket",
                F.explode(
                    F.sequence(
                        F.expr(f"{s} DIV {w}"), F.expr(f"({e} - 1) DIV {w}")
                    )
                ),
            )
        )

    l = explode_side(left, left_start_col, left_end_col)
    r = explode_side(right, right_start_col, right_end_col)
    return (
        l.join(r, keys + ["_bucket"])
        .filter(
            (F.col(left_start_col) < F.col(right_end_col))
            & (F.col(right_start_col) < F.col(left_end_col))
        )
        .withColumn(
            "_cbucket",
            F.expr(
                f"greatest({left_start_col}, {right_start_col}) DIV {w}"
            ),
        )
        .filter(F.col("_bucket") == F.col("_cbucket"))
        .drop("_bucket", "_cbucket")
    )
