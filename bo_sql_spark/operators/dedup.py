"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding near-dup.

The reference engine has no dedup at all (no DISTINCT even — reference
parser.h:9-14). These are the operators a 100 TB training-data pipeline
runs FIRST, so they are designed shuffle-light:

- exact dedup: one hash-partitioned groupBy on a 128-bit content hash —
  the canonical map-side-combinable pattern.
- MinHash+LSH: per-doc signature is an embarrassingly-parallel map;
  candidate generation shuffles (band_hash) keys — tiny rows — instead
  of an O(n^2) cross join; only candidates touch full token sets.
- SimHash: 64-bit signature via one explode + groupBy(doc) — bounded
  state per doc, then banding like LSH.

Determinism: all hashing is xxhash64 with fixed literal seeds — stable
across runs, partitionings, and cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from bo_sql_spark.functions import word_shingles
from bo_sql_spark.parallel import lineage_cut, spread_scan


# ------------------------------------------------------------- exact
# Stands in for NULL inside the dedup key: concat_ws SKIPS nulls, so
# without it (NULL,'x') and ('x',NULL) would concatenate identically and
# wrongly merge. \x1e (record separator) brackets make accidental
# collision with real text require embedded control characters.
NULL_SENTINEL = "\x1enull\x1e"


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct content; adds ``dup_count``.

    Dedup key is md5 over the concatenated content columns: grouping on
    a fixed-width hash instead of raw (possibly megabyte) content keeps
    shuffle rows small. Collision odds at 128 bits are ~0 below 2^60 rows.
    Each column is coalesced to ``NULL_SENTINEL`` first so NULL position
    survives concat_ws (which drops nulls outright).
    """
    key = F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit(NULL_SENTINEL))
                for c in content_cols
            ],
        )
    )
    return (
        df.withColumn("content_hash", key)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# ----------------------------------------------------------- MinHash
def minhash_signature(
    text: Column | str, n_hashes: int = 32, shingle_k: int = 3
) -> Column:
    """array<bigint> MinHash signature of the text's word shingles.

    min over shingles of xxhash64(seed_i, shingle) approximates a random
    permutation per i. Pure expression — computed in codegen during the
    scan, no shuffle, no UDF.

    NB: the per-seed lambda must be single-argument — PySpark passes the
    ARRAY INDEX to a two-argument transform lambda, which would shadow
    the seed and collapse all n_hashes 'permutations' into one.

    Built as ONE nested transform over a seed sequence (not n_hashes
    unrolled expressions): unrolling 32 copies of the shingle transform
    made whole-stage codegen quadratic in n_hashes — ~26s of compile
    time at 32 hashes; the nested form plans in milliseconds.
    """
    sh = word_shingles(text, shingle_k)
    return F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(int(n_hashes) - 1).cast("long")),
        lambda seed: F.array_min(F.transform(sh, lambda s: F.xxhash64(seed, s))),
    )


def lsh_band_rows(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band, h) — one row per document per LSH band, where h is the
    band's slice of the signature hashed to 64 bits. The stacked form
    every LSH consumer joins on; tiny fixed-width rows."""
    band_cols = [
        F.xxhash64(
            F.lit(b), F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band)
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = df.select(F.col(id_col), *band_cols)
    return banded.select(
        id_col,
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("h")) for b in range(bands)])
        ).alias("bh"),
    ).select(id_col, F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))


_PMH_P = 1_000_000_007  # the portable-hash prime (sampling.py's modulus)


def _pmh_ab(i: int) -> tuple[int, int]:
    """Per-seed (a, b) constants of the portable MinHash's universal
    family h_i(x) = (a_i*x + b_i) mod P — derived from the seed index
    alone so any engine can reproduce them; a_i is never 0."""
    return ((i + 1) * 999_999_937) % _PMH_P, (i * 101 + 17) % _PMH_P


def minhash_signatures_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, shingles, minhash) like minhash_signatures, but with
    ENGINE-PORTABLE hashes, so the whole MinHash+LSH pipeline is
    bit-replayable by a SQL oracle (xxhash64 is Spark-private — the
    reason every minhash query graded rows-only before this).

    Base hash: first 15 hex digits of md5(shingle) as BIGINT (the
    winnow_fingerprints trick) reduced mod P = 1e9+7; per-seed
    'permutation' i is the universal family (a_i*h + b_i) mod P with
    (a_i, b_i) pure functions of i — one md5 per shingle, then plain
    int64 arithmetic (products < 2^61, no overflow), all replayable
    in DuckDB with ('0x' || substr(md5(s),1,15))::BIGINT and the same
    constants. The trade vs the xxhash64 form: a ~2^30 hash space
    instead of 2^64, so cross-corpus base-hash birthday collisions
    appear around 1e9 DISTINCT shingles — harmless to MinHash's
    Jaccard estimate (a collision just merges two shingle identities)
    but worth knowing; the xxhash64 form remains the production
    default, this is its oracle-checkable twin. Same flat plan: one
    explode, one md5 per shingle string, n_hashes min-aggregates in
    whole-stage codegen; NULL/empty docs surface with NULL minhash
    via the same left join."""
    # r14-opt: the shingle build + per-shingle md5 is the expensive map
    # of this pipeline; guarantee it runs on every core when the input
    # is a single unsplittable file (guide §2.5; no-op at scale).
    docs = spread_scan(docs, id_col)
    sh = docs.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("shingles")
    )
    exploded = sh.select(id_col, F.explode("shingles").alias("s")).withColumn(
        "hb",
        F.expr(
            f"pmod(CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT),"
            f" {_PMH_P})"
        ),
    )
    consts = [_pmh_ab(i) for i in range(n_hashes)]
    sigs = exploded.groupBy(id_col).agg(
        *[
            F.min(
                F.pmod(F.col("hb") * F.lit(a) + F.lit(b), F.lit(_PMH_P))
            ).alias(f"mh{i}")
            for i, (a, b) in enumerate(consts)
        ]
    )
    sigs = sigs.select(
        id_col, F.array(*[f"mh{i}" for i in range(n_hashes)]).alias("minhash")
    )
    return sh.join(sigs, id_col, "left")


def lsh_band_rows_portable(
    df: DataFrame, id_col: str, sig_col: str = "minhash", bands: int = 8
) -> DataFrame:
    """(id, band, h) band rows for the PORTABLE signature at r=2: the
    band hash is the collision-free packing mh[2b]*P + mh[2b+1]
    (< P^2 ~ 1e18, inside int64) — no hash call at all, and the same
    expression replays in any engine. r is fixed at 2 because packing
    three P-sized values would overflow; the S-curve knee matches
    lsh_band_pairs' default (b=8, r=2 -> knee at 0.35)."""
    rows = []
    for b in range(bands):
        rows.append(
            F.struct(
                F.lit(b).cast("long").alias("band"),
                (
                    F.element_at(F.col(sig_col), 2 * b + 1) * F.lit(_PMH_P)
                    + F.element_at(F.col(sig_col), 2 * b + 2)
                ).alias("h"),
            )
        )
    return df.select(
        id_col, F.explode(F.array(*rows)).alias("bh")
    ).select(id_col, F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))


def minhash_auto_bands(threshold: float, margin: float = 0.7) -> int:
    """Band count for the r=2 portable LSH, derived from the VERIFY
    threshold via the S-curve (the r13 verdict's rp_auto_* pattern
    applied to banding): collision probability 1-(1-s^2)^b has its
    knee at s* = (1/b)^(1/2); placing the knee at margin*threshold —
    safely BELOW the verify threshold, so recall at s >= threshold
    stays ~1 while sub-knee pairs are never shuffled — gives
    b = round(1/(margin*t)^2), clamped to [2, 16]. r is pinned at 2
    by the int64 band packing (mh*P + mh < P^2 ~ 1e18); 16 bands =
    32 hashes is the practical signature width. Pure rule: threshold
    0.5 -> 8 bands (the historical default, so existing graded
    queries are unchanged), 0.7 -> 4, 0.35 -> 16. The SQL oracles
    call this same function at plan-build time, so both engines share
    the rule by construction."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    return min(16, max(2, round(1.0 / (margin * threshold) ** 2)))


def minhash_dedup_pairs_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int | None = None,
    bands: int | None = None,
    shingle_k: int = 3,
) -> DataFrame:
    """minhash_dedup_pairs with the portable signature — identical
    shape (signature -> LSH candidates -> exact-Jaccard verify at
    O(candidates)), but every step is SQL-replayable, so the verified
    pair set (and everything downstream: components, survivors, the
    e2e pipeline) grades against a full oracle instead of rows-only.

    bands defaults to AUTO from the verify threshold
    (minhash_auto_bands: S-curve knee at 0.7*threshold) and n_hashes
    to 2*bands; callers can still pin both."""
    if bands is None:
        bands = minhash_auto_bands(threshold)
    if n_hashes is None:
        n_hashes = 2 * bands
    if n_hashes != 2 * bands:
        raise ValueError("portable LSH is fixed at r=2: n_hashes must be 2*bands")
    # r14-opt: (id, shingles, minhash) feeds FOUR consumers (both sides
    # of the band self-join + both verify sides) and the plan showed 16
    # parquet scans / 30 exchanges with zero reuse — cut the lineage so
    # the corpus is tokenized+hashed ONCE per run (the one-consumer
    # rule at doc grain; the index path materializes exactly this table
    # to parquet for the same reason).
    with_sig = lineage_cut(
        minhash_signatures_portable(
            docs, id_col, text_col, n_hashes, shingle_k
        ).filter(F.col("minhash").isNotNull())
    )
    stacked = lsh_band_rows_portable(with_sig, id_col, "minhash", bands)
    # r15-opt RETRACTED: a groupBy(band, h) + within-bucket pair emit
    # (one exchange, no join) was built and measured against this
    # self-join — fresh-session interleaved pairs read 0.80x/0.85x/0.76x
    # (sf0.1, noop): at bench scale the planner BROADCASTS one side of
    # this join (zero shuffles), which the grouped form can't beat with
    # its real exchange + ObjectHashAggregate. The join form is kept as
    # the measured winner; see OPTIMIZATION_r15.md "banding collapse".
    a = stacked.alias("a")
    b_ = stacked.alias("b")
    cands = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sets_a = with_sig.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sets_b = with_sig.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    )
    return (
        cands.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .withColumn("jacc", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jacc") >= threshold)
        .select("id_a", "id_b", "jacc")
    )


def lsh_band_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 2,
) -> DataFrame:
    """Candidate pairs whose signatures collide in >=1 LSH band.

    Shuffle unit is (band_hash) -> tiny (id) rows; a self-join per band
    bucket yields pairs. Collision prob is the S-curve 1-(1-s^r)^b
    (s = true Jaccard): defaults b=16, r=2 put the curve's knee at
    (1/b)^(1/r) = 0.25, giving ~0.998 recall at s=0.57 — right for a
    0.5 verify threshold. Fewer candidates (raise r) trades recall for
    verify cost.
    """
    stacked = lsh_band_rows(df, id_col, sig_col, bands, rows_per_band)
    a = stacked.alias("a")
    b_ = stacked.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def lsh_band_pairs_salted(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 2,
    salt_r: int = 8,
    hot_threshold: int = 64,
) -> DataFrame:
    """lsh_band_pairs with HOT-BUCKET salting: identical pair set, but
    a bucket of B co-colliding docs no longer generates its B*(B-1)/2
    pairs inside ONE reduce task.

    Why AQE can't fix this (measured in SCALE.md round 7,
    `git show 2f725f8:tools_scaling_r7.py`): a viral
    template shared by 5% of a corpus puts thousands of ids into one
    (band, h) bucket. The self-join INPUT for that key is tiny — a few
    KB of ids — so AQE's skew-join split, which triggers on input
    partition BYTES, never fires; the blow-up is in the OUTPUT
    (quadratic pairs) and the task that computes it. The fix has to be
    output-aware: bucket sizes are counted first (map-combinable agg
    over the same tiny rows), and buckets over ``hot_threshold`` take
    a grid-salted self-join — each member gets a deterministic salt
    s in [0, salt_r) from xxhash64 of its id, the left role replicates
    to cells (s, j) for all j, the right role to cells (i, s), and the
    join adds (cell_i, cell_j) to the key, spreading the quadratic
    output over salt_r^2 tasks. Replication multiplies the HOT rows'
    shuffle by salt_r — bounded, tiny rows — while cold buckets
    (almost all of them) keep the exact original single-shuffle path.
    Every pair lands in exactly one grid cell, so no distinct-level
    dedup across cells is needed beyond the one the base op already
    does."""
    stacked = lsh_band_rows(df, id_col, sig_col, bands, rows_per_band)
    sizes = stacked.groupBy("band", "h").agg(
        F.count(F.lit(1)).alias("_bsz")
    )
    tagged = stacked.join(sizes, ["band", "h"])
    cold = tagged.filter(F.col("_bsz") <= hot_threshold)
    hot = tagged.filter(F.col("_bsz") > hot_threshold).withColumn(
        "_s", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_r))
    )

    a, b_ = cold.alias("a"), cold.alias("b")
    cold_pairs = a.join(
        b_,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.h") == F.col("b.h"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )

    cells = F.explode(F.sequence(F.lit(0), F.lit(int(salt_r) - 1)))
    left = hot.select(
        id_col, "band", "h", F.col("_s").alias("ci"), cells.alias("cj")
    )
    right = hot.select(
        F.col(id_col).alias("_rid"),
        F.col("band").alias("_rband"),
        F.col("h").alias("_rh"),
        cells.alias("_rci"),
        F.col("_s").alias("_rcj"),
    )
    hot_pairs = left.join(
        right,
        (F.col("band") == F.col("_rband"))
        & (F.col("h") == F.col("_rh"))
        & (F.col("ci") == F.col("_rci"))
        & (F.col("cj") == F.col("_rcj"))
        & (F.col(id_col) < F.col("_rid")),
    ).select(F.col(id_col).alias("id_a"), F.col("_rid").alias("id_b"))

    return cold_pairs.unionAll(hot_pairs).distinct()


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two array<string> set columns."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, shingles, minhash) via the FLAT plan: explode shingles, hash
    each string once, then n_hashes min-aggregates over cheap long-pair
    hashes. Everything stays in whole-stage codegen — the higher-order-
    function form (minhash_signature) evaluates lambdas interpreted and
    is ~50x slower on long documents.

    Documents with NULL/empty text emit no exploded rows, so the join
    back is a LEFT join: they surface with a NULL ``minhash`` (callers
    can see what was skipped) instead of vanishing from the output.
    """
    # r14-opt: parallelize the shingle+hash map on tiny single-split
    # inputs (guide §2.5; no-op at scale)
    docs = spread_scan(docs, id_col)
    sh = docs.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("shingles")
    )
    exploded = sh.select(
        id_col, F.explode("shingles").alias("s")
    ).withColumn("h", F.xxhash64("s"))
    sigs = exploded.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"mh{i}")
            for i in range(n_hashes)
        ]
    )
    sigs = sigs.select(
        id_col, F.array(*[f"mh{i}" for i in range(n_hashes)]).alias("minhash")
    )
    return sh.join(sigs, id_col, "left")


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    salt_r: int = 0,
    salt_hot_threshold: int = 64,
) -> DataFrame:
    """Full near-dup pipeline: signature -> LSH candidates -> exact verify.

    Returns (id_a, id_b, jacc) for verified near-duplicate pairs.
    Only LSH candidates ever have their shingle sets compared, so the
    expensive exact step runs on O(candidates), not O(n^2).

    NULL-signature docs (NULL/empty text — see minhash_signatures) are
    excluded from banding: xxhash64 skips NULL inputs, so their band
    hashes would all collapse to the same value and every empty doc
    would become a candidate of every other.

    ``salt_r > 0`` routes candidate generation through
    lsh_band_pairs_salted: identical pairs, but hot LSH buckets (a
    viral template cluster) spread their quadratic pair output over
    salt_r^2 tasks instead of one straggler — the skew AQE's
    input-byte-based split cannot see.
    """
    # r14-opt: same four-consumer lineage cut as the portable twin
    with_sig = lineage_cut(
        minhash_signatures(docs, id_col, text_col, n_hashes, shingle_k).filter(
            F.col("minhash").isNotNull()
        )
    )
    if salt_r > 0:
        cands = lsh_band_pairs_salted(
            with_sig,
            id_col,
            "minhash",
            bands,
            n_hashes // bands,
            salt_r=salt_r,
            hot_threshold=salt_hot_threshold,
        )
    else:
        cands = lsh_band_pairs(with_sig, id_col, "minhash", bands, n_hashes // bands)
    sets_a = with_sig.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sets_b = with_sig.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    )
    return (
        cands.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .withColumn("jacc", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jacc") >= threshold)
        .select("id_a", "id_b", "jacc")
    )


# ----------------------------------------------------------- SimHash
def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document.

    Each token hashes to 64 bits; bit j of the signature is the sign of
    sum over tokens of (+1 if bit j set else -1). One explode + one
    groupBy(doc): state is 64 longs per doc regardless of doc length.
    """
    # r15: spread_scan removed — the measured-loser retraction on the
    # portable twin (0.81x median) applies a fortiori here: xxhash64
    # per token is cheaper than its md5, so the map is even further
    # below the exchange's cost.
    tok = F.explode(
        F.array_distinct(F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "))
    ).alias("tok")
    exploded = docs.select(F.col(id_col), tok).withColumn(
        "h", F.xxhash64(F.lit(7), F.col("tok"))
    )
    # bit j tested via shiftright (1<<63 would overflow signed int64).
    # r15-opt: branch-free aggregate state, same rewrite as the
    # portable twin — sum(when(bit,1).otherwise(-1)) > 0 iff
    # 2*sum(bit) > count, so 64 unconditional sums + one count replace
    # 64 conditional sums; identical signature bit-for-bit.
    bit_sums = exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(
                f"b{j}"
            )
            for j in range(64)
        ],
    )
    sig = None
    min_long = -(1 << 63)  # bit 63 set == long sign bit
    for j in range(64):
        one = F.lit(min_long) if j == 63 else F.lit(1 << j)
        bit = F.when(F.col(f"b{j}") * 2 > F.col("_n"), one).otherwise(F.lit(0))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return bit_sums.select(F.col(id_col), sig.alias("simhash"))


_SIMHASH_P_BITS = 60  # md5-15-hex == 60 bits; fits signed int64 headroom


def simhash_portable(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """60-bit ENGINE-PORTABLE SimHash per document — simhash64's
    oracle-checkable twin (same pattern as minhash_signatures_portable:
    the xxhash64 form stays the production default, this one is
    SQL-replayable so the whole SimHash near-dup pipeline can grade
    against a full DuckDB oracle instead of rows-only).

    Per-token base hash: first 15 hex digits of md5(token) as BIGINT
    (60 bits — the winnow_fingerprints trick; DuckDB replay is
    ('0x' || substr(md5(t),1,15))::BIGINT). Bit j of the signature is
    the sign of sum over DISTINCT tokens of (+1 if bit j of the token
    hash is set else -1). Empty tokens and NULL texts are excluded on
    both engines (split of an empty string yields [''] whose hash
    would otherwise shift every empty doc to the same non-zero
    signature).

    The bit sums fold WIDE: one row of 60 long sums per doc (state =
    60 longs per doc, no row blowup — the better 100 TB shape).
    """
    # r15: the r14 spread_scan here was RETRACTED — fresh-session
    # interleaved pairs on dedup_simhash_portable read spread/no-spread
    # = 0.81x/0.77x/0.96x (sf0.1, noop): one md5 per distinct token is
    # a cheap map, below the added exchange's cost (the same exclusion
    # sampled_quantiles documented in r14).
    tok = F.explode(
        F.array_distinct(
            F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " ")
        )
    ).alias("tok")
    exploded = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tok)
        .filter(F.col("tok") != "")
        .withColumn(
            "h",
            F.expr("CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)"),
        )
    )
    # r15-opt: branch-free aggregate state. The ±1 sign fold
    # sum(when(bit,1).otherwise(-1)) = 2*sum(bit) - n, so bit j of
    # the signature is set iff 2*s_j > n where s_j is the PLAIN sum
    # of ((h >> j) & 1) — 60 unconditional long sums + one count
    # replace 60 conditional sums (same exact integers, same
    # signature bit-for-bit; pinned against a pure-Python md5 ±1
    # replay in tests/test_r14_opt.py).
    bit_sums = exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(
                f"b{j}"
            )
            for j in range(_SIMHASH_P_BITS)
        ],
    )
    sig = None
    for j in range(_SIMHASH_P_BITS):
        bit = F.when(
            F.col(f"b{j}") * 2 > F.col("_n"), F.lit(1 << j)
        ).otherwise(F.lit(0))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return bit_sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_dup_pairs_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """All document pairs within Hamming distance ``max_hamming`` of
    each other's portable 60-bit SimHash — (id_a, id_b, hamming).

    Candidate generation is exact-match banding on ``bands`` chunks of
    60/bands bits each (default 4 x 15): pairs sharing ANY chunk join
    on (band, chunk) — fixed-width keys, never an all-pairs cross.
    With max_hamming < bands the banding is COMPLETE by pigeonhole:
    k <= 3 flipped bits can dirty at most 3 of 4 chunks, so every
    qualifying pair matches exactly on at least one chunk — the output
    EQUALS brute-force Hamming search, it is not approximate (asserted
    in tests against an all-pairs scan). Verification is one
    bit_count(XOR) per candidate on two longs — no token data moves.

    100 TB shape: signature is a per-doc map (one explode + one
    groupBy(doc)); the only pairwise exchange is the (band, chunk)
    self-join whose rows are (id, band, chunk) triples; duplicate-heavy
    chunks behave like hot LSH buckets (salt via lsh_band_pairs_salted
    upstream if a chunk's bucket goes quadratic).
    """
    if max_hamming >= bands:
        raise ValueError(
            "banding is only complete for max_hamming < bands (pigeonhole)"
        )
    if _SIMHASH_P_BITS % bands != 0:
        raise ValueError("bands must divide 60")
    chunk_bits = _SIMHASH_P_BITS // bands
    chunk_mask = (1 << chunk_bits) - 1
    # r14-opt: the (id, simhash) table is tiny (one long per doc) but
    # its lineage is the whole tokenize+60-bit-sum corpus pass, and the
    # banding self-join consumes it twice — cut once, reuse both sides
    sig = lineage_cut(simhash_portable(docs, id_col, text_col))
    rows = [
        F.struct(
            F.lit(b).cast("long").alias("band"),
            F.shiftright(F.col("simhash"), b * chunk_bits)
            .bitwiseAND(F.lit(chunk_mask))
            .alias("chunk"),
        )
        for b in range(bands)
    ]
    stacked = sig.select(
        id_col, "simhash", F.explode(F.array(*rows)).alias("bc")
    ).select(id_col, "simhash", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    # r15-opt RETRACTED: the grouped within-bucket pair emit (one
    # exchange on (band, chunk), signature carried through the bucket)
    # was measured 0.66x/0.69x/0.71x vs this self-join in fresh-session
    # interleaved pairs — the planner BROADCASTS one join side here
    # (r14 plan: 2 BroadcastHashJoin, zero pair-stage shuffles), so the
    # grouped form's real exchange is pure added cost. Join form kept;
    # see OPTIMIZATION_r15.md "banding collapse".
    a = stacked.alias("a")
    b_ = stacked.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
    )


# ------------------------------------- duplicate clusters (components)
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, cluster_id=min reachable node) over an undirected pair set.

    GraphFrames-free min-label propagation with pointer doubling: each
    round (a) takes the min over neighbors' labels (one join + groupBy
    on the edge list) and (b) shortcuts label(v) <- label(label(v))
    (one join on the label table, Shiloach-Vishkin style). The
    shortcut makes convergence O(log diameter) on ANY graph — measured:
    a 2^17-node path graph converges in 18 rounds where plain
    propagation needs 2^17 (SCALE.md "Connected components: pointer
    doubling").

    r15-opt: the doubling join consumed the propagation result on
    BOTH sides, so the whole propagation subtree was planned (and
    executed) twice per round — the r15 plan dump showed 5
    SortMergeJoin / 9 Exchange per round, the right half a verbatim
    recompute of the left. Fix: from round 2 on, the shortcut's
    parent table is the ROUND-START label table (a checkpointed RDD
    scan — free to reference twice). Round 1 keeps the fresh
    propagation result as parents: its round-start table is the
    identity labeling, so a stale shortcut there is a semantic no-op
    and diameter-2 graphs pay one extra full round (measured: pure
    stale = 0.83x on dedup_survivors; a mid-round lazy lineage cut
    of prop = 0.90-0.94x on both pair queries because it serializes
    two join subtrees that otherwise run in parallel). Stale parents
    keep O(log diameter): reach per round is 2r+1 vs fresh 2r+2.
    Fixpoint unchanged in all variants: labels only ever decrease and
    the loop exits on propagation stability == component minima. At
    100 TB the edge list is the candidate pair set (small), not the
    corpus; both joins shuffle on node id.

    Driver loop with a convergence check: one propagation + shortcut
    round per checkpoint/probe. ``max_iter`` bounds rounds
    (log2(longest path) + ~3 suffices with doubling); the count is
    reported via ``last_rounds``.
    """
    # cut the edge list's lineage: it is consumed EVERY round (plus
    # the label init), and its lineage is the caller's whole
    # candidate-pair pipeline (an LSH/Jaccard self-join) — without the
    # cut that pipeline re-executes once per round per consumer.
    edges = lineage_cut(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct(),
        # eager: a LAZY cut here was A/B'd (r15) and read 0.95x on
        # minhash_survivors / 1.05x on dedup_survivors — with a lazy
        # cut the first probe job's THREE edge consumers can race-
        # recompute the caller's whole pair pipeline before the
        # checkpoint lands; eager pays one job but materializes once.
        eager=True,
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # Convergence probe: labels only ever DECREASE, so any change
    # strictly lowers sum(label) — one cheap aggregate per probe
    # instead of an old-vs-new join. prev_sum starts None: whenever
    # any edge exists, round 1 strictly lowers the sum (every edge's
    # larger endpoint adopts a smaller label), and on an empty edge
    # set sum(empty) is None == None and the loop exits after one
    # cheap pass — so the initial aggregate job is not needed.
    prev_sum = None
    rounds = 0
    while rounds < max_iter:
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        prop = (
            labels.join(
                neighbor_min, labels.node == neighbor_min.src, "left"
            )
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
            )
        )
        # pointer doubling: label(v) <- label(label(v)). Labels are
        # always node ids and only ever decrease, so the lookup hits.
        # Round 1 shortcuts against the FRESH propagation result
        # (required: the round-start table is the identity there, a
        # stale shortcut would be a no-op and diameter-2 graphs would
        # pay a whole extra round — measured 0.83x on
        # dedup_survivors); later rounds shortcut against the
        # ROUND-START checkpointed table, which plans as a cheap RDD
        # scan instead of duplicating the propagation subtree on the
        # second join side (see docstring).
        p_src = prop if rounds == 1 else labels
        parents = p_src.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new_labels = (
            prop.join(
                parents, prop.label == parents.p_node, "left",
            )
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("p_label"), F.col("label")),
                ).alias("label"),
            )
        )
        # lineage cut per round. LAZY: the logical plan is replaced by
        # the checkpoint RDD immediately, and the RDD materializes
        # INSIDE the convergence-probe job below — one Spark job per
        # round instead of two (r14: the e2e_v2 profile showed the
        # per-job constant, not the shuffles, is the fixture wall)
        new_labels = lineage_cut(new_labels)
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    connected_components.last_rounds = rounds  # instrumentation for scale tests
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


# ------------------------------------------------ embedding near-dup
QUADRATIC_ROW_CAP = 10_000


def _float_pair_cos_udf():
    """Arrow-vectorized cosine over candidate PAIRS of double vectors,
    replaying the DuckDB oracle's float-op sequence exactly: products
    in double, SEQUENTIAL accumulation (np.cumsum — one addend at a
    time, the fold order of list_dot_product; np.sum's pairwise
    summation rounds differently), then dot / (sqrt(aa) * sqrt(bb))."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pcos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype=float)
        a = np.stack([np.asarray(v, dtype=np.float64) for v in va])
        b = np.stack([np.asarray(v, dtype=np.float64) for v in vb])
        dot = np.cumsum(a * b, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(a * a, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(b * b, axis=1)[:, -1])
        return pd.Series(dot / (na * nb))

    return pcos


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    allow_quadratic: bool = False,
) -> DataFrame:
    """All pairs with cosine similarity >= threshold (brute force).

    O(n^2) — the ground-truth twin of the LSH path, for verification and
    small fixtures ONLY; the scale path buckets by random-hyperplane LSH
    first (see operators.similarity.hyperplane_bucket /
    approx_similarity_join) and compares within buckets.

    Guard: unless ``allow_quadratic=True``, a bounded probe (LIMIT
    cap+1 on the id column, never a full count) checks the input and a
    ValueError is raised above ``QUADRATIC_ROW_CAP`` rows — pointing
    this at a real corpus would otherwise launch an n^2 cross join.
    The probe stops scanning after cap+1 rows, so the guard's cost is
    O(cap) regardless of corpus size.

    The joined pairs are scored with one Arrow-batched sequential-order
    NumPy cosine per batch (_float_pair_cos_udf)."""
    if not allow_quadratic:
        over = emb.select(id_col).limit(QUADRATIC_ROW_CAP + 1).count()
        if over > QUADRATIC_ROW_CAP:
            raise ValueError(
                f"embedding_near_dup_pairs is O(n^2) and input exceeds "
                f"{QUADRATIC_ROW_CAP} rows; use similarity."
                "approx_similarity_join for the bucketed scale path, or pass "
                "allow_quadratic=True if you really mean it"
            )
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("va"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    )
    cos = _float_pair_cos_udf()(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos_sim"))
    )


# ------------------------------------- incremental MinHash index
def materialize_minhash_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    portable: bool = False,
) -> None:
    """Persist the corpus's LSH state so future batches NEVER recompute
    it — the dedup twin of ``similarity.materialize_ivf_assignment``.

    Two parquet tables under ``path``:
    - ``bands``: (id, h) partitioned by ``band`` — what new documents
      probe. Partitioning by band means a probe of band b prunes to one
      directory, and rows are (id, 64-bit h): the index is a few dozen
      bytes per corpus document regardless of document size.
    - ``shingles``: (id, shingles) — the exact-verify side, touched only
      for candidate ids.

    At 100 TB the corpus signature pass happens ONCE here; each
    incremental batch then costs O(batch) signature work + a join of
    the batch's tiny band rows against the index (shuffle volume is the
    batch side, the index is read partition-pruned per band).

    ``portable=True`` builds the index with the SQL-replayable hash
    family (minhash_signatures_portable + the r=2 packed bands, which
    requires n_hashes == 2*bands) — probes against it grade against a
    full oracle instead of rows-only; the xxhash64 family stays the
    production default.
    """
    if portable:
        with_sig = minhash_signatures_portable(
            docs, id_col, text_col, n_hashes, shingle_k
        ).filter(F.col("minhash").isNotNull())
        band_rows = lsh_band_rows_portable(with_sig, id_col, "minhash", bands)
    else:
        with_sig = minhash_signatures(
            docs, id_col, text_col, n_hashes, shingle_k
        ).filter(F.col("minhash").isNotNull())
        band_rows = lsh_band_rows(
            with_sig, id_col, "minhash", bands, n_hashes // bands
        )
    band_rows.write.mode("overwrite").partitionBy("band").parquet(path + "/bands")
    with_sig.select(id_col, "shingles").write.mode("overwrite").parquet(
        path + "/shingles"
    )


def minhash_probe_index(
    spark,
    index_path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and a materialized index:
    (new_id, idx_id, jacc), exact-verified at ``threshold``.

    The batch computes its own signatures (one codegen pass), its band
    rows join the index's band table on (band, h), and only candidate
    ids ever touch shingle sets. Signature parameters must match the
    index build — they define the hash space (including ``portable``,
    which selects the SQL-replayable family).
    """
    if portable:
        new_sig = minhash_signatures_portable(
            new_docs, id_col, text_col, n_hashes, shingle_k
        ).filter(F.col("minhash").isNotNull())
        new_bands = lsh_band_rows_portable(
            new_sig, id_col, "minhash", bands
        ).select(F.col(id_col).alias("new_id"), "band", "h")
    else:
        new_sig = minhash_signatures(
            new_docs, id_col, text_col, n_hashes, shingle_k
        ).filter(F.col("minhash").isNotNull())
        new_bands = lsh_band_rows(
            new_sig, id_col, "minhash", bands, n_hashes // bands
        ).select(F.col(id_col).alias("new_id"), "band", "h")
    idx_bands = spark.read.parquet(index_path + "/bands").select(
        F.col(id_col).alias("idx_id"), "band", "h"
    )
    cands = (
        idx_bands.join(new_bands, ["band", "h"])
        .select("new_id", "idx_id")
        .distinct()
    )
    idx_sets = spark.read.parquet(index_path + "/shingles").select(
        F.col(id_col).alias("idx_id"), F.col("shingles").alias("sh_idx")
    )
    new_sets = new_sig.select(
        F.col(id_col).alias("new_id"), F.col("shingles").alias("sh_new")
    )
    return (
        cands.join(idx_sets, "idx_id")
        .join(new_sets, "new_id")
        .withColumn("jacc", jaccard(F.col("sh_idx"), F.col("sh_new")))
        .filter(F.col("jacc") >= threshold)
        .select("new_id", "idx_id", "jacc")
    )


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: drop train docs sharing any k-word
    shingle with the eval set.

    Returns (survivors, contaminated_ids). The eval side is a
    benchmark — thousands of docs, not billions — so its DISTINCT
    shingle set broadcasts: the train corpus is scanned once, its
    exploded shingles hash-probe the broadcast set, and doc_ids with a
    hit are removed by LEFT ANTI join. No shuffle ever carries the
    corpus text; the only wide row is (doc_id, shingle), and at 100 TB
    the shingle explode stays inside one codegen stage above the scan.
    """
    train = spread_scan(train, id_col)  # r14-opt: parallel shingle map (§2.5)
    tr_sh = train.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
    )
    ev_sh = (
        evalset.select(F.explode(word_shingles(F.col(text_col), k)).alias("shingle"))
        .distinct()
    )
    contaminated = (
        tr_sh.join(F.broadcast(ev_sh), "shingle")
        .select(id_col)
        .distinct()
    )
    survivors = train.join(contaminated, id_col, "left_anti")
    return survivors, contaminated


def contamination_ratio(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-train-doc contamination RATIO: |shingles ∩ eval| / |shingles|.

    The graded refinement of boolean ``decontaminate``: pipelines drop
    at a threshold (e.g. > 0.1) instead of on any single hit, which
    keeps docs that merely quote a benchmark line. Same scale shape —
    eval's distinct shingles broadcast, the corpus scans once; the
    per-doc totals and hit counts are one aggregation over the
    exploded (id, shingle) stream (map-side combinable).
    """
    from bo_sql_spark.functions import word_shingles

    train = spread_scan(train, id_col)  # r14-opt: parallel shingle map (§2.5)
    tr_sh = train.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
    )
    ev_sh = (
        evalset.select(F.explode(word_shingles(F.col(text_col), k)).alias("shingle"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        tr_sh.join(F.broadcast(ev_sh), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
        .select(
            id_col,
            "n_shingles",
            F.col("n_hits").cast("long").alias("n_hits"),
            # integer per-mille: exact in both engines, no float ratio
            F.floor(F.col("n_hits") * 1000 / F.col("n_shingles"))
            .cast("long")
            .alias("contamination_permille"),
        )
    )


# ------------------------------------------------------------- SemDeDup
def _pair_dot_udf():
    """Arrow-vectorized exact dot over candidate PAIRS: products in
    double, SEQUENTIAL accumulation (np.cumsum — the fold order of
    DuckDB's list_dot_product, which the oracles replay). The division
    by the precomputed norms stays engine-side."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pdot(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype=float)
        a = np.stack([np.asarray(v, dtype=np.float64) for v in va])
        b = np.stack([np.asarray(v, dtype=np.float64) for v in vb])
        return pd.Series(np.cumsum(a * b, axis=1)[:, -1])

    return pdot


def _with_norms(
    assigned: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(cell, id, vec, _n): each vector's norm computed ONCE before any
    pairwise pass — same value as sqrt(dot(v,v)) per pair
    (deterministic, oracle-identical), 3x fewer array reductions."""
    from bo_sql_spark.functions import l2_norm

    return assigned.select(
        "cell", F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_n")
    )


def _pairwise_dup_ids(
    withn: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """Ids with a LOWER-id same-cell neighbor at cosine >= threshold —
    the within-cluster pairwise pass shared by semantic_dedup and its
    incremental twin, kept in ONE place so the similarity expression
    and min-id-wins tie rule can never diverge between the batch and
    incremental paths (their byte-equivalence proof depends on it)."""
    hi = withn.select(
        "cell",
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"),
    )
    lo = withn.select(
        "cell",
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    return (
        hi.join(lo, "cell")
        .filter(F.col("_ida") > F.col("_idb"))
        .filter(
            _pair_dot_udf()(F.col("_va"), F.col("_vb"))
            / (F.col("_na") * F.col("_nb"))
            >= threshold
        )
        .select(F.col("_ida").alias(id_col))
        .distinct()
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster
    embeddings, then inside each cluster drop every vector that has a
    LOWER-id neighbor with cosine >= threshold. Returns the survivors
    as (id, cell).

    The published algorithm's structure maps directly onto Spark:
    k-means cluster assignment is the broadcast-centroid argmin the IVF
    family already uses (one corpus scan, no vector shuffle beyond the
    (id, cell) keys), and the within-cluster pairwise pass becomes a
    self-join ON the cell key — the shuffle is hash-partitioned by
    cell, and the O(|cell|^2) comparison never crosses cells. At 100 TB
    the cluster count is scaled with the corpus (SemDeDup uses ~100k
    clusters for billions of docs) precisely so |cell| stays bounded;
    the cells ARE the units of parallel work. min-id-wins makes the
    survivor set deterministic under any partitioning — no dependence
    on comparison order, unlike greedy variants.

    The reference engine has no semantic dedup (no vector types at all);
    this extends its dedup surface the way a training-data pipeline
    needs (cite: reference parser.h:9-14 — SELECT-only surface).
    """
    from bo_sql_spark.operators.similarity import ivf_assign

    # lineage cut: `assigned` feeds THREE consumers (both sides of
    # the pairwise self-join + the final anti-join), and the broadcast-
    # centroid argmin lives in the scan stage with no exchange for
    # Spark to reuse — without the cut it is genuinely computed 3x
    # (the O(n*k) term that dominates at production centroid counts).
    assigned = lineage_cut(
        ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col), eager=True
    )
    dups = _pairwise_dup_ids(
        _with_norms(assigned, id_col, vec_col), threshold, id_col, vec_col
    )
    return assigned.join(dups, id_col, "left_anti").select(
        id_col, F.col("cell").cast("long").alias("cell")
    )


def semantic_pair_cosines(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All within-cell (higher-id, lower-id) pairs with their exact
    cosine — the CALIBRATION surface under semantic_dedup: before
    committing to a threshold over 100 TB, the operating question is
    'how much drops at 0.95 vs 0.9?', and the answer lives in exactly
    the candidate-pair population the dedup actually scores (within
    cells — the cross-cell pairs are unreachable by construction, so
    sweeping them would calibrate against pairs the operator can
    never drop). Same cell-keyed self-join shape and the same
    norm-once cosine expression as _pairwise_dup_ids, so a sweep over
    this table IS the dedup's decision boundary moved along the grid.
    Emits (ida, idb, cos) with ida > idb."""
    from bo_sql_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
    withn = _with_norms(assigned, id_col, vec_col)
    hi = withn.select(
        "cell",
        F.col(id_col).alias("ida"),
        F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"),
    )
    lo = withn.select(
        "cell",
        F.col(id_col).alias("idb"),
        F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    return (
        hi.join(lo, "cell")
        .filter(F.col("ida") > F.col("idb"))
        .select(
            "ida",
            "idb",
            (
                _pair_dot_udf()(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb"))
            ).alias("cos"),
        )
    )


def semantic_dedup_incremental(
    corpus_assigned: DataFrame | None,
    batch: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_assigned: DataFrame | None = None,
) -> DataFrame:
    """Incremental SemDeDup: dedupe a NEW batch against an existing
    corpus assignment without re-pairing the corpus — per-batch cost is
    O(|batch| x cell size), never O(corpus^2). The semantic twin of
    minhash_probe_index / append_ivf_assignment.

    ``corpus_assigned`` is the FULL corpus assignment (id, cell, vec) —
    the same artifact ivf_assign/materialize_ivf_assignment produce —
    not just prior survivors: a batch doc must be dropped if it
    near-matches ANY corpus doc (min-id-wins counts dropped docs as
    killers too), which is what makes this byte-equivalent to running
    semantic_dedup over corpus+batch and restricting to batch ids
    (proven in tests, requires corpus ids < batch ids). Corpus members
    always outrank the batch; inside the batch, min-id-wins.

    ``corpus_assigned=None`` (r15) means "no prior corpus": the corpus
    cross-check is skipped and the result is exactly ``semantic_dedup``
    of the batch — the first-microbatch case of the streaming ingest,
    which previously re-ran the |batch| x |centroids| argmin inside
    semantic_dedup even though the ingest had already materialized the
    identical assignment for its store append.
    """
    from bo_sql_spark.functions import l2_norm
    from bo_sql_spark.operators.similarity import ivf_assign

    # callers that already assigned this batch (the streaming ingest
    # materializes the assignment for the store append anyway) pass it
    # in, avoiding a second |batch| x |centroids| argmin pass
    b = (
        batch_assigned
        if batch_assigned is not None
        # checkpoint for the same reason as semantic_dedup: the batch
        # assignment feeds the corpus cross-check, both sides of the
        # internal pairwise self-join, AND the final anti-join
        else lineage_cut(
            ivf_assign(batch, centroids, id_col=id_col, vec_col=vec_col),
            eager=True,
        )
    )
    bn = _with_norms(b, id_col, vec_col)
    internal = _pairwise_dup_ids(bn, threshold, id_col, vec_col)
    if corpus_assigned is None:
        dups = internal
    else:
        cn = corpus_assigned.select(
            "cell",
            F.col(vec_col).alias("_vc"),
            l2_norm(F.col(vec_col)).alias("_nc"),
        )
        sim_corpus = _pair_dot_udf()(F.col(vec_col), F.col("_vc")) / (
            F.col("_n") * F.col("_nc")
        )
        cross = (
            bn.join(cn, "cell")
            .filter(sim_corpus >= threshold)
            .select(F.col(id_col))
            .distinct()
        )
        dups = cross.unionAll(internal).distinct()
    return b.join(dups, id_col, "left_anti").select(
        id_col, F.col("cell").cast("long").alias("cell")
    )


def semantic_dedup_stream_ingest(
    spark,
    batch: DataFrame,
    centroids: DataFrame,
    store_path: str,
    survivors_path: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> None:
    """One microbatch of streaming SemDeDup: dedupe ``batch`` against
    the assignment store accumulated so far, write this batch's FULL
    assignment to the store (killers count even when dropped — the
    invariant semantic_dedup_incremental's equivalence proof needs),
    and write the batch's survivors. With batch ids arriving in
    increasing order the drained survivors equal one batch SemDeDup
    run over everything (store-precedence == min-id-wins) — proven in
    tests/test_streaming.py. The foreachBatch twin of
    append_ivf_assignment / minhash_probe_index for the semantic
    family.

    Exactly-once: pass foreachBatch's ``batch_id`` and both sinks
    become idempotent per Spark's foreachBatch guidance — survivors
    and store rows land in batch-scoped ``ingest_batch=<id>`` dirs
    written with overwrite, so a microbatch RETRY (same batch_id
    replayed after a crash, including a crash between the two writes)
    rewrites the same paths instead of appending duplicates, and the
    dedup view for batch N reads only ``ingest_batch < N`` dirs — a
    partially-written current-batch dir is never consulted.
    ``batch_id=None`` keeps the plain append behavior for one-shot
    batch callers that manage their own paths (NOT retry-safe; do not
    use from a streaming sink).

    Store discovery goes through the Hadoop FileSystem API
    (``_hadoop_ls``), NOT os.listdir: the store lives wherever the
    checkpoint does (HDFS/S3/local), and a posix listdir on a
    non-local URI silently sees nothing — every batch would treat
    itself as the first and emit wrong survivors with no error."""
    from bo_sql_spark.operators.similarity import ivf_assign
    from bo_sql_spark.parallel import no_spread

    # r14-opt: spread OFF for the whole ingest — the microbatch path
    # runs MANY small actions and the spread repartition multiplied
    # their per-action constants: fresh-session bench pairs measured
    # the ingest 2.3-2.5x SLOWER with spread on (the one family where
    # the single-split fix consistently lost).
    entries = _hadoop_ls(spark, store_path)
    if batch_id is None:
        prior_dirs = (
            [store_path]
            if any(not name.startswith((".", "_")) for name, _ in entries)
            else []
        )
    else:
        prior_dirs = [
            path
            for name, path in entries
            if name.startswith("ingest_batch=")
            and int(name.split("=", 1)[1]) < batch_id
        ]

    def _read_prior():
        # basePath is REQUIRED once two+ batch-scoped dirs exist: each
        # holds its own cell=... partition tree and without a declared
        # common root Spark's partition discovery raises
        # CONFLICTING_DIRECTORY_STRUCTURES (first reachable at batch 2
        # — a >= 3-batch drain is unit-pinned). With basePath, both
        # ingest_batch and cell come back as partition columns; the
        # batch scoping is bookkeeping, not data, so drop it.
        return (
            spark.read.option("basePath", store_path)
            .parquet(*prior_dirs)
            .drop("ingest_batch")
        )

    if batch_id is not None:
        # r15-opt (guide §5, one action per batch): the STORE WRITE IS
        # the materialization of the batch assignment — write it first,
        # read it back, and compute the survivors from the read-back, so
        # the whole microbatch runs TWO actions (store write + survivor
        # write) instead of the r14 four (eager assign checkpoint, surv
        # checkpoint, two writes). Safe only on the batch-scoped path:
        # the incremental view reads an EXPLICIT prior-dir list computed
        # above, so appending this batch's dir cannot race into it, and
        # a retry after a crash between the writes overwrites both dirs
        # (same idempotence as before). Batch 0 also stops paying the
        # argmin twice: semantic_dedup_incremental(corpus=None) reuses
        # the stored assignment instead of re-running semantic_dedup
        # from scratch.
        scoped = f"ingest_batch={int(batch_id)}"
        store_dir = f"{store_path.rstrip('/')}/{scoped}"
        with no_spread():
            b_assigned = ivf_assign(
                batch, centroids, id_col=id_col, vec_col=vec_col
            )
            b_assigned.write.mode("overwrite").partitionBy("cell").parquet(
                store_dir
            )
        b_stored = (
            spark.read.option("basePath", store_path)
            .parquet(store_dir)
            .drop("ingest_batch")
        )
        with no_spread():
            surv = semantic_dedup_incremental(
                _read_prior() if prior_dirs else None,
                batch,
                centroids,
                threshold,
                id_col,
                vec_col,
                batch_assigned=b_stored,
            )
            surv.write.mode("overwrite").parquet(
                f"{survivors_path.rstrip('/')}/{scoped}"
            )
        return

    # batch_id=None (one-shot batch callers, NOT retry-safe): the store
    # read is the whole unscoped dir, so the survivors MUST be computed
    # and materialized before the store append — keep the r14 ordering.
    with no_spread():
        b_assigned = lineage_cut(
            ivf_assign(batch, centroids, id_col=id_col, vec_col=vec_col),
            eager=True,
        )
        if prior_dirs:
            surv = semantic_dedup_incremental(
                _read_prior(),
                batch,
                centroids,
                threshold,
                id_col,
                vec_col,
                batch_assigned=b_assigned,
            )
        else:
            surv = semantic_dedup(batch, centroids, threshold, id_col, vec_col)
    surv = lineage_cut(surv, eager=True)
    surv.write.mode("append").parquet(survivors_path)
    b_assigned.write.mode("append").partitionBy("cell").parquet(store_path)


def _hadoop_ls(spark, path: str) -> list[tuple[str, str]]:
    """(name, full_path) for each direct child of ``path``, via the JVM
    Hadoop FileSystem resolved FROM the path itself — so file://,
    hdfs:// and s3a:// stores all list correctly (a posix os.listdir
    only sees the local FS and silently returns nothing elsewhere).
    Missing path => empty list, same as an empty store.
    Shared implementation: bo_sql_spark.fsutil (round 9 promoted it —
    compaction and the catalog use the same helpers)."""
    from bo_sql_spark import fsutil

    return fsutil.ls(spark, path)


def adaptive_window_hashes(L: int, hash_struct_fmt: str) -> str:
    """SQL expression: array of per-position window hashes over a
    ``_norm`` string column — ``hash_struct_fmt`` is formatted with
    ``{win}`` = the L-char window text at 1-based position p.

    TWO window-text strategies, chosen per ROW by doc length (CASE is
    lazy — only the taken branch evaluates):
    - short docs: substring(_norm, p, L). UTF8String.substring scans
      from the string start to find the p-th codepoint, so
      per-position hashing is O(n^2) in doc length — fine under a few
      KB (and ~20% faster than the array form there: no char array,
      no per-window join), catastrophic beyond it (92s of a 200KB
      doc's 110s wall, measured).
    - long docs: slice() over a char ARRAY (split once, O(1) element
      access, let-bound via the array-wrap idiom so it materializes
      once per row) + array_join => O(n*L) total; the 200KB stress
      doc drops to ~2s.
    Shared by the winnowed sampler and the exact stride-1 twin."""
    seq = f"sequence(1, greatest(length(_norm) - {L} + 1, 1))"
    sub = (
        f"transform({seq}, p -> "
        + hash_struct_fmt.format(win=f"substring(_norm, p, {L})")
        + ")"
    )
    arr = (
        f"element_at(transform(array(split(_norm, '')), cs ->"
        f" transform({seq}, p -> "
        + hash_struct_fmt.format(win=f"array_join(slice(cs, p, {L}), '')")
        + ")), 1)"
    )
    return f"CASE WHEN length(_norm) < 4096 THEN {sub} ELSE {arr} END"


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 40,
    winnow_w: int = 16,
) -> DataFrame:
    """Winnowing-sampled span fingerprints (Schleimer et al., SIGMOD'03
    "Winnowing: Local Algorithms for Document Fingerprinting"):
    (id, n_windows, pos, h) with one row per SELECTED window position —
    for every run of ``winnow_w`` consecutive window starts, the
    position whose (hash, pos) is minimal. Expected density 2/(w+1),
    and the selection is CONTENT-determined (not offset-determined), so
    any substring of length >= winnow_w + span_len - 1 shared by two
    docs yields at least one shared fingerprint in both — the local
    guarantee a plain ``pos % s`` stride does not have (a shifted copy
    samples different windows).

    The 100 TB shape — this is the production form of exact
    duplicate-span detection (dedup_duplicate_spans keeps the stride-1
    exact version as its ground-truth twin): ONE doc-granular shuffle
    co-locates each doc's rows (repartition by id BEFORE the per-
    position explode, so the explode, the sliding min, and the per-doc
    dedup all run pipelined on 1x corpus bytes), and only the sampled
    ~2/(w+1) fingerprint rows — fixed-width (id, pos, 60-bit hash)
    triples, no text — ever shuffle again. Total shuffle is
    corpus_bytes + positions*rowsize*2/(w+1) instead of the exact
    variant's ~50x corpus bytes.

    The hash is the first 15 hex digits of md5 as a BIGINT — portable
    bit-for-bit to any engine with md5 (DuckDB oracle included),
    unlike xxhash64. Ties in the sliding min break by position
    (struct-min over (h, pos)), so selection is deterministic.

    The whole winnow — window hashing AND sliding min — runs as ONE
    per-doc array-expression chain (a doc's position array fits in its
    row): hash array via transform(sequence(...)), window minima via a
    SPARSE-TABLE DOUBLING chain (m_k[i] = least(m_{k-1}[i],
    m_{k-1}[i + 2^{k-1}]), log2(W) transform passes, two lookups per
    element — no per-window slice allocation; the final level folds
    into the winners transform as least(m_L[i], m_L[i + W - 2^L])),
    winners deduped by RUN-LENGTH inside the doc's own array (a
    winner's validity interval is contiguous, so adjacent-run dedup
    IS global dedup — and array_distinct on struct arrays is
    brute-force O(n^2) in Spark, measured ~5min on one 200KB doc).
    try_element_at past the array end yields NULL and least() skips
    NULLs, which reproduces the truncated trailing windows of the old
    rowsBetween(0, W-1) frame exactly. No explode of position rows,
    no repartition, no aggregate, no WindowExec: the operator is a
    pure map and the corpus text never shuffles at all — only the
    ~2/(w+1)-sampled fingerprint rows exist after the explode.
    (Measured at sf0.1: per-window array_min(slice(...)) 4.9s,
    doubling 4.0s fingerprints-only — HOF lambdas are interpreted, so
    lambda-invocation count, not comparison count, is the cost; the
    earlier per-position WindowExec form was faster at 1x but sorts
    and shuffles the whole corpus — see SCALE.md. A block-decomposed
    collect_list variant measured slower than both.) Memory:
    transient O(len(text)) structs per row — fine for KB..MB
    documents; truly huge blobs should chunk upstream first.
    """
    from bo_sql_spark.functions import normalize_text

    L, W = int(span_len), int(winnow_w)
    # r14-opt: the per-doc winnow chain is the expensive map here —
    # spread a single-split input across cores first (guide §2.5;
    # no-op at scale, where the scan already has >= cores splits)
    docs = spread_scan(docs, id_col)
    d = docs.filter(F.col(text_col).isNotNull()).select(
        id_col, normalize_text(F.col(text_col)).alias("_norm")
    )
    nw = F.greatest(F.length("_norm") - L + 1, F.lit(1))
    # per-position (h, pos) structs; ties break by pos via struct
    # order; length-adaptive window extraction (see
    # adaptive_window_hashes for the substring O(n^2) trap)
    hashes = adaptive_window_hashes(
        L,
        "struct(CAST(conv(substring(md5({win}), 1, 15), 16, 10)"
        " AS BIGINT) AS h, p AS pos)",
    )
    # doubling levels until two span-sized ranges cover a W-window
    # (2*span >= W); level k holds m_k[i] = min over [i, i+2^k-1].
    # Two long-doc pitfalls are engineered around here, both found by
    # the 200KB stress test (tests/test_operators.py):
    # 1. Every intermediate array is bound as a LAMBDA VALUE — the
    #    aggregate() accumulator for the levels, and array-wrap
    #    `transform(array(X), v -> ...)` let-bindings for the final
    #    level and the winner array — never as a projected column
    #    referenced inside a later lambda, where inlining would
    #    recompute the whole lower array per element (O(n^2)).
    # 2. Winner dedup is RUN-LENGTH (keep i=1 or winner != previous),
    #    not array_distinct: a winner's validity interval [pos-W+1,
    #    pos] is contiguous so runs ARE the global duplicates, and
    #    array_distinct on struct arrays is brute-force O(n^2) in
    #    Spark (the 200KB doc took ~5 min through it; seconds now).
    level, span = 0, 1
    while span * 2 < W:
        level += 1
        span *= 2
    fold = (
        f"aggregate(sequence(1, {level}), {hashes},"
        " (acc, k) -> transform(sequence(1, size(acc)),"
        " i -> least(try_element_at(acc, i),"
        " try_element_at(acc, i + shiftleft(1, k - 1)))))"
        if level > 0
        else hashes
    )
    winners = F.expr(
        f"""element_at(transform(array({fold}), mL ->
            element_at(transform(array(
                transform(sequence(1, greatest(size(mL) - {W} + 1, 1)),
                          i -> least(try_element_at(mL, i),
                                     try_element_at(mL, i + {W - span})))
              ), wa ->
                filter(transform(sequence(1, size(wa)), i ->
                    CASE WHEN i = 1 THEN element_at(wa, i)
                         WHEN NOT (element_at(wa, i) = element_at(wa, i - 1))
                         THEN element_at(wa, i) END),
                  x -> x IS NOT NULL)
            ), 1)
        ), 1)"""
    )
    return (
        d.select(id_col, nw.alias("n_windows"), F.explode(winners).alias("_m"))
        .select(
            id_col,
            "n_windows",
            F.col("_m.pos").alias("pos"),
            F.col("_m.h").alias("h"),
        )
    )


def duplicate_span_stats_winnowed(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 40,
    winnow_w: int = 16,
) -> DataFrame:
    """Per-doc duplicated-span stats over winnowed fingerprints: a
    fingerprint duplicated across >1 doc is an EXACT duplicated span
    (no false positives vs the stride-1 exact query — every selected
    window is a real window); spans shorter than winnow_w+span_len-1
    chars may be missed (the winnowing locality bound). Columns mirror
    dedup_duplicate_spans with fingerprint granularity: n_fingerprints,
    n_dup_fingerprints, dup_permille (integer, over fingerprints),
    first_dup_pos.

    The cross-doc flag is min(id) != max(id) over a window partitioned
    by h (== COUNT(DISTINCT id) > 1), NOT a dup-set aggregate joined
    back: the join form consumes ``sel`` twice, and each consumer
    re-executes the whole scan->explode->winnow pipeline — measured
    3.2x slower at a 10x corpus. The window keeps one pipeline
    execution; its price is shuffling the (small, sampled) fingerprint
    rows by h and then by id — both bounded by the 2/(w+1) density."""
    sel = winnow_fingerprints(docs, id_col, text_col, span_len, winnow_w)
    from pyspark.sql.window import Window

    wd = Window.partitionBy("h")
    flagged = sel.select(
        id_col,
        "pos",
        (F.min(id_col).over(wd) != F.max(id_col).over(wd)).alias("_dup"),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum(F.when(F.col("_dup"), 1).otherwise(0)).alias(
                "n_dup_fingerprints"
            ),
            F.min(F.when(F.col("_dup"), F.col("pos"))).alias("first_dup_pos"),
        )
        .select(
            id_col,
            F.col("n_fingerprints").cast("long"),
            F.col("n_dup_fingerprints").cast("long"),
            F.expr("n_dup_fingerprints * 1000 DIV n_fingerprints").alias(
                "dup_permille"
            ),
            F.col("first_dup_pos").cast("long"),
        )
    )


def dedup_lines_global(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 8,
) -> DataFrame:
    """C4-style global line-level dedup (Raffel et al. 2020: C4 drops
    any three-sentence span that occurs more than once in the corpus;
    Penedo et al. 2023 RefinedWeb does it per line): every document is
    cut into fixed ``chunk_tokens``-token chunks (the fixture corpus
    has no sentence/line boundaries, so fixed chunks stand in for
    them), and each distinct chunk KEEPS only its first occurrence in
    corpus order (min (doc_id, chunk_no)) — boilerplate repeated
    across pages (headers, footers, license blocks) disappears from
    every copy but the first. Emits per doc: n_chunks, n_kept, and the
    kept text reassembled in chunk order (what the cleaned corpus
    ships).

    Scale shape (round 9 — C4's own trick): the first-occurrence
    window is keyed on a 128-BIT CHUNK FINGERPRINT (xxhash64 pair,
    distinct seeds), so the dedup exchange moves fixed ~28-byte rows
    instead of corpus text; chunk TEXT crosses exactly ONE exchange —
    the per-doc rebuild join — cutting total shuffle bytes ~2x vs the
    r8 text-keyed form (measured: SCALE.md round 9,
    `git show 2f725f8:tools_scaling_r9.py`).
    The keep decisions are aggregated per doc into a sorted index
    array (fixed-width groupBy, already partitioned by doc when it
    reaches the join), then joined back to the tokenized doc row and
    the kept text is rebuilt from the token array — the documents
    table is scanned twice (once per branch), the usual
    scan-vs-shuffle trade at 100 TB where a column-pruned parquet
    re-read is cheaper than a second corpus-text shuffle. Keep
    semantics are identical to grouping on text itself given
    collision-free fingerprints (2^-64 birthday stance at corpus
    scale — the same stance every MinHash/SimHash stage here takes,
    and why the DuckDB oracle may keep grouping on raw text).
    Singleton fingerprints (almost all) pass the window untouched;
    viral chunks concentrate in one task each — bounded by corpus
    frequency of ONE chunk, the same hot-key profile as the LSH band
    buckets (salt the same way if a chunk goes truly viral).
    """
    from pyspark.sql.window import Window

    from bo_sql_spark.functions import tokens

    K = int(chunk_tokens)
    # r15: the r14 spread_scan here was RETRACTED — fresh-session
    # interleaved pairs on dedup_lines_global read spread/no-spread =
    # 0.67x/0.54x/0.58x (sf0.1, noop): the tokenize+chunk map is cheap
    # relative to the added exchange at fixture scale (and the spread
    # is a no-op at production scale, so removal costs nothing there).
    d0 = docs.filter(F.col(text_col).isNotNull()).select(
        id_col, F.col(text_col).alias("_text")
    )
    chunks = (
        d0.select(id_col, tokens(F.col("_text")).alias("_tok"))
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(0, (size(_tok) - 1) DIV {K}),"
                    f" c -> struct(c AS c, array_join(slice(_tok, c * {K} + 1, {K}), ' ') AS chunk))"
                )
            ).alias("_e"),
        )
        .select(id_col, F.col("_e.c").alias("c"), F.col("_e.chunk").alias("chunk"))
    )
    # fixed-width keep decisions: text is dropped BEFORE the window
    # exchange; the fingerprint pair is the partition key
    keyed = chunks.select(
        id_col,
        "c",
        F.xxhash64("chunk").alias("_h1"),
        F.xxhash64(F.lit("bosql:lines:v1"), F.col("chunk")).alias("_h2"),
    )
    w = Window.partitionBy("_h1", "_h2").orderBy(id_col, "c")
    kept = (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("c")).alias("_kept_cs"))
    )
    # rebuild: one text-bearing exchange (the doc-keyed join), moving
    # the RAW text string — NOT the token array, whose UnsafeRow
    # element overhead is ~2-3x the text bytes (measured, SCALE.md
    # round 9, `git show 2f725f8:tools_scaling_r9.py`); tokenization
    # re-runs post-join (CPU for shuffle bytes, the right trade). kept
    # is already hash-partitioned by doc from its groupBy, so only the
    # text side shuffles.
    joined = d0.join(kept, id_col, "left").withColumn(
        "_tok", tokens(F.col("_text"))
    )
    return joined.select(
        id_col,
        F.expr(f"(size(_tok) - 1) DIV {K} + 1").cast("long").alias("n_chunks"),
        # size(NULL) is -1 under the legacy default, so branch, don't coalesce
        F.when(F.col("_kept_cs").isNull(), F.lit(0))
        .otherwise(F.size("_kept_cs"))
        .cast("long")
        .alias("n_kept"),
        F.coalesce(
            F.expr(
                f"array_join(transform(_kept_cs,"
                f" c -> array_join(slice(_tok, c * {K} + 1, {K}), ' ')), ' ')"
            ),
            F.lit(""),
        ).alias("text_kept"),
    )
