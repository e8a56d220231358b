"""Corpus-quality filtering in the Gopher / C4 family: repetition
signals, rule-based keep/drop with reasons, and overlapping chunking.

Public heritage: the rule set follows the published MassiveText quality
heuristics (Gopher, Rae et al. 2021, arXiv:2112.11446 §A1.1) and C4
(Raffel et al. 2019) — word-count bounds, mean-word-length bounds,
symbol-to-word ratio, stopword presence, and duplicate-n-gram
repetition. No counterpart exists in the reference engine (bo-sql has
no text pipeline); this extends SURVEY.md §2.3's beyond-reference
surface for LLM training-data prep.

Scale design:
- ``gopher_keep`` and the n-gram repetition fractions are PURE column
  expressions over the per-row token array (higher-order functions:
  transform/filter/array_distinct). Zero shuffle, zero Python — the
  whole filter runs inside whole-stage codegen during the scan, so at
  100 TB it costs one pass over the data and prunes before anything
  downstream shuffles.
- ``repetition_signals`` adds the one signal that genuinely needs
  per-document global state (the most-frequent word): explode ->
  groupBy(doc, token) with map-side combine, then a per-doc max —
  shuffle volume is |distinct (doc, token)| counts, not tokens.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from bo_sql_spark.functions import normalize_text

# Gopher's stopword-presence rule uses this 8-word list (public).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# Thresholds from the published Gopher rules; dup-bigram occurrence
# fraction is our repetition cut (MassiveText cuts on duplicate-n-gram
# CHARACTER fractions; occurrence fraction is the same signal family
# and stays exactly portable to the SQL oracle).
GOPHER_RULES = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,  # '#' and '…' per word
    "min_stopword_hits": 2,        # distinct stopwords present
    "max_dup_bigram_frac": 0.5,
}


def _toks(text_col: str) -> Column:
    # coalesce first: one NULL text must not poison booleans downstream.
    return F.split(normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " ")


def _dup_ngram_frac_udf(n: int):
    """Arrow-vectorized duplicate-n-gram fraction over a TOKEN ARRAY
    column (the tokens themselves are still computed by the engine, so
    there is zero tokenizer-replication risk): returns the UNROUNDED
    1 - distinct/total double — the caller applies the engine's own
    F.round, keeping the rounding rule engine-side. N-grams keep their
    multiplicity (repetition measurement needs duplicates — contrast
    ``word_shingles``, which dedups for MinHash)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def frac(toks: pd.Series) -> pd.Series:
        out = np.zeros(len(toks), dtype=np.float64)
        for j, tk in enumerate(toks):
            if tk is None:
                continue  # NULL token array => 0.0
            t = list(tk)
            cnt = len(t)
            if cnt >= n:
                grams = [" ".join(t[i : i + n]) for i in range(cnt - n + 1)]
                out[j] = 1.0 - len(set(grams)) / len(grams)
        return pd.Series(out)

    return frac


def dup_ngram_frac(toks: Column, n: int) -> Column:
    """Fraction of n-gram OCCURRENCES that are repeats of an earlier
    occurrence: 1 - distinct/total. 0.0 for docs with < n tokens. The
    unrounded fraction comes from one Arrow batch stage (exact integer
    counts, one double division); the ROUND runs engine-side."""
    raw = _dup_ngram_frac_udf(n)(toks)
    return F.round(raw, 6)


def gopher_keep(
    docs: DataFrame, text_col: str = "text", rules: dict | None = None
) -> DataFrame:
    """Adds the Gopher rule signals + ``keep`` + ``drop_reasons``
    (comma-joined, '' when kept). Pure narrow map — no shuffle; see
    module docstring for why that matters at corpus scale.

    ``rules`` overrides the GOPHER_RULES thresholds (same keys) —
    production pipelines tune these per corpus (Rae et al. tune per
    source); the defaults stay the published MassiveText values."""
    from bo_sql_spark.parallel import spread_scan

    # r14-opt: the per-doc signal map (incl. the Arrow dup-ngram stage)
    # is the expensive part; spread single-split inputs (guide §2.5)
    docs = spread_scan(docs)
    r = dict(GOPHER_RULES, **(rules or {}))
    toks = _toks(text_col)
    norm = normalize_text(F.coalesce(F.col(text_col), F.lit("")))
    n_words = F.size(toks).cast("long")
    chars_nonspace = F.length(F.regexp_replace(norm, " ", ""))
    mean_word_len = F.when(
        n_words > 0, F.round(chars_nonspace.cast("double") / n_words, 6)
    ).otherwise(F.lit(0.0))
    n_symbols = F.length(norm) - F.length(F.regexp_replace(norm, "[#…]", ""))
    symbol_word_ratio = F.when(
        n_words > 0, F.round(n_symbols.cast("double") / n_words, 6)
    ).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    stopword_hits = F.size(
        F.array_intersect(F.array_distinct(toks), stop_arr)
    ).cast("long")
    bigram_frac = dup_ngram_frac(toks, 2)

    checks = [
        ((n_words >= r["min_words"]) & (n_words <= r["max_words"]), "word_count"),
        (
            (mean_word_len >= r["min_mean_word_len"])
            & (mean_word_len <= r["max_mean_word_len"]),
            "mean_word_len",
        ),
        (symbol_word_ratio <= r["max_symbol_word_ratio"], "symbol_ratio"),
        (stopword_hits >= r["min_stopword_hits"], "stopwords"),
        (bigram_frac <= r["max_dup_bigram_frac"], "repetition"),
    ]
    reasons = F.concat_ws(
        ",",
        F.filter(
            F.array(
                *[
                    F.when(~ok, F.lit(reason)).otherwise(F.lit(None))
                    for ok, reason in checks
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    )
    keep = reasons == ""
    return docs.select(
        "*",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        stopword_hits.alias("stopword_hits"),
        bigram_frac.alias("dup_bigram_frac"),
        keep.alias("keep"),
        reasons.alias("drop_reasons"),
    )


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition profile: duplicate bigram/trigram
    occurrence fractions (array-side, no shuffle) + the most frequent
    word and the fraction of non-space characters it accounts for
    (Gopher's top-word dominance signal; explode -> map-side-combined
    count -> per-doc max).

    Tie-break for the top word: highest count, then lexicographically
    LAST token (max over struct(count, token) — identical binary string
    ordering in Spark and the DuckDB oracle's ORDER BY cnt DESC,
    tok DESC).
    """
    from bo_sql_spark.parallel import spread_scan

    docs = spread_scan(docs, id_col)  # r14-opt: parallel signal map (§2.5)
    toks = _toks(text_col)
    norm = normalize_text(F.coalesce(F.col(text_col), F.lit("")))
    base = docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_words"),
        dup_ngram_frac(toks, 2).alias("dup_bigram_frac"),
        dup_ngram_frac(toks, 3).alias("dup_trigram_frac"),
        F.length(F.regexp_replace(norm, " ", "")).alias("_chars"),
        toks.alias("_toks"),
    )
    counts = (
        base.select(id_col, "_chars", F.explode("_toks").alias("tok"))
        .groupBy(id_col, "_chars", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.groupBy(id_col, "_chars").agg(
        F.max(F.struct(F.col("cnt"), F.col("tok"))).alias("m")
    )
    top = top.select(
        id_col,
        F.col("m.tok").alias("top_word"),
        F.col("m.cnt").alias("top_word_count"),
        F.when(
            F.col("_chars") > 0,
            F.round(
                (F.col("m.cnt") * F.length("m.tok")).cast("double") / F.col("_chars"),
                6,
            ),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("top_word_char_frac"),
    )
    return base.drop("_chars", "_toks").join(top, on=id_col, how="inner")


def chunk_documents(
    docs: DataFrame,
    size: int = 160,
    stride: int = 120,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping fixed-size character chunks (RAG / context-window
    packing primitive): starts at 1, 1+stride, ... while <= length;
    the final chunk may be shorter. NULL/empty documents yield no
    chunks. Explode fans out ~len/stride rows per doc — inherent to
    chunking. Chunks are cut IN-ARRAY before the explode with the
    length-adaptive extraction (operators/dedup.py:
    adaptive_window_hashes rationale): substring(_text, start, size)
    per exploded row re-scans the string from the start (O(n^2) on
    long docs) AND carries the whole text into every chunk row;
    the in-array form carries only each chunk's own bytes."""
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    text = F.col(text_col)
    starts = f"sequence(1, length(_text), {int(stride)})"
    cut_sub = (
        f"transform({starts}, s -> struct(s AS start,"
        f" substring(_text, s, {int(size)}) AS txt))"
    )
    cut_arr = (
        f"element_at(transform(array(split(_text, '')), cs ->"
        f" transform({starts}, s -> struct(s AS start,"
        f" array_join(slice(cs, s, {int(size)}), '') AS txt))), 1)"
    )
    chunks = (
        f"CASE WHEN _text IS NULL OR length(_text) = 0"
        f" THEN CAST(array() AS array<struct<start:int,txt:string>>)"
        f" WHEN length(_text) < 4096 THEN {cut_sub}"
        f" ELSE {cut_arr} END"
    )
    out = docs.select(
        F.col(id_col),
        text.alias("_text"),
    ).select(
        F.col(id_col),
        F.posexplode(F.expr(chunks)).alias("chunk_idx", "_c"),
    )
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("_c.start").cast("long").alias("chunk_start"),
        F.col("_c.txt").alias("chunk_text"),
        F.length("_c.txt").cast("long").alias("chunk_len"),
    )
