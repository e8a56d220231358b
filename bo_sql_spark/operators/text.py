"""Text-analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

All pure column expressions (codegen, zero Python) — these run during
the scan at whatever scale the scan runs. The synthetic ``documents``
fixture is an English-like word salad for every ``lang`` value, so the
language 'detector' is an honest frequency heuristic whose value here is
the operator shape (per-language stopword scoring), not model quality.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from bo_sql_spark.functions import normalize_text, tokens
from bo_sql_spark.parallel import lineage_cut

# Tiny per-language marker-word lists (public common-word sets).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "que", "de"),
    "zh": ("de", "shi", "le", "wo", "ni"),
}

ENGLISH_STOPWORDS = (
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
)


def _marker_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """How many tokens are in the marker set (array_intersect-free:
    counts token occurrences, not distinct matches)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``lang_guess``: argmax over per-language marker-hit counts
    (ties -> lexicographically first language; 'und' when zero hits)."""
    toks = tokens(F.col(text_col))
    scores = F.array(
        *[
            F.struct(
                _marker_hits(toks, words).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(LANG_MARKERS.items())
        ]
    )
    # argmax with ties -> lexicographically FIRST lang: take max hit
    # count, filter to the winners, min(lang).
    max_hits = F.array_max(F.transform(scores, lambda s: s["hits"]))
    winner = F.array_min(
        F.transform(
            F.filter(scores, lambda s: s["hits"] == max_hits),
            lambda s: s["lang"],
        )
    )
    return docs.withColumn(
        "lang_guess", F.when(max_hits > 0, winner).otherwise(F.lit("und"))
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds length/token/stopword/punctuation quality signals + a
    composite ``quality`` in [0, 1] (heuristics in the C4/Gopher style)."""
    norm = normalize_text(F.col(text_col))
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_chars = F.length(norm)
    stop_arr = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = n_chars - F.length(F.regexp_replace(norm, r"[^a-z0-9 ]", ""))
    mean_word_len = (F.length(F.regexp_replace(norm, " ", "")).cast("double")) / n_tok
    stop_ratio = n_stop.cast("double") / n_tok
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    quality = (
        F.least(n_tok.cast("double") / 100.0, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.3
    )
    return docs.select(
        "*",
        n_tok.cast("long").alias("n_tokens"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds whitespace-token and BPE-ish subword counts.

    ``n_subwords`` counts alternating letter/digit runs + isolated
    punctuation (a cheap regex proxy for BPE pre-tokenization).
    """
    ws = F.size(tokens(F.col(text_col))).cast("long")
    pieces = F.size(
        F.filter(
            F.split(
                F.regexp_replace(
                    F.lower(F.col(text_col)), r"([a-z]+|[0-9]+|[^a-z0-9\s])", "$1\x1f"
                ),
                r"\s|\x1f",
            ),
            lambda p: p != "",
        )
    ).cast("long")
    return docs.select("*", ws.alias("n_words"), pieces.alias("n_subwords"))


def doc_term_freq(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The tokenized (id, term, c) term-frequency table — the ONE
    corpus tokenization every downstream per-doc information measure
    folds over. token_entropy and cross_entropy_lm both start here;
    callers that need several measures over the same corpus compute
    this once (lineage_cut it for multi-consumer plans — the
    one-consumer rule at DOC grain: two folds re-deriving this table
    is two full corpus tokenizations at 100 TB)."""
    from bo_sql_spark.parallel import spread_scan

    docs = spread_scan(docs, id_col)  # r14-opt: parallel tokenize (§2.5)
    tk = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    return tk.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def token_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document unigram Shannon entropy in NAT-MICROS, exact:

        H(d) = ln(dl) - (sum_t c_t * ln(c_t)) DIV dl

    (the algebraic rewrite of -sum p ln p with p = c/dl that keeps
    every term a positive integer), computed with the portable
    fixed-point ln — the entropy/perplexity surface the round-9
    ROADMAP said the ln would unlock. Low entropy = repetitive/
    boilerplate (the Gopher-style repetition signals' information-
    theoretic counterpart); ``norm_entropy_permille`` = H/ln(dl) in
    [0, 1000] makes the threshold length-independent (0 for dl <= 1,
    where entropy is degenerate).

    Plan at scale: one (doc, term) counting aggregate, then ln as a
    ~40-integer-op codegen'd map over that tf table (no extra shuffle,
    no Python), then one per-doc aggregate. Emits (id, n_tokens,
    n_unique_terms, entropy_micros, norm_entropy_permille)."""
    return token_entropy_from_tf(doc_term_freq(docs, id_col, text_col), id_col)


def token_entropy_from_tf(tf: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """token_entropy's fold over a pre-tokenized (id, term, c) table
    (doc_term_freq) — the shared-tail split that lets a multi-measure
    consumer (corpus_filter_entropy) tokenize the corpus ONCE."""
    from bo_sql_spark.functions.fixedpoint import with_ln_micros

    tf = with_ln_micros(tf, "c", "_lnc")
    # c * ln(c) DECIMAL(38)-widened (BIGINT wraps at c ~ 3e11); the
    # quotient _sum_cln DIV n_tokens is <= ~44e6 so DIV stays exact.
    per_doc = tf.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_unique_terms"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * _lnc")).alias("_sum_cln"),
    )
    per_doc = with_ln_micros(per_doc, "n_tokens", "_lnn")
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_unique_terms",
        F.expr("_lnn - _sum_cln DIV n_tokens").cast("long").alias(
            "entropy_micros"
        ),
        F.expr(
            "CASE WHEN n_tokens <= 1 THEN 0"
            " ELSE ((_lnn - _sum_cln DIV n_tokens) * 1000) DIV _lnn END"
        )
        .cast("long")
        .alias("norm_entropy_permille"),
    )


def cross_entropy_lm(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document unigram cross-entropy against the corpus MLE
    language model, in NAT-MICROS, exact:

        CE(d) = -(1/dl) sum_t c_t(d) ln(gf_t / N)
              = ln(N) - (sum_t c_t(d) * ln(gf_t)) DIV dl

    — the perplexity-exact upgrade of text_unigram_doc_score's
    log-free skeleton (perplexity = e^CE; filtering thresholds live in
    log space so the exp is never needed). CE = H(d) + KL(d || corpus):
    docs whose token distribution is unusual for the corpus score
    high — the classic LM-based quality filter (CCNet/Gopher lineage),
    here bit-replayable by the oracle because every ln is the shared
    fixed-point step list.

    Plan at scale: global term counts are a vocabulary-grain aggregate
    with ln applied THERE (broadcast back), so the per-posting work is
    one multiply; corpus text never shuffles. Emits (id, n_tokens,
    cross_entropy_micros)."""
    # r15: a lineage cut on the tf table (its LM branch + per-doc fold
    # each re-tokenize; scan audit read 3 parquet scans) was built,
    # measured 0.84x in fresh-session interleaved pairs, and RETRACTED:
    # unlike the doc-grain proxies the other cuts materialize, tf is
    # TOKEN-grain — checkpointing it stores a corpus-sized table, so
    # the 100 TB trade (memory/disk ~ corpus vs one extra tokenize
    # pass) is ambiguous and the fixture wall decides. The composed
    # corpus_filter_entropy keeps its r11 cut: there tf feeds FOUR
    # folds, not two, which is past the break-even.
    return cross_entropy_from_tf(doc_term_freq(docs, id_col, text_col), id_col)


def cross_entropy_from_tf(tf: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """cross_entropy_lm's fold over a pre-tokenized (id, term, c)
    table (doc_term_freq) — shared-tail split, same single-scan story
    as token_entropy_from_tf."""
    from bo_sql_spark.functions.fixedpoint import with_ln_micros

    gf = tf.groupBy("term").agg(F.sum("c").cast("long").alias("gf"))
    gf = with_ln_micros(gf, "gf", "_lngf")
    totals = with_ln_micros(
        gf.agg(F.sum("gf").cast("long").alias("_n_corpus")), "_n_corpus", "_lnN"
    )
    per_doc = (
        tf.join(F.broadcast(gf.select("term", "_lngf")), "term")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            # widened like token_entropy: c * ln(gf) wraps BIGINT once
            # c * 44e6 > 2^63; quotient below is <= ~44e6 micros
            F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * _lngf")).alias(
                "_sum_clngf"
            ),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(totals.select("_lnN")))
        .select(
            id_col,
            "n_tokens",
            F.expr("_lnN - _sum_clngf DIV n_tokens")
            .cast("long")
            .alias("cross_entropy_micros"),
        )
    )


def lm_smoothed_model(tf: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Laplace-smoothed (add-one) unigram LM from a (id, term, c)
    table — the FREEZABLE form of cross_entropy_lm's in-corpus model:
    returns ``(terms, total)`` where terms = (term, _lngf1 =
    ln(gf + 1) micros) and total = one row (n_corpus, n_vocab,
    _lnNV = ln(N + V) micros). Smoothing is what makes the model
    servable: a frozen model must score ARRIVAL docs containing terms
    it never saw, and gf + 1 keeps every ln argument a positive
    integer (unseen term => ln(1) = 0 contribution; the +V in the
    normalizer is the matching Laplace mass). All ln's are the shared
    fixed-point step list, so a DuckDB oracle replays scores
    bit-for-bit. Plan at scale: both outputs are VOCABULARY grain —
    one counting aggregate over the model corpus, ln as a codegen'd
    map over it."""
    from bo_sql_spark.functions.fixedpoint import with_ln_micros

    gf = tf.groupBy("term").agg(F.sum("c").cast("long").alias("gf"))
    terms = with_ln_micros(gf, "gf + 1", "_lngf1").select("term", "_lngf1")
    tot = gf.agg(
        F.sum("gf").cast("long").alias("n_corpus"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
    )
    total = with_ln_micros(tot, "n_corpus + n_vocab", "_lnNV")
    return terms, total


def lm_fit(tf: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the servable LM on a model corpus's (doc_id, term, c) table:
    lm_smoothed_model plus that corpus's mean cross-entropy under the
    model — the frozen relative threshold the LM filter decides
    against. Returns ``(terms, total, mean)``, ``mean`` one row
    (mean_ce). terms and total are lineage-cut (each feeds the mean
    fold and the caller's serve or store write); callers that reuse
    ``tf`` cut it themselves."""
    terms, total = lm_smoothed_model(tf)
    terms = lineage_cut(terms)
    total = lineage_cut(total)
    mean = cross_entropy_served(tf, terms, total).agg(
        F.expr("CAST(SUM(cross_entropy_micros) DIV COUNT(*) AS BIGINT)").alias(
            "mean_ce"
        )
    )
    return terms, total, mean


def cross_entropy_served(
    tf: DataFrame,
    model_terms: DataFrame,
    model_total: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-entropy against a FROZEN smoothed model
    (lm_smoothed_model), in nat-micros, exact:

        CE(d) = ln(N + V) - (sum_t c_t(d) * ln(gf_t + 1)) DIV dl

    with gf_t = 0 for terms the model never saw — the arrival-time
    (train->serve) form of cross_entropy_lm: score new documents
    without touching the model corpus again, the LM-filter analogue
    of ivf_topk_served's economics. The model join is TERM-keyed
    (vocabulary grain — bounded, but not driver-small at web scale,
    so no forced broadcast; AQE picks one when it fits). Emits
    (id, n_tokens, cross_entropy_micros)."""
    per_doc = (
        tf.join(model_terms, "term", "left")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            # widened like the in-corpus fold; unseen terms coalesce
            # to ln(1) = 0
            F.sum(
                F.expr(
                    "CAST(c AS DECIMAL(38,0))"
                    " * coalesce(_lngf1, CAST(0 AS BIGINT))"
                )
            ).alias("_s"),
        )
    )
    return per_doc.crossJoin(
        F.broadcast(model_total.select("_lnNV"))
    ).select(
        id_col,
        "n_tokens",
        F.expr("_lnNV - _s DIV n_tokens").cast("long").alias(
            "cross_entropy_micros"
        ),
    )


def fingerprint(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 30,
) -> DataFrame:
    """Winnowing-style fingerprint: min/max md5 over all ``window``-char
    substrings of the normalized text (two extremes of the hash set —
    a compact, shift-tolerant signature). A pure per-doc map: the
    window hashes build in-array (length-adaptive extraction — see
    operators/dedup.py:adaptive_window_hashes for the substring
    O(n^2)-on-long-docs trap) and min/max are array reductions over
    the let-bound hash array; no explode, no aggregate, no shuffle."""
    from bo_sql_spark.operators.dedup import adaptive_window_hashes

    norm = normalize_text(F.col(text_col))
    base = docs.select(F.col(id_col), norm.alias("_norm"))
    hashes = adaptive_window_hashes(window, "md5({win})")
    # inline(array(struct)) expands both fields from ONE evaluation of
    # the hash array (two field references could inline the whole
    # expression twice per row)
    fp = (
        f"inline(array(element_at(transform(array({hashes}), hs ->"
        f" struct(array_min(hs) AS fp_min, array_max(hs) AS fp_max)), 1)))"
    )
    return base.select(id_col, F.expr(fp))


# Fixed literal weights for the quality classifier stub: a real run
# would learn these (fastText / logreg on labeled docs) and paste the
# trained coefficients here — the serving plan is identical either way.
QUALITY_LOGIT = {
    "bias": -1.2,
    "w_tok": 2.0,     # capped token-count signal
    "w_stop": 3.0,    # stopword ratio (English-ness)
    "w_punct": -4.0,  # punctuation density (boilerplate/code smell)
    "w_mwl": 0.15,    # mean word length
}


def quality_classifier(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Model-backed quality filtering, served as pure expressions.

    A deterministic logistic model over the quality_score signals:
    score = sigmoid(b + w.x). This is the serving shape for ANY linear
    classifier over engineered features — swap the literal weights for
    trained coefficients and nothing else changes; the whole scorer
    stays inside whole-stage codegen (no UDF, no model server in the
    scan path). The keep/drop label cuts on the ROUNDED score so two
    engines computing exp() a ULP apart can never disagree on
    membership.
    """
    w = QUALITY_LOGIT
    norm = normalize_text(F.col(text_col))
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_chars = F.length(norm)
    stop_arr = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = n_chars - F.length(F.regexp_replace(norm, r"[^a-z0-9 ]", ""))
    mean_word_len = F.length(F.regexp_replace(norm, " ", "")).cast("double") / n_tok
    stop_ratio = n_stop.cast("double") / n_tok
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    z = (
        F.lit(w["bias"])
        + F.lit(w["w_tok"]) * F.least(n_tok.cast("double") / 100.0, F.lit(1.0))
        + F.lit(w["w_stop"]) * stop_ratio
        + F.lit(w["w_punct"]) * punct_ratio
        + F.lit(w["w_mwl"]) * mean_word_len
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return docs.select(
        "*",
        score.alias("q_score"),
        F.when(score >= 0.5, "keep").otherwise("drop").alias("q_label"),
    )


# PII patterns kept to the Java-regex / RE2 COMMON SUBSET (character
# classes, bounded quantifiers, \b word boundaries — no lookaround,
# which RE2 lacks) so the Spark plan and a DuckDB oracle find
# byte-identical spans.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+\d{1,3}-\d{3}-\d{3}-\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}
PII_ORDER = ("email", "phone", "ipv4")


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora: count + redact emails, phone
    numbers, and IPv4 addresses, entirely in JVM regex expressions (no
    UDF — the scan-stage shape of a 100 TB corpus scrub). Emits
    per-category counts and the redacted text; replacement runs in
    PII_ORDER with distinct placeholder tokens."""
    out = docs
    red = F.col(text_col)
    for kind in PII_ORDER:
        pat = PII_PATTERNS[kind]
        out = out.withColumn(
            f"n_{kind}",
            # idx=0 = the whole match (Spark defaults to capture group 1)
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))),
        )
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return out.withColumn("redacted", red)


# ------------------------------------------------------------- BPE
# Symbol sequences are SEP-wrapped strings — "<s>a<s><s>b<s>" for
# symbols [a, b] — because merge application is then a plain string
# replace() (identical left-to-right non-overlap semantics in Spark
# and DuckDB), which keeps the whole training loop SQL-expressible
# for the oracle. Each symbol is individually wrapped so a pattern
# "<s>a<s><s>b<s>" can never match across symbol boundaries (a symbol
# ending in "a" followed by "b" reads "...xa<s><s>b..." — no match)
# and adjacent occurrences never share separator chars.
BPE_SEP = "\x1f"


def bpe_init_words(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus scan -> the (seq, freq) word table BPE trains on.

    Words are whitespace tokens of the normalized text with the
    end-of-word marker '_' appended (the classic Sennrich et al. 2016
    setup); seq is the wrapped character representation. THIS is what
    makes BPE training scale-friendly: the corpus is read once, and
    every merge iteration after it runs over the DISTINCT-word
    frequency table (vocab-sized, millions of rows at 100 TB — not
    corpus-sized).
    """
    from bo_sql_spark.functions.textfn import tokens

    s2 = BPE_SEP + BPE_SEP
    w = F.concat(F.col("w"), F.lit("_"))
    return (
        # r15: the r14 spread_scan here was RETRACTED — fresh-session
        # interleaved pairs on text_bpe_train read spread/no-spread =
        # 1.21x/0.91x/0.84x (sf0.1, noop): contradictory instruments
        # with a sub-1.0 median, and the VERDICT r14 tie-break for
        # cheap-map sites favors removal (the driver's own r14 read —
        # bpe 0.44x, 8-core beating 32-core — leaned the same way).
        docs
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            w.alias("w"),
            F.concat(
                F.lit(BPE_SEP),
                F.array_join(F.split(w, ""), s2),
                F.lit(BPE_SEP),
            ).alias("seq"),
            F.col("freq").cast("long").alias("freq"),
        )
    )


def bpe_pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency:
    (a, b, cnt). The BPE training objective — the next merge is the
    argmax. groupBy(a, b) is map-side combinable; shuffle rows are
    vocab-scale pairs, never documents."""
    s2 = BPE_SEP + BPE_SEP
    syms = F.split(F.expr(f"btrim(seq, '{BPE_SEP}')"), s2)
    exploded = (
        state.select(syms.alias("syms"), "freq")
        .filter(F.size("syms") >= 2)
        # guard: Spark sequence(1, 0) would generate DESCENDING [1,0]
        .select(
            "syms",
            "freq",
            F.explode(F.sequence(F.lit(1), F.size("syms") - 1)).alias("i"),
        )
    )
    return exploded.groupBy(
        F.element_at("syms", F.col("i")).alias("a"),
        F.element_at("syms", F.col("i") + 1).alias("b"),
    ).agg(F.sum("freq").alias("cnt"))


def bpe_apply_merge(state: DataFrame, merge_df: DataFrame) -> DataFrame:
    """Apply one merge (a, b) -> ab to every word: a broadcast of the
    1-row merge and a map-side string replace — no shuffle. All state
    columns besides ``seq`` pass through (the segmenting consumers
    carry the original word).

    The merge arrives by LEFT join on a constant key, NOT a crossJoin:
    when training exhausts the pair supply before n_merges (tiny or
    fully-merged corpora) the merge row is EMPTY, and a crossJoin
    with an empty side would silently wipe the whole state —
    bpe_token_counts would return zero docs. With the left join the
    null merge coalesces to a separator pattern no symbol can contain,
    so the step is a no-op and the state survives (pinned in
    tests/test_operators.py::test_bpe_exhausted_merges_is_noop)."""
    others = [c for c in state.columns if c != "seq"]
    pat = F.coalesce(
        F.concat(
            F.lit(BPE_SEP), F.col("a"), F.lit(BPE_SEP + BPE_SEP), F.col("b"), F.lit(BPE_SEP)
        ),
        F.lit(BPE_SEP * 3),  # unmatchable: symbols never contain SEP
    )
    rep = F.coalesce(
        F.concat(F.lit(BPE_SEP), F.col("a"), F.col("b"), F.lit(BPE_SEP)),
        F.lit(BPE_SEP * 3),
    )
    return (
        state.withColumn("_k", F.lit(1))
        .join(
            F.broadcast(merge_df.select("a", "b", F.lit(1).alias("_k"))),
            "_k",
            "left",
        )
        .select("seq", *others, pat.alias("_pat"), rep.alias("_rep"))
        .select(F.expr("replace(seq, _pat, _rep)").alias("seq"), *others)
    )


def _bpe_train_loop(
    docs: DataFrame, n_merges: int, text_col: str
) -> tuple[DataFrame, list[DataFrame]]:
    """The ONE training loop both public BPE entry points build on:
    n_merges iterations of count-pairs -> take-argmax -> apply-merge,
    entirely as DataFrame ops (the argmax joins back by broadcast —
    the driver never sees a row). Ties break deterministically by
    (cnt desc, a, b). Returns (final word state, per-step merge rows).

    Every iteration runs over the vocab-sized word-frequency table
    (see bpe_init_words); state is lineage-cut per step so the
    lazy plan stays linear in n_merges (the argmax feeds both the
    output and the next state — without the cut the plan would double
    per step, same lineage issue as connected_components). Living in
    one place keeps the tie rule and checkpoint strategy identical
    between the merge table bpe_train ships and the state
    bpe_token_counts segments with."""
    state = lineage_cut(bpe_init_words(docs, text_col))
    merges = []
    for step in range(1, n_merges + 1):
        top = lineage_cut(
            bpe_pair_counts(state).orderBy(F.col("cnt").desc(), "a", "b").limit(1)
        )
        merges.append(
            top.select(F.lit(step).cast("long").alias("step"), "a", "b", "cnt")
        )
        state = lineage_cut(bpe_apply_merge(state, top))
    return state, merges


def bpe_train(
    docs: DataFrame, n_merges: int = 6, text_col: str = "text"
) -> DataFrame:
    """Train BPE merges and return the merge table (step, a, b, cnt) —
    the artifact a tokenizer ships. See _bpe_train_loop for the loop's
    design notes; steps past pair exhaustion contribute no rows."""
    _state, merges = _bpe_train_loop(docs, n_merges, text_col)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def bpe_token_counts(
    docs: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer APPLY: train ``n_merges`` BPE merges on the corpus,
    segment every distinct word under them, and count the resulting
    subword tokens per document — the op that prices a corpus in
    tokens under its own tokenizer (sequence packing, token budgets,
    cost estimates all key off it).

    Scale shape: training and segmentation both run on the vocab-sized
    word table; the corpus is touched exactly twice (once to build the
    word table, once to join the per-word piece counts back to the
    token stream by broadcast). Returns (id, n_words, n_bpe_tokens).
    """
    from bo_sql_spark.functions.textfn import tokens

    s2 = BPE_SEP + BPE_SEP
    state, _merges = _bpe_train_loop(docs, n_merges, text_col)
    seg = state.select(
        "w",
        F.size(F.split(F.expr(f"btrim(seq, '{BPE_SEP}')"), s2))
        .cast("long")
        .alias("n_pieces"),
    )
    doctok = (
        docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .select(id_col, F.concat(F.col("w"), F.lit("_")).alias("w"))
    )
    return (
        doctok.join(F.broadcast(seg), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_bpe_tokens"),
        )
    )
