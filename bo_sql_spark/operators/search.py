"""Keyword retrieval over the document corpus: inverted-index
conjunctive search and fixed-point BM25 ranking.

Beyond-reference surface (SURVEY §2.3): the lookup side of a training
corpus — "find the documents containing these terms / rank them" — is
the same posting-list algebra a search engine runs, and it maps onto
Spark as pure relational ops:

- a POSTING LIST is just the distinct (term, doc_id) relation; building
  it is explode + distinct, querying it is a filter on term followed by
  a doc-grain aggregate. The term filter lands BEFORE any shuffle, so
  the shuffled volume is proportional to the query terms' selectivity,
  never the corpus (and against a materialized term-partitioned store
  it becomes partition pruning, the text twin of the IVF served index).
- BM25's per-term score is a rational function of integer counts
  (tf, df, dl, avgdl) times an idf. The idf is the TEXTBOOK log form
  — the Lucene/BM25+ variant idf = ln(1 + (N - df + 0.5)/(df + 0.5))
  = ln(2N + 2) - ln(2df + 1), always positive — computed with the
  portable fixed-point ln (functions/fixedpoint.py), so the WHOLE
  score still runs in exact BIGINT/DECIMAL arithmetic: no libm, no
  float summation order, and a DuckDB oracle replays every score
  bit-for-bit (oracle-determinism doctrine). The rounds-1-9 linear
  surrogate idf = (N * 1e6) DIV df survives as explicit ``_linear``
  forms (monotone per term, but multi-term sums can order differently
  from log-idf — which is why the textbook form is now the default).
  idf lives at TERM grain: the ln steps run on the vocabulary-sized
  df table before the posting join, never per posting row. k1/b are
  fixed-point micros (k1=1.2, b=0.75 — the textbook defaults,
  Robertson & Walker '94).

Tokenization is the registry-wide convention (text_tfidf_topk,
text_token_count): lowercase, collapse whitespace, split on space.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# serve-time memo for bm25_served's _terms build-stamp check:
# terms_path -> ((terms mtime_ms, stats mtime_ms), verdict). Keyed on
# both tables' mtimes, so any rebuild/append invalidates it; process
# lifetime only (a serving fleet's model-metadata cache, in miniature).
_TERMS_STAMP_MEMO: dict[str, tuple[tuple[int, int], bool]] = {}

# BM25 constants in micros: k1 = 1.2, b = 0.75
K1_MICROS = 1_200_000
B_MICROS = 750_000
_M = 1_000_000


def doc_terms(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, term) token stream — one row per token occurrence."""
    from bo_sql_spark.parallel import spread_scan

    # r14-opt: parallel tokenize on single-split inputs (guide §2.5;
    # no-op at scale) — this is the scan edge of every search build
    return spread_scan(docs, id_col).select(
        F.col(id_col),
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " ")), " ")
        ).alias("term"),
    ).filter(F.col("term") != "")


def conjunctive_search(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents containing ALL of ``terms``: the posting-list AND.

    Plan at scale: the term filter applies at token grain before
    anything shuffles, so the groupBy moves only (doc_id, term) pairs
    for the |terms| query terms — selectivity-proportional, never
    corpus-proportional. The HAVING count(distinct term) = k is the
    classic postings intersection as an aggregate (no k-way self-join).
    """
    if not terms:
        raise ValueError("conjunctive_search needs at least one term")
    toks = doc_terms(docs, id_col, text_col)
    hits = (
        toks.filter(F.col("term").isin(list(terms)))
        .groupBy(id_col)
        .agg(F.count_distinct("term").alias("_nt"))
        .filter(F.col("_nt") == len(set(terms)))
        .select(id_col)
    )
    return hits


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    idf_mode: str = "log",
) -> DataFrame:
    """Top-k documents by fixed-point BM25 over ``terms`` (OR query).

    score(d) = sum over query terms t of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

    computed entirely in integer micros:
        idf_micros   = ln_micros(2*n_docs + 2) - ln_micros(2*df + 1)
                       -- the textbook (Lucene) BM25 idf
                       ln((N + 1)/(df + 0.5)), via the portable
                       fixed-point ln; ``idf_mode='linear'`` selects
                       the historical (n_docs * 1e6) DIV df surrogate
        dlr_micros   = (dl * 1e6 * n_docs) DIV sum_dl -- dl/avgdl,
                       DECIMAL(38)-widened (BIGINT would wrap past
                       n_docs ~ 1e10 at typical dl)
        denom_micros = tf*1e6 + k1*(1-b)*1e6
                       + (k1_micros * b_micros DIV 1e6 * dlr) DIV 1e6
        tfpart       = (tf * (k1+1e6) * 1e6) DIV denom -- <= 2.2e6,
                       DECIMAL(38)-widened numerator
        term_score   = (idf * tfpart) DIV 1e6  -- log idf <= ~44e6 so
                       the product stays far inside BIGINT

    Every DIV is floor division on positives — identical in Spark and
    DuckDB — so scores (and the top-k cut) are cross-engine exact.
    Plan at scale: term filter before any shuffle; df and the length
    stats are tiny aggregates broadcast back; the ln steps run on the
    |query terms|-row idf table, never per posting; the final top-k
    is a TakeOrderedAndProject, never a global sort.
    """
    if not terms:
        raise ValueError("bm25_topk needs at least one term")
    # r15-opt (§2.3 aggregate-before-shuffle / §2.4 remove shuffles):
    # the dl, tf and df branches each re-planned the tokenize pass —
    # the r15 scan audit read 4 parquet scans of documents in
    # text_bm25_topdocs' ONE executed plan, i.e. the corpus was
    # tokenized four times for one ranking. One doc-grain aggregate
    # now computes dl and a conditional tf count per query term in a
    # single pass (query terms are FEW by definition — an OR query's
    # term list, 3 here); tf rows are unpivoted from it, df/corpus
    # stats fold over it, and dl rides along so the old corpus-wide
    # tf-dl join disappears. Same integers everywhere (count/sum
    # reorderings of exact longs), so scores and the top-k cut are
    # unchanged — oracle untouched. The doc-grain table (a per-doc
    # row of 1 + |terms| longs) is deliberately NOT cut although it
    # has 3 consumers: a lineage cut on it was measured at 0.76x (the
    # ExistingRDD leaf breaks codegen/AQE) and dropped, so each
    # consumer plans its own copy of the tokenize+aggregate pass.
    tl = list(dict.fromkeys(terms))
    toks = doc_terms(docs, id_col, text_col)
    per_doc = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"_tf{i}")
            for i, t in enumerate(tl)
        ],
    )
    corpus = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        per_doc.select(
            F.col(id_col),
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("term"),
                            F.col(f"_tf{i}").alias("tf"),
                        )
                        for i, t in enumerate(tl)
                    ]
                )
            ).alias("_s"),
        )
        .select(id_col, "dl", F.col("_s.term").alias("term"), F.col("_s.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = bm25_term_idf(df_, corpus, idf_mode=idf_mode)
    joined = tf.join(F.broadcast(idf), "term")
    return bm25_fold(joined, k=k, id_col=id_col)


def bm25_term_idf(df_: DataFrame, corpus: DataFrame, idf_mode: str = "log") -> DataFrame:
    """Per-term idf table (term, idf_micros, n_docs, sum_dl) from the
    df table and the 1-row corpus stats — the grain where the
    fixed-point ln runs (|query terms| rows, broadcast onward; never
    per posting). Carries the corpus stats columns through so the
    corpus-aggregate subtree is consumed EXACTLY once in the final
    plan (a second crossJoin would recompute the whole dl chain —
    caught by plan lint as an exchange regression).

    'log' (default): the Lucene BM25 idf ln(1 + (N - df + 0.5)/(df + 0.5))
    = ln(2N + 2) - ln(2df + 1), strictly positive since df <= N.
    'linear': the historical monotone surrogate (N * 1e6) DIV df."""
    from bo_sql_spark.functions.fixedpoint import with_ln_micros

    t = df_.crossJoin(F.broadcast(corpus))
    if idf_mode == "log":
        t = with_ln_micros(t, "2 * n_docs + 2", "_ln_n")
        t = with_ln_micros(t, "2 * df + 1", "_ln_df")
        t = t.withColumn("idf_micros", F.expr("_ln_n - _ln_df"))
    elif idf_mode == "linear":
        t = t.withColumn("idf_micros", F.expr("(n_docs * 1000000L) DIV df"))
    else:
        raise ValueError(f"unknown idf_mode {idf_mode!r}")
    return t.select("term", "idf_micros", "n_docs", "sum_dl")


def bm25_fold(joined: DataFrame, k: int, id_col: str = "doc_id") -> DataFrame:
    """The fixed-point BM25 fold over per-(doc, term) rows carrying
    (tf, idf_micros, dl, n_docs, sum_dl) — the shared tail of the
    one-shot ranker (bm25_topk) and the served ranker (bm25_served),
    so both produce bit-identical scores by construction. The idf
    arrives precomputed at term grain (bm25_term_idf); the dl-ratio
    and tf-saturation numerators run DECIMAL(38)-widened so nothing
    wraps at 100 TB row counts (BIGINT dl*1e6*n_docs overflows past
    n_docs ~ 1e10)."""
    k1_1 = K1_MICROS + _M  # (k1 + 1) in micros
    k1_1mb = K1_MICROS * (_M - B_MICROS) // _M  # k1*(1-b) micros = 300000
    k1b = K1_MICROS * B_MICROS // _M  # k1*b micros = 900000
    scored = (
        joined
        .withColumn(
            "dlr_micros",
            F.expr(
                "CAST(CAST(dl AS DECIMAL(38,0)) * 1000000 * n_docs"
                " DIV sum_dl AS BIGINT)"
            ),
        )
        .withColumn(
            "denom_micros",
            F.expr(
                f"tf * 1000000L + {k1_1mb}L + ({k1b}L * dlr_micros) DIV 1000000L"
            ),
        )
        .withColumn(
            "tfpart_micros",
            F.expr(
                f"CAST(CAST(tf AS DECIMAL(38,0)) * {k1_1} * 1000000"
                " DIV denom_micros AS BIGINT)"
            ),
        )
        .withColumn(
            # idf * tfpart runs DECIMAL(38)-widened: log idf is bounded
            # (<= ~44e6 micros) but this fold is SHARED with
            # idf_mode='linear', where idf_micros = (n_docs * 1e6) DIV df
            # reaches ~1e16 at n_docs ~ 1e10 / df = 1 and the plain
            # BIGINT product would wrap silently in non-ANSI Spark
            # (the oracle mirrors with HUGEINT).
            "term_score",
            F.expr(
                "CAST(CAST(idf_micros AS DECIMAL(38,0)) * tfpart_micros"
                " DIV 1000000 AS BIGINT)"
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("term_score").cast("long").alias("bm25_micros"),
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
    )
    return per_doc.orderBy(F.col("bm25_micros").desc(), id_col).limit(k)


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-phrase match via POSITIONAL postings: docs where the
    phrase's words occur consecutively; emits (id, n_matches).

    The anchor trick makes the phrase test a plain aggregate instead
    of a k-way positional self-join: every occurrence of phrase word
    i at position p contributes the anchor p - i, and a phrase match
    at start position s puts ALL k words on the same anchor s — so a
    (doc, anchor) group holding all k distinct word-indices IS a
    match. One corpus scan (the phrase-word map is a broadcast k-row
    join, which also handles repeated words like 'fast fast'), one
    shuffle of query-word hits only — same selectivity-bound story as
    conjunctive_search, plus a position per row."""
    if not phrase:
        raise ValueError("phrase_search needs a non-empty phrase")
    toks = doc_positions(docs, id_col, text_col)
    qdf = docs.sparkSession.createDataFrame(
        [(w, i) for i, w in enumerate(phrase)], "term string, _idx int"
    )
    hits = toks.join(F.broadcast(qdf), "term").select(id_col, "pos", "_idx")
    return _phrase_fold(hits, len(phrase), id_col)


def doc_positions(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, pos, term) positional token stream (0-based positions)."""
    from bo_sql_spark.parallel import spread_scan

    return spread_scan(docs, id_col).select(
        F.col(id_col),
        F.posexplode(
            F.split(F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " ")), " ")
        ).alias("pos", "term"),
    ).filter(F.col("term") != "")


def _phrase_fold(hits: DataFrame, n_words: int, id_col: str) -> DataFrame:
    """The anchor aggregate over (id, pos, _idx) phrase-word hits —
    shared by the one-shot scanner and the positional-index server, so
    both produce identical matches by construction."""
    anchors = (
        hits.select(id_col, (F.col("pos") - F.col("_idx")).alias("_anchor"), "_idx")
        .groupBy(id_col, "_anchor")
        .agg(F.count_distinct("_idx").alias("_ni"))
        .filter(F.col("_ni") == n_words)
    )
    return anchors.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches")
    )


def proximity_search(
    docs: DataFrame,
    terms: list[str],
    window: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Proximity match: docs where ALL ``terms`` (distinct words, any
    order) co-occur within a ``window``-token span; emits
    (id, n_matches) with n_matches = hit positions whose trailing
    window completes the set.

    The bitmask-window trick: term i contributes bit 1<<i at its
    positions, and a RANGE-frame sliding window (window-1 PRECEDING ..
    CURRENT) OR-folds the bits — a frame whose mask is all-ones holds
    every term within the span. Checking only windows ENDING at a hit
    is exhaustive (any covering span shrinks to one ending at its last
    hit). The window partitions by doc and runs over QUERY-TERM HITS
    only, not the token stream — same selectivity-bound shuffle as
    conjunctive_search, plus a position and a bit per row."""
    uniq = sorted(set(terms))
    if not uniq:
        raise ValueError("proximity_search needs at least one term")
    if len(uniq) > 62:
        raise ValueError("proximity_search supports at most 62 distinct terms")
    toks = doc_positions(docs, id_col, text_col)
    qdf = docs.sparkSession.createDataFrame(
        [(w, 1 << i) for i, w in enumerate(uniq)], "term string, _bit long"
    )
    hits = toks.join(F.broadcast(qdf), "term").select(
        id_col, F.col("pos").cast("long").alias("pos"), "_bit"
    )
    return _proximity_fold(hits, int(window), len(uniq), id_col)


def _proximity_fold(
    hits: DataFrame, window: int, n_terms: int, id_col: str
) -> DataFrame:
    """The bitmask RANGE-window fold over (id, pos, _bit) hits —
    shared by the one-shot scanner and the positional-index server."""
    from pyspark.sql import Window as W

    wspec = W.partitionBy(id_col).orderBy("pos").rangeBetween(-(window - 1), 0)
    full = (1 << n_terms) - 1
    masked = hits.withColumn("_mask", F.expr("bit_or(_bit)").over(wspec))
    return (
        masked.filter(F.col("_mask") == full)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
    )


# The schemas the store's writers produce, column for column as a
# reader sees them (hive partition column ``tb`` last). Every read of a
# store table passes its schema, so opening a table infers nothing: no
# footer-reading job runs before the read's own job.
# tests/test_scale_ops.py pins these against every writer.
STATS_SCHEMA = "n_docs long, sum_dl long"
TERMS_SCHEMA = (
    "term string, idf_micros long, n_docs long, sum_dl long, df long, tb int"
)


def postings_schema(id_col: str = "doc_id") -> str:
    """The postings table's schema for a store keyed by ``id_col``."""
    return (
        f"`{id_col}` long, term string, tf long, positions array<long>,"
        " dl long, tb int"
    )


def _term_bucket(term: Column, n_term_buckets: int) -> Column:
    """The store's partition key ``tb`` of a term: one definition for
    the writers (over the term column) and the readers (over literals)."""
    return F.pmod(F.xxhash64(term), F.lit(int(n_term_buckets)))


def _bucket_filter(terms: list[str], n_term_buckets: int) -> Column:
    """``tb IN (buckets of terms) AND term IN (terms)``. Each bucket id
    is ``_term_bucket`` over a literal, so Catalyst constant-folds it
    and the scan keeps a literal ``tb IN (...)`` PartitionFilter: only
    the query terms' bucket directories are read, and no driver job
    computes the buckets."""
    buckets = [_term_bucket(F.lit(t), n_term_buckets).cast("int") for t in terms]
    return F.col("tb").isin(*buckets) & F.col("term").isin(list(terms))


def materialize_inverted_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_term_buckets: int = 64,
) -> None:
    """Persist posting lists as parquet PARTITIONED BY term bucket —
    the text twin of materialize_ivf_assignment.

    The scale fix for per-query tokenization: building postings costs
    a full corpus scan, so paying it inside every search makes each
    query O(corpus). Materialized once at (term, doc_id, tf) grain and
    partitioned by ``tb = pmod(xxhash64(term), n_term_buckets)``, a
    query's term filter becomes PARTITION PRUNING at the source — the
    scan touches only the query terms' bucket directories,
    O(terms_probed / n_term_buckets) of the index, and the corpus is
    tokenized exactly once per (re)build, amortized over every query.
    Bucketing by term HASH (not raw term) keeps the directory count
    fixed and hot terms spread across files within a bucket.

    Postings are denormalized with the doc length ``dl``; a corpus
    stats table (n_docs, sum_dl) is written beside the index at
    ``<path>_stats`` and a PRECOMPUTED per-term idf table
    (term, idf_micros, df, n_docs, sum_dl — log mode, partitioned by
    the same tb) at ``<path>_terms`` — everything ranked serving
    (bm25_served) needs, so a scoring query never rescans the corpus
    and never re-runs the fixed-point ln chain. Each posting also carries its sorted
    ``positions`` array (the classic positional index), which is what
    lets phrase and proximity queries serve partition-pruned too
    (phrase_served / proximity_served) — positions explode AFTER the
    pruned scan, so the cost is per-hit, never per-corpus."""
    from bo_sql_spark.parallel import lineage_cut

    toks = doc_positions(docs, id_col, text_col)
    # r14-opt: tokenize ONCE — dl is derivable from the postings
    # (dl = sum of tf per doc, bit-identical to counting token rows),
    # so the corpus scan+explode no longer runs twice (one-consumer
    # rule), and the cut serves both the dl fold and the final join.
    post0 = lineage_cut(
        toks.groupBy("term", id_col).agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos").cast("long"))).alias(
                "positions"
            ),
        )
    )
    dl = post0.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    post = post0.join(dl, id_col).withColumn(
        "tb", _term_bucket(F.col("term"), n_term_buckets)
    )
    # r14-opt: cluster by the partition column before the partitioned
    # write (guide §6.2) — files per bucket stay ONE regardless of the
    # upstream map parallelism (the spread repartition otherwise fans
    # the write into tasks x buckets small files); n_term_buckets is
    # the write-parallelism/file-size knob at production scale.
    post.repartition("tb").write.mode("overwrite").partitionBy("tb").parquet(path)
    dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    ).write.mode("overwrite").parquet(path.rstrip("/") + "_stats")
    # PRECOMPUTED per-term idf (<path>_terms, partitioned by the same
    # term bucket): the fixed-point-ln chain runs ONCE at build time
    # over the vocabulary-grain df table, so a served ranked query
    # reads (term, idf_micros) partition-pruned instead of re-running
    # two ln step-chains per query — the r10-verdict ask after the
    # log-idf upgrade showed up in the bm25 serve wall. Built by
    # reading BACK the written postings (a postings scan, never a
    # second corpus tokenization). Streaming-appended stores don't
    # have this table (appends would stale it) — bm25_served falls
    # back to computing idf from the pruned postings, bit-identically.
    spark = docs.sparkSession
    written = spark.read.schema(postings_schema(id_col)).parquet(path)
    df_ = written.groupBy("term").agg(
        F.count_distinct(id_col).cast("long").alias("df")
    )
    corpus = spark.read.schema(STATS_SCHEMA).parquet(path.rstrip("/") + "_stats")
    bm25_term_idf(df_, corpus, idf_mode="log").join(df_, "term").withColumn(
        "tb", _term_bucket(F.col("term"), n_term_buckets)
    ).repartition("tb").write.mode("overwrite").partitionBy("tb").parquet(
        path.rstrip("/") + "_terms"
    )


def append_postings(
    batch_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_term_buckets: int = 64,
) -> None:
    """THE append path for a postings store — the only mutation that
    keeps the three-table invariant (postings / ``_stats`` /
    ``_terms``) honest.

    Appending posting rows stales BOTH derived tables: ``_stats``'s
    (n_docs, sum_dl) and every ``_terms`` idf. Stats are sum-mergeable
    (per-doc-local facts), so this path merges the batch's counts into
    the 1-row ``_stats`` table; idf is NOT mergeable (ln of a global
    ratio), so ``_terms`` is DELETED FIRST — bm25_served then falls
    back to computing df from the pruned postings, bit-identically,
    until the next materialize_inverted_index rebuild restores the
    precomputed table. Deleting before appending means a crash
    mid-append can never leave a stale ``_terms`` serving wrong idf
    (the ADVICE-r11 hole); the narrower crash window between append
    and stats-merge is recovered by rebuilding, and bm25_served's
    stamp check (``_terms`` vs ``_stats`` denormalized totals) guards
    the rebuild-crash skew too. Raw out-of-band writes to the store
    directory are outside the contract."""
    spark = batch_docs.sparkSession
    from bo_sql_spark import fsutil

    terms_path = path.rstrip("/") + "_terms"
    if fsutil.exists(spark, terms_path):
        fsutil.delete(spark, terms_path)
    from bo_sql_spark.parallel import lineage_cut

    # r14-opt: same one-tokenize + clustered-write shape as the full
    # rebuild (dl = sum(tf) per doc, bit-identical; repartition("tb")
    # bounds appended files to one per touched bucket)
    toks = doc_positions(batch_docs, id_col, text_col)
    post0 = lineage_cut(
        toks.groupBy("term", id_col).agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos").cast("long"))).alias(
                "positions"
            ),
        )
    )
    dl = post0.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    (
        post0.join(dl, id_col)
        .withColumn("tb", _term_bucket(F.col("term"), n_term_buckets))
        .repartition("tb")
        .write.mode("append")
        .partitionBy("tb")
        .parquet(path)
    )
    stats_path = path.rstrip("/") + "_stats"
    batch_stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    if fsutil.exists(spark, stats_path):
        prev = spark.read.schema(STATS_SCHEMA).parquet(stats_path).first()
        batch_stats = batch_stats.select(
            (F.col("n_docs") + F.lit(int(prev["n_docs"]))).alias("n_docs"),
            (F.col("sum_dl") + F.lit(int(prev["sum_dl"]))).alias("sum_dl"),
        )
    # rewrite through a staging dir: parquet overwrite deletes-then-
    # writes, and the source of the new row includes the old table
    new_rows = [tuple(r) for r in batch_stats.collect()]
    spark.createDataFrame(new_rows, STATS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(stats_path)


def compact_postings_store(
    spark, index_path: str, target_rows_per_file: int = 1_000_000
) -> tuple[int, int]:
    """Compact the term-bucket-partitioned postings store in place;
    returns (files_before, files_after).

    The streaming ingest (stream_search_index_ingest) APPENDS a few
    files per microbatch — exactly the small-file accumulation
    compact_table exists to fix: a year of 30s triggers is ~a million
    tiny files, and every served query then pays listing + footer
    fetches proportional to HISTORY, not data. Compaction rewrites
    each ``tb=<bucket>`` hive partition into ceil(rows/target) files
    (compact_table's per-partition bin keys — no cross-bucket
    shuffle coupling, partition dirs preserved so serving's partition
    pruning keeps working), and serving is equivalence-preserved by
    construction: postings are (term, doc_id)-grain facts with no
    intra-file ordering contract, so a query's pruned scan reads the
    same rows from fewer files. Graded end-to-end by
    stream_search_index_compacted (serve-after-compact replays the
    same oracle as serve-before)."""
    from bo_sql_spark.sinks import compact_table

    return compact_table(
        spark, index_path, target_rows_per_file, partition_by=["tb"]
    )


def search_served(
    spark,
    index_path: str,
    terms: list[str],
    n_term_buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Conjunctive search answered from a materialized inverted index.

    The query terms' buckets are the writer's hash over literals,
    folded by Catalyst into ``tb IN (buckets)`` on the partition
    column: PartitionFilters in the plan, only those directories are
    read, and building the DataFrame fires no Spark job. Emits
    (id, n_terms_hit, tf_sum) for docs containing ALL terms."""
    if not terms:
        raise ValueError("search_served needs at least one term")
    uniq = sorted(set(terms))
    idx = spark.read.schema(postings_schema(id_col)).parquet(index_path)
    return (
        idx.filter(_bucket_filter(uniq, n_term_buckets))
        .groupBy(id_col)
        .agg(
            F.count_distinct("term").alias("_nt"),
            F.sum("tf").cast("long").alias("tf_sum"),
        )
        .filter(F.col("_nt") == len(uniq))
        .select(id_col, F.col("_nt").cast("long").alias("n_terms_hit"), "tf_sum")
    )


def bm25_served(
    spark,
    index_path: str,
    terms: list[str],
    k: int = 20,
    n_term_buckets: int = 64,
    id_col: str = "doc_id",
    idf_mode: str = "log",
) -> DataFrame:
    """BM25 top-k answered from a materialized inverted index — the
    amortized twin of bm25_topk, scores bit-identical by construction
    (shared bm25_fold).

    Everything the score needs is in the index: tf and dl are posting
    columns, and (for the default log idf) the per-term idf_micros is
    READ from the build-time ``<path>_terms`` table, partition-pruned
    by the same term buckets — the ln step-chains ran once at build,
    never per query, and a build-stamp check (the terms rows'
    denormalized n_docs/sum_dl vs the live ``_stats`` row) guarantees
    the precomputed idf is from THIS build — a stale table from a
    crashed rebuild or an out-of-contract append demotes to the
    fallback instead of silently serving old idf. Stores without a
    terms table (append_postings deletes it on every append)
    fall back to computing df from the PRUNED postings — exact,
    because partition pruning keeps every posting of the query terms,
    and bit-identical since the same fixed-point steps run. So a
    ranked query reads O(query term buckets) of the index and never
    touches the corpus text; the build's tokenization scan is
    amortized over every query served (the ivf_topk_served economics,
    for text)."""
    if not terms:
        raise ValueError("bm25_served needs at least one term")
    from bo_sql_spark import fsutil

    uniq = sorted(set(terms))
    pruned = _bucket_filter(uniq, n_term_buckets)
    post = spark.read.schema(postings_schema(id_col)).parquet(index_path).filter(pruned)
    terms_path = index_path.rstrip("/") + "_terms"
    use_terms = idf_mode == "log" and fsutil.exists(spark, terms_path)
    if use_terms:
        # build-stamp consistency check (ADVICE r11): ``_terms`` rows
        # denormalize the (n_docs, sum_dl) the idf was built FROM, so
        # comparing one pruned terms row against the live 1-row
        # ``_stats`` table detects a terms table that outlived its
        # postings (rebuild crashed between stats and terms, or an
        # out-of-contract append that merged stats). Mismatch falls
        # back to the postings-derived idf — bit-identical, just not
        # amortized. Cost: two 1-row driver reads on the FIRST serve;
        # repeat serves in a resident session skip the re-read via an
        # mtime-keyed memo (a rebuild rewrites both tables, changing
        # the mtimes; an append deletes ``_terms`` entirely), so a
        # repeat serve builds its DataFrame without firing any Spark
        # job (measured: the uncached check is ~70ms, comparable to
        # the fallback's whole df aggregate at small SF).
        stats_path = index_path.rstrip("/") + "_stats"
        memo_key = terms_path
        try:
            stamp = (fsutil.mtime_ms(spark, terms_path),
                     fsutil.mtime_ms(spark, stats_path))
        except Exception:
            stamp = None
        cached = _TERMS_STAMP_MEMO.get(memo_key)
        if stamp is not None and cached is not None and cached[0] == stamp:
            use_terms = cached[1]
        else:
            t_row = (
                spark.read.schema(TERMS_SCHEMA).parquet(terms_path)
                .filter(pruned)
                .select("n_docs", "sum_dl")
                .first()
            )
            s_row = spark.read.schema(STATS_SCHEMA).parquet(stats_path).first()
            if t_row is not None and (
                t_row["n_docs"] != s_row["n_docs"]
                or t_row["sum_dl"] != s_row["sum_dl"]
            ):
                use_terms = False
            if stamp is not None and t_row is not None:
                _TERMS_STAMP_MEMO[memo_key] = (stamp, use_terms)
    if use_terms:
        # the build-time idf table: same partition pruning as the
        # postings, no per-query ln chain. Identical values by
        # construction (the SAME fixed-point steps ran at build).
        idf = (
            spark.read.schema(TERMS_SCHEMA).parquet(terms_path)
            .filter(pruned)
            .select("term", "idf_micros", "n_docs", "sum_dl")
        )
    else:
        # fallback for streaming-appended stores (no _terms table —
        # appends would stale it) and the linear surrogate: df from
        # the pruned postings is exact because pruning keeps every
        # posting of the query terms.
        stats = spark.read.schema(STATS_SCHEMA).parquet(
            index_path.rstrip("/") + "_stats"
        )
        df_ = post.groupBy("term").agg(
            F.count_distinct(id_col).cast("long").alias("df")
        )
        idf = bm25_term_idf(df_, stats, idf_mode=idf_mode)
    joined = post.select(id_col, "term", "tf", "dl").join(
        F.broadcast(idf), "term"
    )
    return bm25_fold(joined, k=k, id_col=id_col)


def _served_position_hits(
    spark, index_path: str, word_map: list[tuple[str, int]],
    n_term_buckets: int, id_col: str, payload_col: str,
) -> DataFrame:
    """Pruned positional hits from the index: read only the query
    terms' buckets, explode each posting's positions array, attach the
    per-word payload (phrase index / proximity bit) via a broadcast
    k-row map. Explosion happens AFTER pruning — per-hit cost."""
    words = sorted({w for w, _ in word_map})
    qdf = spark.createDataFrame(word_map, f"term string, {payload_col} long")
    return (
        spark.read.schema(postings_schema(id_col)).parquet(index_path)
        .filter(_bucket_filter(words, n_term_buckets))
        .join(F.broadcast(qdf), "term")
        .select(
            id_col,
            F.explode("positions").alias("pos"),
            payload_col,
        )
    )


def phrase_served(
    spark,
    index_path: str,
    phrase: list[str],
    n_term_buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-phrase search from the materialized positional index —
    matches phrase_search by construction (shared _phrase_fold over
    the same (id, pos, word-index) hits, sourced from pruned postings
    instead of a corpus scan)."""
    if not phrase:
        raise ValueError("phrase_served needs a non-empty phrase")
    hits = _served_position_hits(
        spark, index_path, [(w, i) for i, w in enumerate(phrase)],
        n_term_buckets, id_col, "_idx",
    )
    return _phrase_fold(hits, len(phrase), id_col)


def proximity_served(
    spark,
    index_path: str,
    terms: list[str],
    window: int = 10,
    n_term_buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Proximity search from the materialized positional index —
    matches proximity_search by construction (shared bitmask
    RANGE-window fold over pruned positional hits)."""
    uniq = sorted(set(terms))
    if not uniq:
        raise ValueError("proximity_served needs at least one term")
    if len(uniq) > 62:
        raise ValueError("proximity_served supports at most 62 distinct terms")
    hits = _served_position_hits(
        spark, index_path, [(w, 1 << i) for i, w in enumerate(uniq)],
        n_term_buckets, id_col, "_bit",
    )
    return _proximity_fold(hits, int(window), len(uniq), id_col)
