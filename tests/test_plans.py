"""Plan-shape assertions: the 100 TB discipline, enforced in CI.

Each headline query's physical plan must be the plan we'd want on a
1000-executor cluster — dimension joins broadcast (no fact-side
shuffle), filters and projections pushed into the parquet scan,
aggregations partial+final, top-k fused (no global sort), per-group
top-N trimmed below the shuffle.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

from bo_sql_spark.plans import (
    explain_str,
    has_operator,
    pushed_filters,
    read_schema_columns,
)
from bo_sql_spark.queries import load_all

REG = load_all()


def _df(spark, sf_dir, name):
    return REG[name].builder(spark, sf_dir)


def test_scan_project_prunes_columns(spark, sf_dir):
    scans = read_schema_columns(_df(spark, sf_dir, "scan_project"))
    assert scans, "no parquet scan found"
    # 16-column lineitem must be read as exactly the 5 referenced columns
    assert sorted(scans[0]) == [
        "l_discount",
        "l_extendedprice",
        "l_linenumber",
        "l_orderkey",
        "l_quantity",
    ]


def test_filter_is_pushed_to_scan(spark, sf_dir):
    pf = pushed_filters(_df(spark, sf_dir, "filter_predicate"))
    assert any("l_quantity" in f or "l_discount" in f for f in pf), pf


def test_dim_join_broadcasts(spark, sf_dir):
    df = _df(spark, sf_dir, "join_orders_customer")
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "SortMergeJoin")


def test_star_join_never_shuffles_fact_side(spark, sf_dir):
    df = _df(spark, sf_dir, "composite_top_regions")
    text = explain_str(df, "simple")
    assert "SortMergeJoin" not in text
    # lineitem->orders is the only possibly-shuffled join; all dims broadcast
    assert text.count("BroadcastHashJoin") >= 3


def test_agg_is_partial_then_final(spark, sf_dir):
    text = explain_str(_df(spark, sf_dir, "agg_pricing_summary"), "simple")
    assert "partial_sum" in text or "partial_count" in text, text


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    df = _df(spark, sf_dir, "topk_orders")
    assert has_operator(df, "TakeOrderedAndProject")


def test_window_topn_trims_below_shuffle(spark, sf_dir):
    df = _df(spark, sf_dir, "window_topn_per_group")
    assert has_operator(df, "WindowGroupLimit")


def test_semi_join_not_row_multiplying(spark, sf_dir):
    text = explain_str(_df(spark, sf_dir, "join_semi"), "simple")
    assert "LeftSemi" in text


def test_minhash_no_cartesian(spark, sf_dir):
    """The LSH pipeline must never plan a cartesian product (the
    salted entry exercises BOTH the hot and cold bucket paths)."""
    df = _df(spark, sf_dir, "dedup_minhash_pairs_salted")
    text = explain_str(df, "simple")
    assert "CartesianProduct" not in text


def test_similarity_topk_no_sort_shuffle(spark, sf_dir):
    df = _df(spark, sf_dir, "similarity_topk")
    assert has_operator(df, "TakeOrderedAndProject")


def test_ann_lsh_portable_probe_plan(spark, sf_dir):
    """The portable ANN probe must semi-join the corpus against the
    BROADCAST 4-row query-bucket table (the corpus never shuffles for
    the probe) and rank with TakeOrderedAndProject, not a global
    sort; no cartesian anywhere."""
    df = _df(spark, sf_dir, "similarity_ann_lsh_portable")
    text = explain_str(df, "simple")
    assert "LeftSemi" in text, text
    assert "BroadcastHashJoin" in text, text
    assert has_operator(df, "TakeOrderedAndProject")
    assert "CartesianProduct" not in text


def test_rp_index_served_partition_pruned(spark, sf_dir):
    """The index-served ANN probe must turn the query's probe keys
    into PARTITION filters on (seed, bucket_pfx) — only probed
    directories are LISTED; the directory grain is the bounded prefix
    so dir count never scales with corpus size — plus PUSHED parquet
    filters on the full bucket (row-group pruning inside a probed
    directory), and rank via TakeOrderedAndProject."""
    df = _df(spark, sf_dir, "similarity_rp_index_served")
    text = explain_str(df, "formatted")
    assert "PartitionFilters" in text
    scan = [l for l in text.splitlines() if "PartitionFilters" in l][0]
    assert "seed" in scan and "bucket_pfx" in scan, scan
    pushed = [l for l in text.splitlines() if "PushedFilters" in l][0]
    assert "bucket" in pushed, pushed
    assert has_operator(df, "TakeOrderedAndProject")


def test_simhash_portable_no_cartesian(spark, sf_dir):
    """Portable SimHash banding joins on (band, chunk) keys — never a
    cartesian product."""
    df = _df(spark, sf_dir, "dedup_simhash_portable")
    text = explain_str(df, "simple")
    assert "CartesianProduct" not in text


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The corpus must probe a BROADCAST eval-shingle set (never
    shuffle its own text) and remove hits via LEFT ANTI."""
    text = explain_str(_df(spark, sf_dir, "decontaminate_survivors"), "simple")
    assert "BroadcastHashJoin" in text, text
    assert "LeftAnti" in text, text
    assert "CartesianProduct" not in text


def test_hash_sample_is_scan_stage_filter(spark, sf_dir):
    """Deterministic sampling must stay a filter in the scan stage: no
    Exchange, no Sample operator, no RNG expression."""
    text = explain_str(_df(spark, sf_dir, "sample_hash_bernoulli"), "simple")
    assert "Exchange" not in text, text
    assert "Sample" not in text, text
    assert "rand" not in text.lower(), text


def test_asof_default_is_single_shuffle_window(spark, sf_dir):
    """The as-of default strategy: one Exchange feeding a Window, and
    no Python stage anywhere."""
    df = _df(spark, sf_dir, "asof_join_purchases")
    text = explain_str(df, "simple")
    assert "Window" in text, text
    assert "FlatMapCoGroupsInPandas" not in text, text
    assert "Python" not in text, text


def test_ivf_train_serve_pushes_probes_as_semi_join(spark, sf_dir):
    """The trained-serve path must push probe-cell selection down as a
    broadcast SEMI join (never a driver collect + isin literal) and
    keep the final top-k fused."""
    df = _df(spark, sf_dir, "similarity_ivf_train_serve")
    text = explain_str(df, "simple")
    assert "LeftSemi" in text, text
    assert "CartesianProduct" not in text, text
    assert has_operator(df, "TakeOrderedAndProject")


def test_ivf_batch_served_plan(spark, sf_dir):
    """Batch ANN serving must be ONE plan that scales in both
    directions: the probed-cell join lands on the store's partition
    column as dynamic partition pruning, per-qid top-k trims below the
    shuffle (WindowGroupLimit), and nothing degrades to a sort-merge
    join or a real cartesian (the only nested-loop joins are the
    query-batch x 16-centroid broadcasts)."""
    df = _df(spark, sf_dir, "similarity_ivf_batch_served")
    text = explain_str(df, "formatted")
    assert "dynamicpruningexpression" in text, text
    assert "WindowGroupLimit" in text, text
    assert "SortMergeJoin" not in text, text
    assert "CartesianProduct" not in text, text


def test_ivf_multiprobe_probe_selection_in_engine(spark, sf_dir):
    """Multi-probe's probe selection is IN-ENGINE: top-4 centroids feed
    a broadcast LEFT SEMI join — never a driver collect + isin literal.
    The registered query source must contain no .collect()."""
    import inspect

    from bo_sql_spark.queries.pipeline import similarity_ivf_multiprobe

    assert ".collect()" not in inspect.getsource(similarity_ivf_multiprobe)
    df = _df(spark, sf_dir, "similarity_ivf_multiprobe")
    text = explain_str(df, "simple")
    assert "LeftSemi" in text, text
    assert "CartesianProduct" not in text, text
    assert has_operator(df, "TakeOrderedAndProject")


@pytest.mark.parametrize(
    "name",
    ["agg_pricing_summary", "filter_predicate", "global_agg"],
)
def test_whole_stage_codegen_covers_hot_path(spark, sf_dir, name):
    # AQE materializes codegen stages only at runtime: execute, then
    # inspect the FINAL plan (isFinalPlan=true)
    df = _df(spark, sf_dir, name)
    df.collect()
    text = explain_str(df, "simple")
    # '*(n)' prefixes mark WholeStageCodegen stages in simple mode
    assert "*(" in text, text


@pytest.mark.parametrize("name", ["training_pipeline_e2e", "pack_sequences_sharded"])
def test_packing_window_is_partitioned(spark, sf_dir, name):
    """Sequence packing must never run a GLOBAL running-sum window (a
    single task holding the corpus at 100 TB): the window's partition
    spec must include the shard column."""
    text = explain_str(_df(spark, sf_dir, name), "extended")
    assert "windowspecdefinition(shard" in text, text


@pytest.mark.parametrize(
    "name", ["shuffle_deterministic_order", "pack_sequences_2048"]
)
def test_global_order_ops_use_contiguous_shard_windows(spark, sf_dir, name):
    """The global-position emitters (shuffle positions, global packing)
    must decompose their window over contiguous hash-range shards: the
    DATA window partitions by _shard, the offsets table broadcasts, and
    the only no-partition window runs over the per-shard aggregate
    (n_shards rows, constant)."""
    from tools_plan_lint import global_windows

    df = _df(spark, sf_dir, name)
    text = explain_str(df, "extended")
    assert "windowspecdefinition(_shard" in text, text
    assert "BroadcastHashJoin" in text, text
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every global window in the plan sits above an aggregate
    assert all(agg_below for _, agg_below in global_windows(plan)), plan


def test_tfidf_topk_plan(spark, sf_dir):
    """tf-idf: vocabulary-grain df must broadcast back onto tf (no
    sort-merge join of two exploded sides) and the per-doc top-3 must
    trim below the shuffle via WindowGroupLimit."""
    df = _df(spark, sf_dir, "text_tfidf_topk")
    text = explain_str(df, "simple")
    assert "WindowGroupLimit" in text, text
    assert "SortMergeJoin" not in text, text


def test_mixture_budget_window_is_partitioned(spark, sf_dir):
    """The token-budget cut must run per source (partitioned window),
    never as a global single-task running sum."""
    text = explain_str(_df(spark, sf_dir, "mixture_token_budget"), "extended")
    assert "windowspecdefinition(source" in text, text


def test_pq_adc_plan(spark, sf_dir):
    """PQ/ADC: the encode runs as one Arrow batch stage (r13 — the
    codebook argmin moved off the interpreted broadcast join), the ADC
    lookup table still broadcasts (no cartesian, no sort-merge join);
    only (id, sub, code) triples shuffle."""
    df = _df(spark, sf_dir, "similarity_pq_adc")
    text = explain_str(df, "simple")
    assert "CartesianProduct" not in text, text
    assert "SortMergeJoin" not in text, text
    assert text.count("BroadcastHashJoin") >= 1, text
    assert "ArrowEvalPython" in text, text


def test_ivfpq_adc_plan(spark, sf_dir):
    """IVF-PQ must stay broadcast-only: no cartesian, no sort-merge
    join (the encode carries the cell through its aggregations instead
    of rejoining codes with the assignment corpus-wide). The registry
    entry serves from stored codes, so the one-shot encode -> ADC plan
    is built here from the same operator calls its prepare step makes."""
    from bo_sql_spark.catalog import load_tables
    from bo_sql_spark.operators import similarity as S
    from bo_sql_spark.queries.pipeline import _cents16_float, _vec0

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = _cents16_float(emb)
    encoded, cb = S.ivfpq_encode(emb, cents, m=8, dsub=8, ks=16)
    df = S.ivfpq_adc_topk(
        encoded, cb, cents, _vec0(emb), m=8, dsub=8, n_probe=2, k=10
    )
    text = explain_str(df, "simple")
    assert "CartesianProduct" not in text, text
    assert "SortMergeJoin" not in text, text


def test_semantic_dedup_joins_on_cell_no_cartesian(spark, sf_dir):
    """SemDeDup's within-cluster pairwise pass must join ON the cell
    key (hash-partitioned by cluster), never a cartesian product, and
    drop duplicates via LEFT ANTI."""
    text = explain_str(_df(spark, sf_dir, "dedup_semantic"), "simple")
    assert "CartesianProduct" not in text, text
    assert "LeftAnti" in text, text


def test_sq8_topk_broadcast_and_heap(spark, sf_dir):
    """SQ8 serving: query codes + codebook stats arrive by broadcast
    (never a shuffled join) and top-k is TakeOrderedAndProject."""
    df = _df(spark, sf_dir, "similarity_sq8_topk")
    text = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in text, text
    assert "CartesianProduct" not in text, text
    assert "SortMergeJoin" not in text, text


def test_rp_rerank_probes_not_scans_full_vectors(spark, sf_dir):
    """Coarse-to-fine ANN: the candidate set must reach the full-dim
    table as a BROADCAST probe (no shuffled join), with heap-based
    top-k at both stages."""
    text = explain_str(_df(spark, sf_dir, "similarity_rp_rerank"), "simple")
    assert text.count("TakeOrderedAndProject") >= 2, text
    assert "BroadcastHashJoin" in text, text
    assert "SortMergeJoin" not in text, text


def test_orc_partition_pruning(spark, sf_dir):
    """A lang filter over the partitioned ORC store must prune at the
    source (PartitionFilters carries the predicate), reading one
    directory, not the table."""
    import tempfile

    from bo_sql_spark.catalog import load_tables

    import pyspark.sql.functions as F

    docs = load_tables(spark, sf_dir)["documents"]
    path = tempfile.mkdtemp(prefix="bosql_orc_plan_") + "/docs"
    docs.write.mode("overwrite").partitionBy("lang").orc(path)
    df = spark.read.orc(path).filter(F.col("lang") == "en").select("doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:200], plan


def test_bm25_served_prunes_both_stores(spark, sf_dir, tmp_path):
    """Ranked serving reads exactly the query terms' buckets from BOTH
    stores: the postings scan AND the precomputed-idf terms table must
    each carry a tb PartitionFilter (two pruned parquet scans), and no
    corpus scan or ln-chain projection appears anywhere in the plan."""
    from bo_sql_spark.catalog import load_tables
    from bo_sql_spark.operators.search import (
        bm25_served,
        materialize_inverted_index,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    path = str(tmp_path / "bm25planidx")
    materialize_inverted_index(docs, path, n_term_buckets=16)
    df = bm25_served(spark, path, ["dup", "vector"], k=10, n_term_buckets=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pruned = [
        seg
        for seg in plan.split("PartitionFilters")[1:]
        if "tb" in seg[:200]
    ]
    assert len(pruned) >= 2, plan  # postings scan + terms-table scan
    assert "_ln_n" not in plan and "_ln_df" not in plan, plan
    if "ReadSchema" in plan:  # no corpus text column reaches any scan
        assert "text" not in plan.split("ReadSchema")[1][:200], plan


@pytest.mark.parametrize("name", ["sketch_quantile_sampled", "stream_sketch_quantiles"])
def test_sampled_quantiles_reuses_stats_exchange(spark, sf_dir, name):
    """The one-row min/max stats aggregate feeds two consumers of the
    staged sample (the per-shard totals and the ranked window). Both
    must read the same columns of it, so the AQE final plan builds its
    exchange once and reuses it; the sample size comes from the
    offsets table, not from a count pruned from one copy only."""
    df = _df(spark, sf_dir, name)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert plan.count("ReusedExchange") >= 1, plan


def test_sq8_batch_served_one_plan_no_serial(spark, sf_dir):
    """Batch SQ8 serving: both queries answered by one plan with
    broadcast probes onto the code store and a windowed top-k — no
    cartesian blowup, no shuffled join of the store."""
    df = _df(spark, sf_dir, "similarity_sq8_batch_served")
    text = explain_str(df, "simple")
    assert "CartesianProduct" not in text, text
    assert "SortMergeJoin" not in text, text
    assert "BroadcastHashJoin" in text, text


def test_unigram_bigram_scores_broadcast_count_tables(spark, sf_dir):
    """LM doc-scoring queries must broadcast their vocab-scale count
    tables back onto the token/bigram stream — corpus text never
    shuffles through a SortMergeJoin."""
    for name in ("text_unigram_doc_score", "text_bigram_lm_score"):
        text = explain_str(_df(spark, sf_dir, name), "simple")
        assert "BroadcastHashJoin" in text, (name, text)
        assert "SortMergeJoin" not in text, (name, text)


def test_bpe_token_count_joins_pieces_by_broadcast(spark, sf_dir):
    """Tokenizer apply: the per-word piece counts must reach the token
    stream as a broadcast (vocab-sized side), never a shuffled join."""
    text = explain_str(_df(spark, sf_dir, "text_bpe_token_count"), "simple")
    assert "BroadcastHashJoin" in text, text


def test_fixed_k_sample_trims_below_shuffle(spark, sf_dir):
    """Fixed-k-per-stratum sampling must plan WindowGroupLimit so only
    ~k rows per source survive below the shuffle."""
    text = explain_str(_df(spark, sf_dir, "sample_fixed_k_per_source"), "simple")
    assert "WindowGroupLimit" in text, text


@pytest.mark.parametrize(
    "name", ["range_join_incidents", "interval_overlap_incidents"]
)
def test_bucketed_temporal_joins_are_hash_joins(spark, sf_dir, name):
    """The bucket-expansion rewrites exist to turn Spark's nested-loop
    plan for interval predicates into a hash equi-join: pin a hash
    join (broadcast or shuffled) on the bucket key and the ABSENCE of
    BroadcastNestedLoopJoin / CartesianProduct. (The r8 range-join
    docstring claimed this pin; the test itself shipped in the
    untested snapshot and never existed — added in round 9 for both.)"""
    df = _df(spark, sf_dir, name)
    text = explain_str(df, "simple")
    assert "HashJoin" in text, text  # Broadcast- or ShuffledHashJoin
    assert "BroadcastNestedLoopJoin" not in text, text
    assert "CartesianProduct" not in text, text


def test_bloom_runtime_filter_on_fact_scan(spark, sf_dir):
    """join_bloom_runtime_filter (round 9): the runtime Bloom filter
    built from the selective orders slice must appear as a
    might_contain predicate on the lineitem (fact) side — the
    fact-to-filtered-fact regime where broadcast is off the table and
    ~99% of the fact shuffle is dead without it. Also pinned: no
    broadcast hash join for the main join (the regime being modeled),
    no nested loop, and the per-query conf pin must NOT leak into the
    session (a leaked threshold would change every later plan)."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    df = _df(spark, sf_dir, "join_bloom_runtime_filter")
    text = explain_str(df, "simple")
    assert "might_contain" in text, text
    assert "BroadcastNestedLoopJoin" not in text, text
    assert "CartesianProduct" not in text, text
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_lines_global_dedup_exchange_is_fingerprint_only(spark, sf_dir):
    """Round-9 rewrite (C4's trick): the first-occurrence window keys
    on a 128-bit chunk fingerprint, so the dedup Exchange moves
    fixed-width (doc_id, c, _h1, _h2) rows — chunk TEXT and the token
    array never enter any hash exchange. Exchanges may key only on
    the fingerprint pair or doc_id (kept-index groupBy / rebuild
    join). Also pinned: the map-side WindowGroupLimit that trims each
    task to first-per-key BEFORE the shuffle."""
    import re

    df = _df(spark, sf_dir, "dedup_lines_global")
    text = explain_str(df, "simple")
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", text)
    assert parts, text
    assert all(
        "text" not in p and "chunk" not in p and "_tok" not in p for p in parts
    ), parts
    keyed = {c.split("#")[0].strip() for p in parts for c in p.split(",")[:-1]}
    assert keyed <= {"_h1", "_h2", "doc_id"}, keyed
    assert "WindowGroupLimit" in text, text


def test_winnowed_spans_never_shuffle_text(spark, sf_dir):
    """The production span-dedup plan: the winnow itself is a PURE MAP
    (per-doc array expression — no repartition, no WindowExec, no
    aggregate before fingerprints), so corpus text appears in ZERO
    exchanges; only the ~2/(w+1)-sampled fingerprint rows shuffle
    (by h for the cross-doc window flag, by doc_id for the stats). No
    join anywhere — the dup flag is a window min/max, so the corpus
    pipeline executes ONCE (the joined-back dup-set form re-executed
    it per consumer, 3.2x slower at 10x)."""
    df = _df(spark, sf_dir, "dedup_duplicate_spans_winnowed")
    text = explain_str(df, "simple")
    import re

    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", text)
    assert parts, text
    # fingerprint-row shuffles only: keyed by h / doc_id, never by pos,
    # and the text / _norm column never enters an exchange
    assert all("pos" not in p and "norm" not in p and "text" not in p for p in parts), parts
    keyed = {p.split("#")[0].strip() for p in parts}
    assert keyed <= {"doc_id", "h"}, parts
    assert "REPARTITION_BY_COL" not in text, text  # winnow is map-only
    assert "Join" not in text, text  # single pipeline execution
    # one FileScan: the dup-set join form scanned the corpus twice
    assert text.count("Scan parquet") == 1, text


def test_opq_rotation_stays_in_scan_stage(spark, sf_dir):
    """The OPQ rotation must be a pure expression over the scan — a
    single nested Literal matrix applied by higher-order functions:
    no Python stage, no extra exchange versus the unrotated trained-PQ
    plan (the rotate is free of shuffle by construction). The
    unrotated one-shot train -> encode -> ADC plan at ks=256 is built
    from the step similarity_pq_trained256 prepares its store with."""
    from bo_sql_spark.catalog import load_tables
    from bo_sql_spark.operators import similarity as S
    from bo_sql_spark.queries.pipeline import _pq_trained_codes, _vec0

    rot_df = _df(spark, sf_dir, "similarity_opq_adc")
    emb = load_tables(spark, sf_dir)["embeddings"]
    codes, cb = _pq_trained_codes(emb, ks=256)
    base_df = S.pq_adc_topk(codes, cb, _vec0(emb), m=8, dsub=8, k=10)
    rot_text = explain_str(rot_df, "simple")
    assert "BatchEvalPython" not in rot_text
    assert rot_text.count("Exchange") == explain_str(base_df, "simple").count(
        "Exchange"
    )


def test_knn_graph_trims_below_shuffle_no_cartesian(spark, sf_dir):
    """The corpus k-NN graph must join on the cell key only (no
    cartesian), and the per-id top-k must plan WindowGroupLimit so ~k
    rows per vector survive below the final shuffle."""
    df = _df(spark, sf_dir, "similarity_knn_graph")
    text = explain_str(df, "simple")
    assert "WindowGroupLimit" in text, text
    assert "CartesianProduct" not in text, text


def test_plan_lint_catches_unpartitioned_window(spark):
    """Seeded regression for the lint rule: a raw global window over
    non-aggregated data must FLAG; a partitioned window and a global
    window over an aggregate (bounded input) must not."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from tools_plan_lint import lint_plan

    df = spark.range(1000).withColumn("g", F.col("id") % 5)

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    bad = df.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    flags = lint_plan(plan(bad))
    assert any("no-partition Window" in f for f in flags), flags

    good = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert lint_plan(plan(good)) == []

    post_agg = (
        df.groupBy("g")
        .agg(F.sum("id").alias("s"))
        .withColumn("rn", F.row_number().over(Window.orderBy("g")))
    )
    assert lint_plan(plan(post_agg)) == []

    # a LIMIT below the window bounds it the same way an aggregate
    # does — including when a localCheckpoint CUTS the lineage so the
    # upstream aggregate is invisible (the drift_topk_churn_rbo shape)
    post_limit = (
        df.groupBy("g")
        .agg(F.sum("id").alias("s"))
        .localCheckpoint(eager=False)
        .orderBy(F.col("s").desc())
        .limit(3)
        .withColumn("rn", F.row_number().over(Window.orderBy(F.col("s").desc())))
    )
    assert lint_plan(plan(post_limit)) == []


def test_plan_lint_flags_undocumented_bounded_window():
    """The documented-whitelist guard (r10 verdict hygiene ask): a
    post-agg global window is only whitelisted when its query carries
    a one-line bound argument in BOUNDED_GLOBAL_WINDOWS — an
    undocumented query, or a documented one growing beyond its count,
    flags; every current entry stays within its documented count."""
    from tools_plan_lint import (
        BOUNDED_GLOBAL_WINDOWS,
        undocumented_window_flags,
    )

    # seeded: unknown query with a bounded window -> flag
    assert undocumented_window_flags("brand_new_query", 1), "must flag"
    # seeded: documented query growing past its count -> flag
    assert undocumented_window_flags("corpus_zipf_slope", 2)
    # within bounds -> clean
    assert undocumented_window_flags("corpus_zipf_slope", 1) == []
    assert undocumented_window_flags("search_hybrid_rrf", 2) == []
    assert undocumented_window_flags("no_windows_at_all", 0) == []
    # every registry entry documents a non-empty bound argument
    for name, (n, why, ceiling) in BOUNDED_GLOBAL_WINDOWS.items():
        assert n >= 1 and why.strip(), name
        assert ceiling is None or ceiling >= 1, name


def test_plan_lint_info_lines_carry_no_expression_ids():
    """Two builds of one plan differ only in their expression ids; the
    lint's INFO lines must read the same for both, so two lint runs of
    one tree can be compared with diff."""
    from tools_plan_lint import bounded_window_info

    a = ("Window [row_number() windowspecdefinition(n#160L DESC NULLS LAST,"
         " specifiedwindowframe(RowFrame, unboundedpreceding$(),"
         " currentrow$())) AS rn#171], [n#160L DESC NULLS LAST]")
    b = a.replace("#160L", "#164L").replace("#171", "#175")
    assert a != b
    assert bounded_window_info("corpus_zipf_slope", a) == bounded_window_info(
        "corpus_zipf_slope", b
    )
    assert "#" not in bounded_window_info("corpus_zipf_slope", a)


def test_plan_baseline_diff_catches_seeded_regression():
    """The PLAN_BASELINE guard: a grown exchange count flags, a grown
    broadcast-join count does not (broadcasts usually replace worse
    strategies), a shrunk count is an improvement note, an unknown
    query is a NEW note."""
    from tools_plan_lint import diff_signatures

    base = {
        "q1": {"exchanges": 1, "smj": 0, "bhj": 1, "cartesian": 0,
               "py": 0, "global_windows": 0},
        "q2": {"exchanges": 2, "smj": 1, "bhj": 0, "cartesian": 0,
               "py": 0, "global_windows": 0},
    }
    sigs = {
        "q1": {**base["q1"], "exchanges": 2},       # regression
        "q2": {**base["q2"], "smj": 0, "bhj": 1},   # improvement + bhj ok
        "q3": base["q1"],                            # new
    }
    flags, notes = diff_signatures(sigs, base)
    assert list(flags) == ["q1"] and "exchanges 1 -> 2" in flags["q1"][0]
    assert any(n.startswith("IMPROVED q2: smj") for n in notes)
    assert any(n.startswith("NEW q3") for n in notes)


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATE_SCRIPTS = {
    "tools_bench_compare.py",
    "tools_gen_queries_md.py",
    "tools_plan_lint.py",
    "tools_rehearsal.py",
}


def test_plan_baseline_sits_beside_the_lint():
    """A lint run from another checkout reads and rewrites that
    checkout's baseline, never a fixed path."""
    import tools_plan_lint

    assert tools_plan_lint.BASELINE_PATH == os.path.join(
        os.path.dirname(os.path.abspath(tools_plan_lint.__file__)),
        "PLAN_BASELINE.json",
    )


def test_root_toolkit_is_the_gate_scripts():
    """The repo root keeps only the scripts a test imports or a gate
    runs; one-off measurement scripts live in git history."""
    found = {os.path.basename(p) for p in glob.glob(os.path.join(_ROOT, "tools_*.py"))}
    assert found == GATE_SCRIPTS


def test_cited_tools_scripts_resolve():
    """Every tools_* script named in the package, bench.py, README.md,
    ROADMAP.md or the verify skill exists at the root, or is cited as
    `git show <sha>:tools_X.py` so the reader can still fetch it."""
    paths = glob.glob(os.path.join(_ROOT, "bo_sql_spark", "**", "*.py"), recursive=True)
    paths += glob.glob(os.path.join(_ROOT, ".claude", "skills", "**", "*.md"), recursive=True)
    paths += [os.path.join(_ROOT, f) for f in ("bench.py", "README.md", "ROADMAP.md")]
    missing = []
    for path in paths:
        text = open(path).read()
        for m in re.finditer(r"(git show \S+:)?\b(tools_\w+)", text):
            if not m[1] and not os.path.exists(os.path.join(_ROOT, m[2] + ".py")):
                missing.append(f"{os.path.relpath(path, _ROOT)}: {m[2]}")
    assert not missing, missing


def test_e2e_v2_filters_before_dedup_shuffle(spark, sf_dir):
    """The e2e-v2 ordering argument, pinned two ways:

    (a) STRUCTURAL, on the registered query: the dedup stage's shingle
    Generate consumes the CHECKPOINTED filtered corpus (a LogicalRDD
    leaf), never a raw documents scan — i.e. the filters are
    materialized strictly before any wide dedup work, which is the
    write-the-filtered-corpus step a 100 TB pipeline performs.

    (b) ON THE UNFUSED COMPOSITION (same stages, no checkpoint): in the
    optimized plan the shingle Generate sits ABOVE both semi joins
    (gopher keep + LM keep), so Catalyst keeps the filters between the
    scan and the explode — the explode multiplies only filtered rows."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators import corpus_filters as CF
    from bo_sql_spark.operators import dedup as D
    from bo_sql_spark.queries.training import _E2E2_GOPHER_RULES

    # (a) the registered query
    df = _df(spark, sf_dir, "training_pipeline_e2e_v2")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    gen_lines = [
        ln for ln in opt.splitlines() if "Generate explode" in ln
    ]
    assert gen_lines, opt
    # every explode in the final plan feeds off materialized RDDs —
    # no 'Relation' (raw parquet) appears below a Generate subtree.
    # Cheap proxy: the dedup branch's Generate lines and the raw
    # documents Relation never share a subtree: each Generate's
    # deeper-indented block contains LogicalRDD before any Relation.
    def subtree(lines, i):
        def indent(s):
            return len(s) - len(s.lstrip(" :+-"))
        base = indent(lines[i])
        out = []
        for ln in lines[i + 1:]:
            if ln.strip() and indent(ln) <= base:
                break
            out.append(ln)
        return out

    lines = opt.splitlines()
    for i, ln in enumerate(lines):
        if "Generate explode" not in ln:
            continue
        below = subtree(lines, i)
        leaf = next(
            (l for l in below if "LogicalRDD" in l or "Relation" in l), None
        )
        assert leaf is not None, opt
        if "LogicalRDD" in leaf:
            continue  # reads the materialized filtered corpus: the pin
        # the one legitimate raw-corpus explode is the decontamination
        # stage's EVAL-set shingles (doc_id % 25 = 0) — tiny by design
        assert any("% 25) = 0" in l for l in below), (
            "a dedup-stage explode reads an unfiltered corpus scan:\n" + ln
        )

    # (b) the unfused composition: filters visibly below the Generate
    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    train = docs.filter(F.col("doc_id") % 25 != 0)
    g = CF.gopher_keep(train, rules=_E2E2_GOPHER_RULES).select("doc_id", "keep")
    gkeep = train.join(
        g.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    )
    # a cheap stand-in for the LM keep set (the pin is about ORDER, not
    # the decision values): any second semi join at doc grain
    lm_kept = train.select("doc_id").filter(F.col("doc_id") % 2 == 0)
    kept2 = gkeep.join(lm_kept, "doc_id", "left_semi")
    # the operator's own lineage_cut would hide the semi joins behind a
    # LogicalRDD leaf; disable it so the logical ORDERING stays visible
    import os

    os.environ["BOSQL_CKPT_DISABLE"] = "1"
    try:
        pairs = D.minhash_dedup_pairs_portable(kept2, threshold=0.5)
        opt2 = pairs._jdf.queryExecution().optimizedPlan().toString()
    finally:
        os.environ.pop("BOSQL_CKPT_DISABLE", None)
    lines2 = opt2.splitlines()
    gen_idx = [i for i, ln in enumerate(lines2) if "Generate explode" in ln]
    assert gen_idx, opt2
    for i in gen_idx:
        below = subtree(lines2, i)
        semis = [l for l in below if "Join LeftSemi" in l]
        assert len(semis) >= 2, (
            "explode not above both filter semi joins:\n" + lines2[i]
        )


def test_measured_window_input_verification(spark):
    """The whitelist's MEASURED half (r11 verdict #7): the lint reads a
    global window's actual input row count from executed-plan metrics.
    Seeded checks: (a) a rank window over a grouped aggregate measures
    the group cardinality exactly; (b) a fused-top-k-then-rank plan
    measures the LIMIT, not the pre-limit count (the false-flag shape
    the limit cap exists for)."""
    import pyspark.sql.functions as F

    from tools_plan_lint import measure_global_window_inputs
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i % 7, i) for i in range(1000)], "k long, v long"
    )
    agg = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    ranked = agg.select(
        "k", F.row_number().over(Window.orderBy(F.col("n").desc(), "k")).alias("r")
    )
    assert measure_global_window_inputs(ranked) == [7]

    topk = df.orderBy(F.col("v").desc(), "k").limit(25)
    ranked2 = topk.select(
        "k", F.row_number().over(Window.orderBy(F.col("v").desc(), "k")).alias("r")
    )
    counts = measure_global_window_inputs(ranked2)
    assert counts == [25], counts
