#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "tiers": {...}, "sf": <sf>}

STDOUT TRANSPORT CONTRACT (round-12 fix): the driver captures only the
LAST ~2000 bytes of stdout and parses the JSON line from that tail.
Round 11 added the per-query "spread" dict to the line and pushed it
past the window — the head (including "value") was truncated away and
BENCH_r11.json recorded parsed:null. The line therefore (a) carries a
fixed small key set only (metric/value/unit/queries/tiers/tiers_frozen/
streaming_rows_per_sec/anchor_s/sf), (b) uses compact separators, and
(c) is budget-tested (tests/test_bench.py asserts <= 1900 bytes at the
current query count). The full payload INCLUDING the [min, median, max]
spread per query is written to the BENCH_SPREAD.json side artifact next
to this file, which tools_bench_compare.py consumes.

Methodology (BASELINE.md notes): warmed session on local[$SPARK_GRAFT_CPUS];
we time query EXECUTION (build plan + collect) — session startup and
table registration are excluded, matching how a resident engine serves
queries. One warm-up pass primes the JVM/code-gen caches; reported time
is the best of 2 timed runs per query (steady-state throughput).

Amortized entries: a registry entry that declares
``amortized = (prepare, serve)`` (the served indexes: IVF, batch IVF,
IVF-SQ8, IVF-PQ, trained PQ at ks=256, postings search and BM25) has
its store built once per process by ``prepare``, untimed, in its
tier's warm pass; the warm run and every timed rep run ``serve`` over
that state. Its number is the per-query serving cost of a resident
engine whose index already exists. The oracle grades the entry's
``builder``, which is prepare followed by serve.

Tier isolation: each tier is warmed AND timed before the next tier runs
a single query. The round-4 bench warmed all three tiers up front, and
the streaming/pipeline warm-up (state stores, memory sinks, cached
shuffle files, GC pressure) inflated the core numbers ~1.5x with
byte-identical plans. Core is the graded apples-to-apples metric vs the
round-1 baseline, so it executes first in a session no pipeline or
streaming query has touched.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family — scan/project, filter, hash agg,
# broadcast join, top-k, star-join composite, expressions.
HEADLINE = [
    "scan_project",
    "filter_predicate",
    "agg_pricing_summary",
    "join_orders_customer",
    "topk_orders",
    "composite_top_regions",
    "expr_arithmetic",
]

# Pipeline tier: the LLM-data-pipeline operators end-to-end — dedup
# (minhash -> clusters -> survivors), ANN multiprobe + the materialized
# serving path, as-of join, the full training pipeline. These catch
# regressions the core tier can't see (explode/shuffle-heavy and
# applyInPandas paths).
PIPELINE = [
    "dedup_survivors",
    "dedup_semantic",
    "dedup_duplicate_spans_winnowed",
    "similarity_ivf_multiprobe",
    "similarity_ivf_served",
    "similarity_ivf_batch_served",
    "similarity_ivfsq_served",
    "similarity_ivfpq_adc",
    "similarity_pq_trained256",
    "similarity_sq8_topk",
    "similarity_rp_rerank",
    "asof_join_purchases",
    "training_pipeline_e2e",
    "text_bpe_train",
    "text_heavy_hitters",
    "dedup_lines_global",
    "sketch_count_min_grid",
    "sketch_hll_distinct",
    # round 9 additions
    "sketch_quantile_sampled",
    "join_bloom_runtime_filter",
    "interval_overlap_incidents",
    "multimodal_image_neardup_pairs",
    "drift_chisq_event_types",
    "drift_ks_purchase_values",
    # round 9 continuation: search + anomaly families
    "text_bm25_topdocs",
    "text_search_served",
    "events_anomaly_mad",
    # round 10: entropy family (fixed-point ln) + hybrid retrieval
    "text_token_entropy",
    "text_cross_entropy_lm",
    "drift_kl_event_types",
    "search_hybrid_rrf",
    # round 11: ranked serving off the precomputed-idf index (an
    # amortized entry) and the single-scan entropy/perplexity filter
    "text_bm25_served",
    "corpus_filter_entropy",
    # round 12: the oracle-checked portable-MinHash dedup chain
    # (signature -> LSH -> verify -> components -> survivors)
    "dedup_minhash_survivors_portable",
    # round 12 (cont.): the portable SimHash pair pipeline, the
    # portable ANN bucket probe (broadcast semi-join + top-k heap),
    # and the embedding-space drift monitor (DECIMAL(38) sum fold)
    "dedup_simhash_portable",
    "similarity_ann_lsh_portable",
    "drift_embedding_centroid",
    # round 12 (cont. 2): KMV/theta sketch set algebra (the overlap
    # query checkpoints two sketches then joins k-row tables) and the
    # Efraimidis-Spirakis weighted reservoir (ln-chain key + top-k)
    "sketch_kmv_overlap",
    "sample_weighted_reservoir",
]

# Streaming tier: bounded replays through the microbatch engine.
# stream_semdedup_ingest (the dedup_semantic_stream_ingest registry
# entry) is the stateful-pipeline representative: per-microbatch
# SemDeDup against the accumulated assignment store, timed end-to-end
# including its idempotent batch-scoped sinks; its rows/s base is the
# embeddings table, not events.
# Warmed + best-of-2 like the batch tiers: the first replay in a
# session pays one-time JIT/state-store setup that swamps the operator
# (~2x), so timing warm replays is what lets an operator-level
# regression show through; the reported number is the steady cost of a
# replay in a resident session. Two queries: tumbling (stateless window
# agg) and session windows (the genuinely stateful path).
STREAMING = [
    "stream_tumbling_hourly",
    "stream_session_windows",
    "dedup_semantic_stream_ingest",
]

# FROZEN tier membership (round 13): per-tier walls are ALSO reported
# over the round-10 query set, pinned forever, so cross-round tier
# reads compare like against like — the r11->r12 pipeline tier "grew"
# 35.3 -> 45.3s purely by absorbing new entries, which made tier-level
# deltas unreadable. The growing tiers above stay the coverage story;
# ``tiers_frozen`` is the trend line; tools_bench_compare prints the
# frozen-tier deltas when both payloads carry it.
FROZEN_PIPELINE = [
    "dedup_survivors",
    "dedup_semantic",
    "dedup_duplicate_spans_winnowed",
    "similarity_ivf_multiprobe",
    "similarity_ivf_served",
    "similarity_ivf_batch_served",
    "similarity_ivfsq_served",
    "similarity_ivfpq_adc",
    "similarity_pq_trained256",
    "similarity_sq8_topk",
    "similarity_rp_rerank",
    "asof_join_purchases",
    "training_pipeline_e2e",
    "text_bpe_train",
    "text_heavy_hitters",
    "dedup_lines_global",
    "sketch_count_min_grid",
    "sketch_hll_distinct",
    "sketch_quantile_sampled",
    "join_bloom_runtime_filter",
    "interval_overlap_incidents",
    "multimodal_image_neardup_pairs",
    "drift_chisq_event_types",
    "drift_ks_purchase_values",
    "text_bm25_topdocs",
    "text_search_served",
    "events_anomaly_mad",
    "text_token_entropy",
    "text_cross_entropy_lm",
    "drift_kl_event_types",
    "search_hybrid_rrf",
]

# rows/s denominator per streaming query (default: events table)
STREAMING_SOURCE = {"dedup_semantic_stream_ingest": "embeddings.parquet"}

# Wide-output queries are executed via the noop sink (full computation,
# no driver-side Arrow transfer) — benching collect() on 600k rows would
# measure serialization, not the engine.
LARGE_OUTPUT = {
    "dedup_duplicate_spans_winnowed",
    "scan_project",
    "filter_predicate",
    "expr_arithmetic",
    "join_orders_customer",
    "dedup_survivors",
    "asof_join_purchases",
    "training_pipeline_e2e",
}


def _run(df, name: str) -> int:
    if name in LARGE_OUTPUT:
        df.write.format("noop").mode("overwrite").save()
        return 0
    return len(df.collect())


def main() -> None:
    from bo_sql_spark.queries import load_all
    from bo_sql_spark.session import get_session

    reg = load_all()
    core = [n for n in HEADLINE if n in reg]
    core += sorted(n for n, s in reg.items() if "bench" in s.tags and n not in core)
    pipeline = [n for n in PIPELINE if n in reg]
    streaming = [n for n in STREAMING if n in reg]

    builders = {n: reg[n].builder for n in core + pipeline + streaming}

    spark = get_session(app_name="bo-sql-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Host-calibration anchor: a pure-JVM aggregate with no I/O, no
    # shuffle, no Python — its wall time tracks host speed only, so any
    # cross-round BENCH comparison can normalize by the anchor ratio
    # instead of re-deriving the round-9 "is this VM 1.6x slower or did
    # the code regress?" archaeology (SCALE.md, environment-shift
    # section). Warm once, report best-of-2, BEFORE any tier runs so it
    # measures the quiet session.
    def _anchor() -> float:
        q = lambda: spark.range(100_000_000).selectExpr("sum(id * 3 + 1)").collect()
        # two warm-ups: the anchor is the very first job of the session,
        # and a single warm-up still carries first-job JIT/codegen cost
        # (measured 0.63s with one warm-up vs 0.33-0.38s steady-state on
        # the same quiet machine); best-of-3 then reads steady state
        q()
        q()
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            q()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    anchor_s = _anchor()

    times: dict[str, float] = {}
    # per-query spread [min, median, max] over the timed reps: a
    # best-of-N point number carries no noise band, so a 1.5x delta
    # between rounds couldn't self-classify as noise vs signal (the
    # r10 text_bm25_topdocs attribution problem). The median-to-min
    # gap IS the within-session noise estimate; cross-round deltas
    # smaller than that gap are weather, not code.
    spread: dict[str, list[float]] = {}

    def _time(name: str, runs: int) -> float:
        import statistics

        reps: list[float] = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = builders[name](spark, SF_DIR)
            n = _run(df, name)
            reps.append(time.perf_counter() - t0)
            assert n >= 0
        spread[name] = [
            round(min(reps), 4),
            round(statistics.median(reps), 4),
            round(max(reps), 4),
        ]
        return round(min(reps), 4)

    def _prepare(name: str) -> None:
        """Build an amortized entry's store once, untimed; from here on
        its builder is the serve step alone."""
        prepare, serve = reg[name].amortized
        state = prepare(spark, SF_DIR)
        builders[name] = lambda s, d: serve(s, d, state)

    # Warm + time strictly per tier (core first): see tier-isolation
    # note in the module docstring. Core queries are sub-second, so a
    # third timed run is cheap and halves sensitivity to machine noise;
    # the multi-second pipeline/streaming queries stay at best-of-2.
    # The SemDeDup ingest replay is its own sub-tier AFTER the window
    # queries: its warm run (store build + heavy foreachBatch) would
    # otherwise contaminate the window queries' timed runs the same
    # way cross-tier warm-up inflated core in round 4.
    #
    # r15: TEST-ONLY fast path. tests/test_bench.py asserts the stdout
    # TRANSPORT CONTRACT (one JSON line, key set, byte budget), not
    # timing quality, but its sf0.001 subprocess paid the full
    # warm + best-of-N methodology (~10 min on a weather-degraded host)
    # — the single biggest reason the round-14 driver's pytest hit its
    # wall-clock ceiling (VERDICT r14, What's-wrong #1). These two env
    # knobs let the test skip the warm pass and cap timed reps at 1;
    # they default to the FULL methodology and the driver never sets
    # them, so every graded BENCH_r*.json is measured exactly as
    # before (documented in OPTIMIZATION_r15.md).
    warm = os.environ.get("BOSQL_BENCH_WARM", "1") != "0"
    reps_cap = int(os.environ.get("BOSQL_BENCH_TIMED_REPS", "0"))
    stream_windows = [n for n in streaming if not n.endswith("_ingest")]
    stream_ingest = [n for n in streaming if n.endswith("_ingest")]
    for tier, runs in (
        (core, 3),
        (pipeline, 2),
        (stream_windows, 2),
        (stream_ingest, 2),
    ):
        for name in tier:
            if reg[name].amortized:
                _prepare(name)
            if warm:
                _run(builders[name](spark, SF_DIR), name)
        for name in tier:
            times[name] = _time(name, runs=min(runs, reps_cap) if reps_cap else runs)

    tiers = {
        "core": round(sum(times[n] for n in core), 4),
        "pipeline": round(sum(times[n] for n in pipeline), 4),
        "streaming": round(sum(times[n] for n in streaming), 4),
    }
    # frozen r10-membership walls (core and streaming memberships have
    # not changed since r10, so only pipeline needs a pinned list).
    # A FROZEN name missing from this run would silently shrink the
    # pinned wall and defeat the like-for-like guarantee — warn on
    # stderr AND record it in the payload so the artifact self-reports
    # (test_bench.py also pins FROZEN_PIPELINE ⊆ registry statically).
    frozen_missing = [n for n in FROZEN_PIPELINE if n not in times]
    if frozen_missing:
        print(
            "WARNING: FROZEN_PIPELINE names missing from this run "
            f"(tiers_frozen.pipeline is NOT like-for-like): {frozen_missing}",
            file=sys.stderr,
        )
    tiers_frozen = {
        "core": tiers["core"],
        "pipeline": round(
            sum(times[n] for n in FROZEN_PIPELINE if n in times), 4
        ),
        "streaming": tiers["streaming"],
    }
    if frozen_missing:
        tiers_frozen["missing"] = frozen_missing

    # Streaming wall time is dominated by fixed microbatch startup, so
    # also report replay throughput PER QUERY (rows/s over the events
    # table) — regressions in one operator show through its own number
    # even when startup noise hides them in the wall time.
    streaming_rows_per_sec: dict[str, float] = {}
    try:
        import pyarrow.parquet as pq

        for name in streaming:
            src = STREAMING_SOURCE.get(name, "events.parquet")
            n_rows = pq.read_metadata(os.path.join(SF_DIR, src)).num_rows
            if times.get(name, 0) > 0:
                streaming_rows_per_sec[name] = round(n_rows / times[name], 1)
    except Exception:
        pass

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    payload = {
        # value stays the CORE total so BENCH_r{N} comparisons stay
        # apples-to-apples with rounds 1-2; tier totals are separate.
        "metric": "headline_query_wall_time",
        "value": tiers["core"],
        "unit": "sec",
        # stdout carries 3dp per query (the noise floor is well above
        # 1 ms): ~45 bytes of headroom under the driver's tail-capture
        # budget as the tier lists grow; the spread side artifact keeps
        # the 4dp values for tools_bench_compare. Audited r13: the only
        # in-repo consumers of stdout per-query times are
        # tools_bench_compare.py (prefers the spread file when present)
        # and tests/test_bench.py (asserts 0.0005 tolerance) — no other
        # tool parses them, so the 3dp contract is safe.
        "queries": {n: round(t, 3) for n, t in times.items()},
        "tiers": tiers,
        "tiers_frozen": tiers_frozen,
        "streaming_rows_per_sec": streaming_rows_per_sec or None,
        "anchor_s": anchor_s,
        "sf": sf_val,
    }
    # Side artifact: full payload + spread, for tools_bench_compare.py.
    # Written next to bench.py (deterministic regardless of driver cwd);
    # override with BOSQL_BENCH_SPREAD_OUT for worktree A/B runs.
    spread_out = os.environ.get(
        "BOSQL_BENCH_SPREAD_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SPREAD.json"),
    )
    try:
        with open(spread_out, "w") as fh:
            json.dump(dict(payload, queries=times, spread=spread), fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout contract line still carries the grade
    # Compact separators: the driver's tail-capture window is ~2000
    # bytes; see the transport-contract note in the module docstring.
    print(json.dumps(payload, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
