"""Round-14 optimization tests: spread_scan semantics and the
long-grain embedding-centroid and wide simhash folds, each pinned
against a pure-Python replay or the mergeable-summary path."""

import os

import pyspark.sql.functions as F
import pytest

from bo_sql_spark.parallel import spread_scan


def test_spread_scan_spreads_single_partition(spark):
    df = spark.range(1000).coalesce(1)
    out = spread_scan(df, "id", target=8)
    assert out.rdd.getNumPartitions() == 8
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_spread_scan_noop_when_already_parallel(spark):
    df = spark.range(1000).repartition(8)
    out = spread_scan(df, "id", target=8)
    # no new exchange: the plan is returned unchanged
    assert out is df


def test_spread_scan_keyless_round_robin(spark):
    df = spark.range(100).coalesce(1)
    out = spread_scan(df, target=4)
    assert out.rdd.getNumPartitions() == 4
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_spread_scan_disable_env(spark, monkeypatch):
    monkeypatch.setenv("BOSQL_SPREAD_DISABLE", "1")
    df = spark.range(10).coalesce(1)
    assert spread_scan(df, "id", target=8) is df


def test_lineage_cut_identity_and_disable(spark, monkeypatch):
    from bo_sql_spark.parallel import lineage_cut

    df = spark.range(100)
    cut = lineage_cut(df)
    assert sorted(r.id for r in cut.collect()) == list(range(100))
    monkeypatch.setenv("BOSQL_CKPT_DISABLE", "1")
    assert lineage_cut(df) is df
    # eager cuts order side effects, so the switch does not reach them
    eager = lineage_cut(df, eager=True)
    assert eager is not df
    assert "LogicalRDD" in eager._jdf.queryExecution().analyzed().toString()
    assert sorted(r.id for r in eager.collect()) == list(range(100))


def test_only_parallel_calls_local_checkpoint():
    """Every lineage cut goes through parallel.lineage_cut, so the
    BOSQL_CKPT_DISABLE switch reaches every lazy cut in the package."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "bo_sql_spark"
    callers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "localCheckpoint(" in p.read_text()
    )
    assert callers == ["parallel.py"]


def test_no_implementation_selection_parameters():
    """One kernel per operator: no function in the package takes an
    ``impl`` switch, and connected_components / asof_join pick their
    plan without an ``unroll`` / ``strategy`` knob."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "bo_sql_spark"
    banned = {"impl": None, "unroll": "connected_components",
              "strategy": "asof_join"}
    found = []
    for p in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text(), str(p))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs:
                if arg.arg in banned and banned[arg.arg] in (None, node.name):
                    found.append(f"{p.relative_to(pkg)}:{node.name}({arg.arg})")
    assert found == []


def test_mad_cuts_follow_ckpt_switch(spark, monkeypatch):
    """robust_outliers_from_counts' two lazy cuts honour the switch:
    no LogicalRDD leaf under BOSQL_CKPT_DISABLE=1, same rows either
    way."""
    from bo_sql_spark.operators.drift import robust_outliers_from_counts

    counts = spark.range(60).select(
        (F.col("id") % 3).alias("grp"),
        (F.col("id") * 7 % 23).cast("double").alias("_x"),
        (F.col("id") % 4 + 1).alias("_c"),
    ).unionByName(
        spark.range(1).select(
            F.lit(0).cast("long").alias("grp"),
            F.lit(1000.0).alias("_x"),
            F.lit(1).cast("long").alias("_c"),
        )
    )

    def run():
        out = robust_outliers_from_counts(counts)
        plan = out._jdf.queryExecution().analyzed().toString()
        return plan.count("LogicalRDD"), [tuple(r) for r in out.collect()]

    rdds_on, rows_on = run()
    monkeypatch.setenv("BOSQL_CKPT_DISABLE", "1")
    rdds_off, rows_off = run()
    assert rdds_on > 0
    assert rdds_off == 0
    assert rows_off == rows_on
    assert rows_on[0][4] >= 1  # the planted x=1000 row is an outlier


def _toy_emb(spark):
    rows = [
        (0, 0, [0.5, -0.25, 0.125]),
        (1, 0, [0.5, 0.25, -0.125]),
        (2, 1, [-0.5, 0.75, 0.0]),
        (3, 1, [0.25, 0.25, 0.25]),
        (4, 2, [1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )


def _centroid_drift_py(rows):
    """Pure-Python replay of embedding_centroid_drift: exact int sums of
    the round-half-away-from-zero micro-quantized components per group
    and globally, cosine of the sum vectors as one double division,
    Spark's HALF_UP round to 6 places."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    sums, counts = {}, {}
    for _, grp, vec in rows:
        q = [int(math.copysign(math.floor(abs(x) * 1e6 + 0.5), x)) for x in vec]
        acc = sums.setdefault(grp, [0] * len(q))
        for d, x in enumerate(q):
            acc[d] += x
        counts[grp] = counts.get(grp, 0) + 1
    dims = max(len(s) for s in sums.values())
    glob = [sum(s[d] for s in sums.values() if d < len(s)) for d in range(dims)]
    gg = sum(g * g for g in glob)
    out = set()
    for grp, s in sums.items():
        lg = sum(x * glob[d] for d, x in enumerate(s))
        ll = sum(x * x for x in s)
        cos = None
        if ll and gg:
            c = float(lg) / (math.sqrt(float(ll)) * math.sqrt(float(gg)))
            cos = float(
                Decimal(repr(c)).quantize(Decimal("1e-6"), ROUND_HALF_UP)
            )
        out.add((grp, counts[grp], cos))
    return sorted(out)


def test_centroid_drift_narrow_equals_wide(spark):
    """The long-grain (grp, d) fold equals a pure-Python replay with
    exact integer sums."""
    from bo_sql_spark.operators.drift import embedding_centroid_drift

    emb = _toy_emb(spark)
    got = sorted(
        tuple(r)
        for r in embedding_centroid_drift(emb, "label", dims=3).collect()
    )
    want = _centroid_drift_py(
        [(r["vec_id"], r["label"], r["embedding"]) for r in emb.collect()]
    )
    assert got == want
    assert len(got) == 3


def test_centroid_drift_narrow_counts_empty_vectors(spark):
    # an all-zero vector still counts toward n_vectors (it contributes
    # a d=0 row); the posexplode_outer NULL-d guard covers truly empty
    # arrays
    from bo_sql_spark.operators.drift import embedding_centroid_drift

    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [0.0, 0.0]),
        (2, 1, []),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    out = {
        r["label"]: r["n_vectors"]
        for r in embedding_centroid_drift(emb, "label", dims=2).collect()
    }
    assert out == {0: 2, 1: 1}


def test_centroid_from_sums_narrow_matches_operator(spark):
    # centroid_cosines_from_sums (the streaming serve fold) over
    # embedding_group_sums must agree with the one-shot operator
    from bo_sql_spark.operators.drift import (
        centroid_cosines_from_sums,
        embedding_centroid_drift,
        embedding_group_sums,
    )

    emb = _toy_emb(spark)
    via_sums = sorted(
        tuple(r)
        for r in centroid_cosines_from_sums(
            embedding_group_sums(emb, "label", dims=3), dims=3
        )
        .withColumnRenamed("grp", "label")
        .collect()
    )
    direct = sorted(
        tuple(r)
        for r in embedding_centroid_drift(emb, "label", dims=3).collect()
    )
    assert via_sums == direct


def test_inverted_index_build_single_tokenize_shape(spark, tmp_path):
    """The r14-opt index-build rewrite: dl derived as sum(tf) from the
    checkpointed postings (one corpus tokenize) must equal the old
    per-doc token count, and the clustered write keeps files-per-bucket
    at ONE regardless of upstream map parallelism (the spread_scan +
    partitionBy fan-out regression this round caught)."""
    import os

    from bo_sql_spark.operators.search import materialize_inverted_index

    rows = [
        (1, "the quick brown fox  jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "the five boxing wizards jump quickly"),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    path = str(tmp_path / "idx")
    materialize_inverted_index(docs, path, n_term_buckets=4)
    post = spark.read.parquet(path)
    # dl == total token count per doc (the old definition)
    got = {
        (r["doc_id"], r["dl"]) for r in post.select("doc_id", "dl").distinct().collect()
    }
    want = {
        (i, len(t.split())) for i, t in rows if t
    }
    assert got == want
    # one data file per bucket directory
    for d in os.listdir(path):
        if not d.startswith("tb="):
            continue
        files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_no_spread_context(spark):
    from bo_sql_spark.parallel import no_spread

    df = spark.range(1000).coalesce(1)
    with no_spread():
        assert spread_scan(df, "id", target=8).rdd.getNumPartitions() == 1
    # restored outside the block
    assert spread_scan(df, "id", target=8).rdd.getNumPartitions() == 8


def test_simhash_portable_narrow_equals_wide(spark):
    """The wide branch-free simhash fold (bit j set iff 2*s_j > n) must
    equal a pure-Python replay of the definition: md5-15-hex token
    hashes, a +-1 sum per bit over the DISTINCT tokens, bit set iff
    the sum is > 0."""
    import hashlib
    import re

    from bo_sql_spark.operators.dedup import simhash_portable

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "a"),  # single token: every bit decided by one hash
        (4, None),  # NULL text excluded
        (5, "   "),  # whitespace-only: split yields [''] -> excluded
    ]
    want = {}
    for doc_id, text in rows:
        if text is None:
            continue
        toks = set(re.sub(r"\s+", " ", text.lower()).strip(" ").split(" "))
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
              for t in toks if t]
        if not hs:
            continue
        sig = 0
        for j in range(60):
            acc = 0
            for h in hs:
                acc += 1 if (h >> j) & 1 else -1
            if acc > 0:
                sig |= 1 << j
        want[doc_id] = sig
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["simhash"] for r in simhash_portable(docs).collect()
    }
    assert got == want
    assert set(got) == {0, 1, 2, 3}  # 4 and 5 drop out


def test_kmv_overlap_exact_quad_identity(spark, sf_dir):
    """sketch_kmv_overlap's single-pass exact stats (reopen session)
    must reproduce the four independently-computed set counts the old
    4-subtree form emitted: |A|, |B|, |A∪B|, |A∩B| = |A|+|B|-|A∪B|."""
    from bo_sql_spark.functions import word_shingles
    from bo_sql_spark.operators import kmv as K
    from bo_sql_spark.queries.pipeline import sketch_kmv_overlap

    row = sketch_kmv_overlap(spark, sf_dir).collect()[0]

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
    )

    def hashes(pred):
        return (
            docs.filter(pred)
            .select(F.explode(word_shingles(F.col("text"), 3)).alias("shingle"))
            .filter(F.col("shingle") != "")
            .select(K.kmv_hash("shingle").alias("h"))
            .distinct()
        )

    ha = hashes(F.col("doc_id") < 250)
    hb = hashes(F.col("doc_id") >= 250)
    na, nb = ha.count(), hb.count()
    nu = ha.union(hb).distinct().count()
    ni = ha.intersect(hb).count()
    assert (row["exact_a"], row["exact_b"]) == (na, nb)
    assert (row["exact_union"], row["exact_intersect"]) == (nu, ni)
    assert ni == na + nb - nu
