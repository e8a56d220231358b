"""Scale-mechanism tests: salted joins/aggs produce identical results to
their plain forms; bucketed tables join without an Exchange."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bo_sql_spark.operators.skew import salted_agg, salted_join, with_salt
from bo_sql_spark.plans import explain_str
from bo_sql_spark.sources.bucketed import bucketed_join, write_bucketed


@pytest.fixture(scope="module")
def skewed(spark):
    """90% of rows share key 1 (the hot key)."""
    rows = [(1 if i % 10 else i, float(i)) for i in range(1000)]
    return spark.createDataFrame(rows, "k long, v double")


def test_salted_join_equals_plain_join(spark, skewed):
    dim = spark.createDataFrame(
        [(i, f"name_{i}") for i in range(1000)], "k long, name string"
    )
    plain = skewed.join(dim, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    salted = (
        salted_join(skewed, dim, "k", salt_buckets=4)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salt_is_deterministic_and_spreads_hot_key(spark, skewed):
    # retry-safety: the salt is a pure function of row content, so two
    # independent evaluations assign every row the same salt
    a = {(r["k"], r["v"]): r["_salt"] for r in with_salt(skewed, 8).collect()}
    b = {(r["k"], r["v"]): r["_salt"] for r in with_salt(skewed, 8).collect()}
    assert a == b
    # and the hot key (k=1, 900 distinct v values) lands in many buckets
    hot_salts = {s for (k, _), s in a.items() if k == 1}
    assert len(hot_salts) == 8


def test_salt_default_excludes_map_columns(spark):
    # xxhash64 rejects MapType; the all-columns default must skip it
    df = spark.createDataFrame(
        [(1, {"a": 1}), (2, {"b": 2})], "k long, m map<string,int>"
    )
    out = with_salt(df, 4)  # would raise inside xxhash64 if m were hashed
    assert out.select("_salt").distinct().count() >= 1
    # a map-only schema has nothing to hash -> explicit error
    only_map = df.select("m")
    with pytest.raises(ValueError, match="no hashable columns"):
        with_salt(only_map, 4)


def test_position_salt_spreads_identical_rows(spark):
    # 400 FULL duplicates: content salt puts them in one bucket by
    # definition; position salt must spread them
    dup = spark.createDataFrame([(1, "same")] * 400, "k long, v string").repartition(8)
    content = {r["_salt"] for r in with_salt(dup, 8).collect()}
    assert len(content) == 1
    positional = {r["_salt"] for r in with_salt(dup, 8, position_salt=True).collect()}
    assert len(positional) == 8


def test_salted_agg_equals_plain_agg(spark, skewed):
    plain = {
        (r["k"]): (r["s"], r["n"])
        for r in skewed.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"))
        .collect()
    }
    # duplicate v as v2 so one call can both sum and count it
    out = salted_agg(
        skewed.withColumn("v2", F.col("v")), ["k"], {"v": "sum", "v2": "count"}, 4
    )
    salted = {r["k"]: (r["sum_v"], r["count_v2"]) for r in out.collect()}
    for k, (s, n) in plain.items():
        assert salted[k][1] == n
        assert abs(salted[k][0] - s) < 1e-6


def test_ivf_served_prunes_partitions(spark, tmp_path):
    """The materialized IVF index must serve probes via partition
    pruning: the probe-cell filter appears as PartitionFilters on the
    scan (only the probed cells' directories are read), never as a
    post-scan row filter over the whole index."""
    import numpy as np

    from bo_sql_spark.operators.similarity import (
        ivf_topk_served,
        materialize_ivf_assignment,
    )

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(200)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    path = str(tmp_path / "assignment")
    materialize_ivf_assignment(emb, cents, path)

    served = ivf_topk_served(spark, path, vecs[0][1], query_cells=[1, 2], k=5)
    text = explain_str(served, "formatted")
    assert "PartitionFilters" in text, text
    # the cell predicate must be IN the partition filters, not data filters
    pf = [ln for ln in text.splitlines() if "PartitionFilters" in ln][0]
    assert "cell" in pf, text
    assert served.count() <= 5

    # two queries, one index build: both served from the same path
    other = ivf_topk_served(spark, path, vecs[1][1], query_cells=[0], k=5)
    assert other.count() <= 5


def test_bucketed_join_has_no_exchange(spark):
    # saveAsTable writes into the session warehouse dir (static conf);
    # drop tables AND any stale directories from interrupted runs first
    import shutil

    for t in ("bkt_a", "bkt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = f"{spark.conf.get('spark.sql.warehouse.dir').removeprefix('file:')}/{t}"
        shutil.rmtree(loc, ignore_errors=True)
    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_bucketed(a, "bkt_a", "k", n_buckets=4)
    write_bucketed(b, "bkt_b", "k", n_buckets=4)
    # tiny fixtures would broadcast (which bypasses bucketing); force the
    # shuffle-join path the feature exists for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        text = explain_str(joined, "simple")
        # co-located: a sort-merge join with NO shuffle on either side
        assert "Exchange hashpartitioning" not in text, text
        assert "SortMergeJoin" in text, text
        assert joined.count() == 1000
        # co-located groupBy on the bucket key also avoids the shuffle
        agg = spark.table("bkt_a").groupBy("k").agg(F.sum("va").alias("s"))
        assert "Exchange hashpartitioning" not in explain_str(agg, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_ivf_incremental_append_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Appending a batch's assignment to the materialized store must be
    row-identical to re-indexing the full corpus (coarse assignment is
    per-row independent) — the no-rebuild ingest invariant."""
    import pyspark.sql.functions as F

    from bo_sql_spark.catalog import load_tables
    from bo_sql_spark.operators import similarity as S

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    incr = str(tmp_path / "incr")
    full = str(tmp_path / "full")
    S.materialize_ivf_assignment(emb.filter(F.col("vec_id") >= 50), cents, incr)
    S.append_ivf_assignment(emb.filter(F.col("vec_id") < 50), cents, incr)
    S.materialize_ivf_assignment(emb, cents, full)

    a = spark.read.parquet(incr).select("vec_id", "cell")
    b = spark.read.parquet(full).select("vec_id", "cell")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_ivf_stream_ingest_multibatch_equals_rebuild(spark, sf_dir, tmp_path):
    """Streaming IVF ingest over a MULTI-file landing dir (one file per
    microbatch via maxFilesPerTrigger=1) must produce a store identical
    to a full batch re-index — batching cannot leak into the index."""
    import pyspark.sql.functions as F

    from bo_sql_spark.catalog import load_tables
    from bo_sql_spark.operators import similarity as S

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    landing = str(tmp_path / "landing")
    # 4 files -> 4 microbatches
    emb.repartition(4).write.parquet(landing)

    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(landing)
    )
    n_batches = []

    def ingest(batch_df, batch_id):
        n_batches.append(batch_id)
        S.append_ivf_assignment(batch_df, cents, store)

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(n_batches) >= 4, n_batches

    full = str(tmp_path / "full")
    S.materialize_ivf_assignment(emb, cents, full)
    a = spark.read.parquet(store).select("vec_id", "cell")
    b = spark.read.parquet(full).select("vec_id", "cell")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pq_trained256_recall_floor(spark, sf_dir):
    """Quality gate for the graded trained-PQ config: codes and
    codebooks produced by the ENGINE (ks=256, one Lloyd step — exactly
    what similarity_pq_trained256 runs) must hold recall@10 >= 0.35
    against exact L2 on the fixture. Catches degenerate codebooks
    (duplicate codewords, a broken train step) that still hash-match a
    symbolic oracle but would serve garbage neighbors."""
    import numpy as np

    from bo_sql_spark.catalog import load_tables
    from bo_sql_spark.operators import similarity as S

    emb = load_tables(spark, sf_dir)["embeddings"]
    m, dsub, ks, k = 8, 8, 256, 10
    cb0 = S.pq_codebooks_from_seeds(emb, m=m, dsub=dsub, ks=ks)
    cb1 = S.pq_train_step(emb, cb0, m=m, dsub=dsub).select("sub", "code", "c_vec")
    codes_df = S.pq_encode(emb, cb1, m=m, dsub=dsub)

    rows = sorted(
        emb.select("vec_id", "embedding").collect(), key=lambda r: r["vec_id"]
    )
    ids = [r["vec_id"] for r in rows]
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    idx = {v: i for i, v in enumerate(ids)}
    cb = np.zeros((m, ks, dsub))
    present = np.zeros((m, ks), dtype=bool)
    for r in cb1.collect():
        cb[r["sub"], r["code"]] = r["c_vec"]
        present[r["sub"], r["code"]] = True
    codes = np.zeros((len(ids), m), dtype=np.int64)
    for r in codes_df.collect():
        codes[idx[r["vec_id"]]] = r["codes"]
    assert present.any(1).all(), "a subspace lost every codeword"

    recalls = []
    for qi in range(25):
        lut = np.stack(
            [((cb[s] - V[qi, s * dsub:(s + 1) * dsub]) ** 2).sum(1) for s in range(m)]
        )
        adc = lut[np.arange(m)[None, :], codes].sum(1)
        got = [i for i in np.argsort(adc, kind="stable") if i != qi][:k]
        d2 = ((V - V[qi]) ** 2).sum(1)
        want = set([i for i in np.argsort(d2, kind="stable") if i != qi][:k])
        recalls.append(len(set(got) & want) / k)
    mean_recall = float(np.mean(recalls))
    assert mean_recall >= 0.35, f"recall@10 {mean_recall:.3f} below floor"


def test_ivfpq_served_prunes_partitions(spark, tmp_path):
    """The materialized IVF-PQ index must serve probes via DYNAMIC
    partition pruning: probe selection is an in-engine top-n_probe
    join (no driver collect), and because the code store is
    partitioned by cell, that join shows up as a
    dynamicpruningexpression on the scan's PartitionFilters — only the
    probed cells' directories are read."""
    import numpy as np

    from bo_sql_spark.operators.similarity import (
        ivfpq_topk_served,
        materialize_ivfpq_index,
    )

    rng = np.random.default_rng(11)
    vecs = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(200)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    path = str(tmp_path / "ivfpq")
    materialize_ivfpq_index(emb, cents, path, m=4, dsub=2, ks=4)

    served = ivfpq_topk_served(
        spark, path, cents, vecs[0][1], m=4, dsub=2, n_probe=2, k=5
    )
    text = explain_str(served, "formatted")
    assert "dynamicpruningexpression" in text, text
    pf = [
        ln for ln in text.splitlines()
        if "PartitionFilters" in ln and "dynamicpruning" in ln
    ]
    assert pf, text
    rows = served.collect()
    assert 0 < len(rows) <= 5
    # two queries, one index build: both served from the same path
    other = ivfpq_topk_served(
        spark, path, cents, vecs[1][1], m=4, dsub=2, n_probe=1, k=5
    )
    assert 0 < other.count() <= 5


def test_ivfsq_store_is_codes_partitioned_by_cell(spark, tmp_path):
    """The IVF-SQ8 store must hold 8-bit CODES (no vector column) in a
    hive cell=N layout, and a cell probe must prune at the source."""
    import os

    import numpy as np

    from bo_sql_spark.operators.similarity import (
        materialize_ivfsq_index,
        sq8_topk,
    )

    rng = np.random.default_rng(11)
    vecs = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(200)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    path = str(tmp_path / "ivfsq")
    stats = materialize_ivfsq_index(emb, cents, path)
    assert any(d.startswith("cell=") for d in os.listdir(path))
    store = spark.read.parquet(path)
    assert set(store.columns) == {"vec_id", "codes", "cell"}  # no vectors
    qrow = store.filter(F.col("vec_id") == 0)
    served = sq8_topk(
        store.join(F.broadcast(qrow.select("cell")), "cell", "left_semi")
        .filter(F.col("vec_id") != 0),
        qrow,
        stats,
        k=5,
    )
    text = explain_str(served, "formatted")
    assert "PartitionFilters" in text or "dynamicpruning" in text.lower(), text
    assert served.count() == 5


def test_seeded_rotation_orthogonal_and_deterministic():
    """The OPQ rotation (integer-micro Givens composition) must be
    orthogonal to micro precision (R R^T ~ I, |det| ~ 1 -- rounding to
    1e-6 entries bounds the deviation), identical across calls (a pure
    function of the seed: both the Spark plan and the generated oracle
    embed it, so any nondeterminism would break parity), and actually
    MIX across PQ subspace boundaries (the entire point -- a
    block-diagonal rotation is invisible to per-subspace quantizers)."""
    import numpy as np

    from bo_sql_spark.operators.similarity import seeded_rotation_micro

    r1 = seeded_rotation_micro()
    r2 = seeded_rotation_micro()
    assert r1 == r2
    R = np.array(r1, dtype=np.float64) / 1e6
    assert np.abs(R @ R.T - np.eye(64)).max() < 1e-4
    assert abs(abs(np.linalg.det(R)) - 1.0) < 1e-3
    # a vector living in subspace 0 must spread: no subspace keeps >50%
    v = np.zeros(64)
    v[:8] = 1.0
    w = (R @ v).reshape(8, 8)
    frac = (w**2).sum(1) / (w**2).sum()
    assert frac.max() < 0.5, frac


def test_rotate_embeddings_preserves_norms(spark, sf_dir):
    """rotate_embeddings is the fixed-point application of an
    orthogonal matrix: L2 norms (hence exact-NN truth sets) survive to
    ~1e-4 relative -- the quantization floor of micro-rounded entries."""
    import numpy as np

    from bo_sql_spark.catalog import load_tables
    from bo_sql_spark.operators.similarity import (
        rotate_embeddings,
        seeded_rotation_micro,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    rot = rotate_embeddings(emb, seeded_rotation_micro())
    joined = {
        r["vec_id"]: np.linalg.norm(np.array(r["embedding"], dtype=np.float64))
        for r in rot.collect()
    }
    for r in emb.limit(200).collect():
        n0 = np.linalg.norm(np.array(r["embedding"], dtype=np.float64))
        assert abs(joined[r["vec_id"]] - n0) <= 1e-4 * max(n0, 1e-9)


def test_opq_rotation_recall_gain():
    """The recall claim behind similarity_opq_adc, on the NumPy mirror
    of the engine's trained-PQ formulas: rotation must not hurt on the
    (near-isotropic) fixture, and must clearly WIN on an anisotropic
    variant -- the regime OPQ exists for. Orthogonality preserves the
    exact-L2 truth set, so the comparison is apples-to-apples."""
    import numpy as np
    import pyarrow.parquet as pq

    from bo_sql_spark.operators.similarity import seeded_rotation_micro

    t = pq.read_table("/root/testdata/sf0.1/embeddings.parquet")
    V = np.stack(
        [np.asarray(x, dtype=np.float64) for x in t["embedding"].to_pylist()]
    )
    R = np.array(seeded_rotation_micro()) / 1e6
    m, dsub, ks, k = 8, 8, 256, 10

    def recall(X):
        cbs, codes_cols = [], []
        for s in range(m):
            sl = X[:, s * dsub:(s + 1) * dsub]
            cb = X[:ks, s * dsub:(s + 1) * dsub].copy()
            a = ((sl[:, None, :] - cb[None, :, :]) ** 2).sum(-1).argmin(1)
            for c in range(ks):
                mask = a == c
                if mask.any():
                    cb[c] = sl[mask].mean(0)
            cbs.append(cb)
            codes_cols.append(
                ((sl[:, None, :] - cb[None, :, :]) ** 2).sum(-1).argmin(1)
            )
        codes = np.stack(codes_cols, axis=1)
        rs = []
        for qi in range(25):
            d2 = ((X - X[qi]) ** 2).sum(1)
            want = set([i for i in np.argsort(d2, kind="stable") if i != qi][:k])
            lut = np.stack(
                [((cbs[s] - X[qi, s * dsub:(s + 1) * dsub]) ** 2).sum(1) for s in range(m)]
            )
            adc = lut[np.arange(m)[None, :], codes].sum(1)
            got = set([i for i in np.argsort(adc, kind="stable") if i != qi][:k])
            rs.append(len(got & want) / k)
        return float(np.mean(rs))

    assert recall(V @ R.T) >= recall(V) - 0.02
    w = np.repeat([3.0, 1.5, 1.0, 0.7, 0.5, 0.4, 0.3, 0.25], 8)
    VA = V * w
    r_plain, r_rot = recall(VA), recall(VA @ R.T)
    assert r_rot >= r_plain + 0.1, (r_plain, r_rot)


def test_opq_adc_engine_recall_floor(spark, sf_dir):
    """Quality gate for the REGISTERED OPQ path (not the NumPy
    mirror): rotate with the engine operator, train/encode ks=256 with
    the engine's one-Lloyd-step pipeline, and assert recall@10 vs
    exact L2 in the ROTATED space holds the same >= 0.35 floor as the
    unrotated twin (orthogonality preserves the truth set, so the
    floor is directly comparable). Catches a broken rotation literal,
    a mis-scaled fixed-point apply, or degenerate rotated codebooks
    that would still hash-match a symbolic oracle."""
    import numpy as np

    from bo_sql_spark.catalog import load_tables
    from bo_sql_spark.operators import similarity as S

    emb = load_tables(spark, sf_dir)["embeddings"]
    rot = S.rotate_embeddings(emb, S.seeded_rotation_micro())
    m, dsub, ks, k = 8, 8, 256, 10
    cb0 = S.pq_codebooks_from_seeds(rot, m=m, dsub=dsub, ks=ks)
    cb1 = S.pq_train_step(rot, cb0, m=m, dsub=dsub).select("sub", "code", "c_vec")
    codes_df = S.pq_encode(rot, cb1, m=m, dsub=dsub)

    rows = sorted(rot.collect(), key=lambda r: r["vec_id"])
    ids = [r["vec_id"] for r in rows]
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    idx = {v: i for i, v in enumerate(ids)}
    cb = np.zeros((m, ks, dsub))
    for r in cb1.collect():
        cb[r["sub"], r["code"]] = r["c_vec"]
    codes = np.zeros((len(ids), m), dtype=np.int64)
    for r in codes_df.collect():
        codes[idx[r["vec_id"]]] = r["codes"]

    recalls = []
    for qi in range(25):
        lut = np.stack(
            [((cb[s] - V[qi, s * dsub:(s + 1) * dsub]) ** 2).sum(1) for s in range(m)]
        )
        adc = lut[np.arange(m)[None, :], codes].sum(1)
        got = set([i for i in np.argsort(adc, kind="stable") if i != qi][:k])
        d2 = ((V - V[qi]) ** 2).sum(1)
        want = set([i for i in np.argsort(d2, kind="stable") if i != qi][:k])
        recalls.append(len(got & want) / k)
    mean_recall = float(np.mean(recalls))
    assert mean_recall >= 0.35, f"rotated recall@10 {mean_recall:.3f} below floor"


def test_search_served_prunes_partitions_and_matches_direct(spark, tmp_path):
    """The materialized inverted index must serve term queries via
    partition pruning: the term-bucket filter appears as
    PartitionFilters on the scan (only the probed buckets' directories
    are read), and the served result equals the direct posting-list
    AND over the same corpus."""
    from bo_sql_spark.operators.search import (
        conjunctive_search,
        materialize_inverted_index,
        search_served,
    )

    corpus = [
        (1, "spark join scan join vector"),
        (2, "join scan"),
        (3, "spark spark vector"),
        (4, "scan vector spark"),
        (5, "sort merge sort"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    path = str(tmp_path / "invidx")
    materialize_inverted_index(docs, path, n_term_buckets=16)

    served = search_served(spark, path, ["spark", "scan"], n_term_buckets=16)
    text = explain_str(served, "formatted")
    assert "PartitionFilters" in text, text
    pf = [ln for ln in text.splitlines() if "PartitionFilters" in ln][0]
    assert "tb" in pf, text

    got = sorted((r["doc_id"], r["tf_sum"]) for r in served.collect())
    assert got == [(1, 2), (4, 2)], got  # tf_sum counts query terms only
    direct = sorted(
        r["doc_id"] for r in conjunctive_search(docs, ["spark", "scan"]).collect()
    )
    assert direct == [g[0] for g in got]

    # second query, same build: the amortization story
    assert search_served(spark, path, ["merge"], n_term_buckets=16).count() == 1


def test_positional_serves_prune_and_match_direct(spark, tmp_path):
    """phrase_served / proximity_served must read only the query
    terms' buckets (PartitionFilters) and equal their one-shot
    scanners on the same corpus (shared folds, pruned hit source)."""
    from bo_sql_spark.operators.search import (
        materialize_inverted_index,
        phrase_search,
        phrase_served,
        proximity_search,
        proximity_served,
    )

    corpus = [
        (1, "hash join beats sort merge join"),
        (2, "join hash"),
        (3, "hash join and hash join again"),
        (4, "hash a b c d e f g join"),
        (5, "sort merge sort"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    path = str(tmp_path / "posidx")
    materialize_inverted_index(docs, path, n_term_buckets=16)

    ph = phrase_served(spark, path, ["hash", "join"], n_term_buckets=16)
    text = explain_str(ph, "formatted")
    assert "PartitionFilters" in text, text
    assert "tb" in [ln for ln in text.splitlines() if "PartitionFilters" in ln][0]
    direct = sorted(
        (r["doc_id"], r["n_matches"])
        for r in phrase_search(docs, ["hash", "join"]).collect()
    )
    served = sorted((r["doc_id"], r["n_matches"]) for r in ph.collect())
    assert served == direct == [(1, 1), (3, 2)], (served, direct)

    pr = proximity_served(spark, path, ["hash", "join"], window=5, n_term_buckets=16)
    dprox = sorted(
        (r["doc_id"], r["n_matches"])
        for r in proximity_search(docs, ["hash", "join"], window=5).collect()
    )
    sprox = sorted((r["doc_id"], r["n_matches"]) for r in pr.collect())
    # doc4's gap (8) exceeds the 5-token window; doc2 reversed matches
    assert sprox == dprox and {d for d, _ in sprox} == {1, 2, 3}, (sprox, dprox)


def test_compact_postings_store_shrinks_files_and_preserves_serving(spark, tmp_path):
    """The streaming-ingest small-file fix: many tiny per-batch appends
    -> one compaction -> strictly fewer files, identical pruned-serve
    results (conjunctive AND bm25), partition dirs intact."""
    import pyspark.sql.functions as F

    from bo_sql_spark import fsutil
    from bo_sql_spark.operators.search import (
        bm25_served,
        compact_postings_store,
        doc_positions,
        materialize_inverted_index,
        search_served,
    )

    corpus = [
        (i, f"spark scan t{i % 7} join vector t{i % 5} merge") for i in range(60)
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    store = str(tmp_path / "postidx")
    # simulate N microbatch appends (the foreachBatch ingest shape)
    for lo in range(0, 60, 10):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10))
        toks = doc_positions(batch)
        dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
        (
            toks.groupBy("term", "doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("tf"),
                F.sort_array(F.collect_list(F.col("pos").cast("long"))).alias(
                    "positions"
                ),
            )
            .join(dl, "doc_id")
            .withColumn("tb", F.pmod(F.xxhash64("term"), F.lit(16)))
            .write.mode("append")
            .partitionBy("tb")
            .parquet(store)
        )
    terms = ["spark", "vector"]
    pre_conj = sorted(
        tuple(r)
        for r in search_served(spark, store, terms, n_term_buckets=16).collect()
    )
    before, after = compact_postings_store(spark, store, target_rows_per_file=10_000)
    assert after < before, (before, after)
    post_conj = sorted(
        tuple(r)
        for r in search_served(spark, store, terms, n_term_buckets=16).collect()
    )
    assert post_conj == pre_conj and len(post_conj) == 60
    # partition dirs survived the rewrite (pruning keeps working)
    tbs = {name for name, _ in fsutil.ls(spark, store) if name.startswith("tb=")}
    assert tbs, "compaction must preserve hive partition dirs"
    # ranked serving off a compacted BATCH-built index also unchanged
    store2 = str(tmp_path / "postidx_batch")
    materialize_inverted_index(docs, store2, n_term_buckets=16)
    pre_bm = sorted(
        tuple(r)
        for r in bm25_served(spark, store2, terms, k=100, n_term_buckets=16).collect()
    )
    compact_postings_store(spark, store2, target_rows_per_file=10_000)
    post_bm = sorted(
        tuple(r)
        for r in bm25_served(spark, store2, terms, k=100, n_term_buckets=16).collect()
    )
    assert post_bm == pre_bm


def test_store_schema_constants_match_every_writer(spark, tmp_path):
    """The served readers open every store table with a fixed schema
    instead of inferring it, so each writer must produce exactly that
    schema: the batch build (default and custom id column), the append
    path and the compaction rewrite. A writer that drifts fails here
    instead of breaking reads."""
    from pyspark.sql.types import StructType

    from bo_sql_spark import fsutil
    from bo_sql_spark.operators.search import (
        STATS_SCHEMA,
        TERMS_SCHEMA,
        append_postings,
        compact_postings_store,
        materialize_inverted_index,
        postings_schema,
    )

    def check(path, id_col, has_terms=True):
        want = {
            "": postings_schema(id_col),
            "_stats": STATS_SCHEMA,
            "_terms": TERMS_SCHEMA,
        }
        for suffix, ddl in want.items():
            if suffix == "_terms" and not has_terms:
                assert not fsutil.exists(spark, path + suffix)
                continue
            got = spark.read.parquet(path + suffix).schema
            assert got == StructType.fromDDL(ddl), (path + suffix, got)

    corpus = [(1, "spark join scan"), (2, "join vector"), (3, "merge sort sort")]
    default = str(tmp_path / "default_idx")
    materialize_inverted_index(
        spark.createDataFrame(corpus, "doc_id long, text string"),
        default, n_term_buckets=8,
    )
    check(default, "doc_id")

    custom = str(tmp_path / "custom_idx")
    materialize_inverted_index(
        spark.createDataFrame(corpus, "vid long, body string"),
        custom, id_col="vid", text_col="body", n_term_buckets=8,
    )
    check(custom, "vid")
    compact_postings_store(spark, custom, target_rows_per_file=10_000)
    check(custom, "vid")
    append_postings(
        spark.createDataFrame([(4, "spark vector")], "vid long, body string"),
        custom, id_col="vid", text_col="body", n_term_buckets=8,
    )
    check(custom, "vid", has_terms=False)
    compact_postings_store(spark, custom, target_rows_per_file=10_000)
    check(custom, "vid", has_terms=False)


def _bucket_of(spark, word, n):
    return (
        spark.createDataFrame([(word,)], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(n)).alias("tb"))
        .first()["tb"]
    )


def test_served_reads_fire_no_jobs_while_building(spark, tmp_path):
    """Building a served read's DataFrame fires no Spark job: the
    query terms' buckets fold into the scan filter as literals, and
    every store table opens with its written schema (no inference
    job). The one exception kept on purpose is the first ``_terms``
    read after a rebuild, whose build-stamp check reads two rows; a
    repeat read reuses the memoized verdict. The executed plan still
    prunes on a literal ``tb IN (...)`` of exactly the terms' buckets."""
    import re

    from bo_sql_spark.operators.search import (
        append_postings,
        bm25_served,
        materialize_inverted_index,
        phrase_served,
        proximity_served,
        search_served,
    )

    sc = spark.sparkContext
    corpus = [
        (1, "hash join beats sort merge join"),
        (2, "join hash vector"),
        (3, "spark scan hash join"),
    ]
    path = str(tmp_path / "nojobidx")
    materialize_inverted_index(
        spark.createDataFrame(corpus, "doc_id long, text string"),
        path, n_term_buckets=16,
    )
    terms = ["hash", "join"]

    want = {_bucket_of(spark, t, 16) for t in terms}

    def check(name, build):
        group = f"nojob.{name}"
        sc.setJobGroup(group, group)
        try:
            df = build()
            n = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup("idle", "idle")
        assert n == 0, (name, n)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        lits = re.findall(r"PartitionFilters: \[tb#\d+ IN \(([\d,]+)\)\]", plan)
        assert lits, (name, plan)
        for lit in lits:
            assert {int(b) for b in lit.split(",")} == want, (name, lit, want)

    def bm25():
        return bm25_served(spark, path, terms, k=5, n_term_buckets=16)

    bm25().collect()  # first read after the build: the stamp check's reads
    check("bm25_terms", bm25)
    check("search", lambda: search_served(spark, path, terms, n_term_buckets=16))
    check("phrase", lambda: phrase_served(spark, path, terms, n_term_buckets=16))
    check(
        "proximity", lambda: proximity_served(spark, path, terms, n_term_buckets=16)
    )
    append_postings(
        spark.createDataFrame([(4, "hash join")], "doc_id long, text string"),
        path, n_term_buckets=16,
    )
    check("bm25_fallback", bm25)


@pytest.fixture(scope="module")
def edge_stores(spark, tmp_path_factory):
    """Tiny stores for the served readers' degenerate inputs: a
    one-document store, and a store just after an append (``_terms``
    deleted). Also returns a word absent from both vocabularies whose
    bucket directory exists in neither store."""
    import os

    from bo_sql_spark.operators.search import append_postings, materialize_inverted_index

    root = tmp_path_factory.mktemp("served_edges")
    one_docs = [(7, "hash join hash join")]
    base = [(1, "hash join beats sort"), (2, "join hash vector join")]
    extra = [(3, "sort hash join join hash")]
    one, grown = str(root / "one"), str(root / "grown")
    materialize_inverted_index(
        spark.createDataFrame(one_docs, "doc_id long, text string"), one, n_term_buckets=16
    )
    materialize_inverted_index(
        spark.createDataFrame(base, "doc_id long, text string"), grown, n_term_buckets=16
    )
    append_postings(
        spark.createDataFrame(extra, "doc_id long, text string"), grown, n_term_buckets=16
    )
    assert not os.path.exists(grown + "_terms")
    dirs = set(os.listdir(one)) | set(os.listdir(grown))
    absent = next(
        w for w in (f"zz{i}" for i in range(64))
        if f"tb={_bucket_of(spark, w, 16)}" not in dirs
    )
    return {
        "one": (one, one_docs),
        "grown": (grown, base + extra),
        "absent": absent,
    }


def _served_vs_one_shot(spark, edge_stores, served, one_shot, queries):
    """Each (store, terms) query: the served frame has the one-shot
    scanner's columns and rows over that store's corpus; a query
    holding only the absent word is empty."""
    absent = edge_stores["absent"]
    for store in ("one", "grown"):
        path, corpus = edge_stores[store]
        docs = spark.createDataFrame(corpus, "doc_id long, text string")
        for terms in [*queries, [absent], [queries[0][0], absent]]:
            got = served(path, terms)
            want = one_shot(docs, terms)
            assert got.columns == want.columns, (store, terms, got.columns)
            rows = sorted(tuple(r) for r in got.collect())
            assert rows == sorted(tuple(r) for r in want.collect()), (store, terms, rows)
            if terms == [absent]:
                assert rows == [], (store, terms)


def test_search_served_degenerate_inputs(spark, edge_stores):
    from bo_sql_spark.operators.search import doc_terms, search_served

    def served(path, terms):
        return search_served(spark, path, terms, n_term_buckets=16)

    def one_shot(docs, terms):
        tf = (
            doc_terms(docs)
            .filter(F.col("term").isin(terms))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        return (
            tf.groupBy("doc_id")
            .agg(
                F.count_distinct("term").cast("long").alias("n_terms_hit"),
                F.sum("tf").cast("long").alias("tf_sum"),
            )
            .filter(F.col("n_terms_hit") == len(set(terms)))
        )

    _served_vs_one_shot(spark, edge_stores, served, one_shot, [["hash", "join"]])
    with pytest.raises(ValueError, match="search_served needs at least one term"):
        search_served(spark, edge_stores["one"][0], [])


def test_bm25_served_degenerate_inputs(spark, edge_stores):
    """Covers both idf paths: the one-document store keeps its
    ``_terms`` table, the grown store serves from the fallback."""
    from bo_sql_spark.operators.search import bm25_served, bm25_topk

    def served(path, terms):
        return bm25_served(spark, path, terms, k=10, n_term_buckets=16)

    def one_shot(docs, terms):
        return bm25_topk(docs, terms, k=10)

    _served_vs_one_shot(
        spark, edge_stores, served, one_shot, [["hash", "join"], ["sort"]]
    )
    with pytest.raises(ValueError, match="bm25_served needs at least one term"):
        bm25_served(spark, edge_stores["one"][0], [])


def test_phrase_served_degenerate_inputs(spark, edge_stores):
    from bo_sql_spark.operators.search import phrase_search, phrase_served

    def served(path, terms):
        return phrase_served(spark, path, terms, n_term_buckets=16)

    _served_vs_one_shot(
        spark, edge_stores, served, phrase_search, [["hash", "join"], ["join", "join"]]
    )
    with pytest.raises(ValueError, match="phrase_served needs a non-empty phrase"):
        phrase_served(spark, edge_stores["one"][0], [])


def test_proximity_served_degenerate_inputs(spark, edge_stores):
    from bo_sql_spark.operators.search import proximity_search, proximity_served

    def served(path, terms):
        return proximity_served(spark, path, terms, window=3, n_term_buckets=16)

    def one_shot(docs, terms):
        return proximity_search(docs, terms, window=3)

    _served_vs_one_shot(
        spark, edge_stores, served, one_shot, [["hash", "join"], ["sort", "hash"]]
    )
    with pytest.raises(ValueError, match="proximity_served needs at least one term"):
        proximity_served(spark, edge_stores["one"][0], [])


def test_ivf_snapshot_swap_prunes_and_time_travels(spark, tmp_path):
    """The versioned IVF index (store_ivf_model_swap's mechanism):
    a (kind, cell)-partitioned snapshot version must serve through
    partition pruning — static kind='a' on the scan plus a
    dynamicpruningexpression from the broadcast probe join on cell —
    and the CAS swap must leave v1 intact (time travel) while new
    serves read v2's centroids."""
    import numpy as np

    from bo_sql_spark.operators.similarity import (
        ivf_assign,
        ivf_batch_topk_from_store,
    )
    from bo_sql_spark.sinks import snapshot_read, snapshot_write_cas

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(120)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    root = str(tmp_path / "ivfswap")

    def publish(cents):
        a = ivf_assign(emb, cents).select(
            "vec_id", F.col("embedding").alias("vec"),
            F.lit("a").alias("kind"), F.col("cell").cast("long").alias("cell"),
        )
        c = cents.select(
            F.col("c_id").cast("long").alias("vec_id"),
            F.col("c_vec").alias("vec"),
            F.lit("c").alias("kind"), F.col("c_id").cast("long").alias("cell"),
        )
        return a.unionByName(c)

    cents1 = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    cents2 = emb.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 8)).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    v1 = snapshot_write_cas(spark, publish(cents1), root,
                            partition_by=["kind", "cell"])
    v2 = snapshot_write_cas(spark, publish(cents2), root,
                            partition_by=["kind", "cell"])
    assert (v1, v2) == (1, 2)

    def serve(version):
        store = snapshot_read(spark, root, version=version)
        cents = store.filter(F.col("kind") == "c").select(
            F.col("cell").cast("long").alias("c_id"), F.col("vec").alias("c_vec")
        )
        idx = store.filter(F.col("kind") == "a").select(
            "vec_id", F.col("vec").alias("embedding"), "cell"
        )
        qs = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        return ivf_batch_topk_from_store(idx, qs, cents, n_probe=1, k=5)

    served = serve(v2)
    text = explain_str(served, "formatted")
    assert "dynamicpruningexpression" in text, text
    pf = [
        ln for ln in text.splitlines()
        if "PartitionFilters" in ln and "dynamicpruning" in ln
    ]
    assert pf, text
    # static kind filter also lands on partition columns somewhere in
    # the scan (kind is a partition dir, never a data-file read)
    assert any("kind" in ln for ln in text.splitlines()
               if "PartitionFilters" in ln), text
    rows = served.collect()
    assert 0 < len(rows) <= 10

    # time travel: v1's centroid rows are untouched by the swap, and
    # the two versions really carry different centroid sets
    c_v1 = {r["vec_id"] for r in snapshot_read(spark, root, version=1)
            .filter(F.col("kind") == "c").collect()}
    c_v2 = {r["vec_id"] for r in snapshot_read(spark, root, version=2)
            .filter(F.col("kind") == "c").collect()}
    assert c_v1 == {0, 1, 2, 3} and c_v2 == {4, 5, 6, 7}
