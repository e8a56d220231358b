"""Unit tests for the pipeline operators on controlled fixtures —
behavioral checks the end-to-end oracle harness can't express
(recall of LSH candidates, SimHash locality, codec error paths...).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bo_sql_spark.operators import dedup as D
from bo_sql_spark.operators import multimodal as M
from bo_sql_spark.operators import similarity as S
from bo_sql_spark.operators import text as T
from bo_sql_spark.operators.asof import _asof_cogroup, asof_join


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 1
        (3, "completely different content about spark query engines and shuffles"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_exact_duplicates(docs):
    out = D.exact_dedup(docs, ["text"], "doc_id").collect()
    by_id = {r["doc_id"]: r["dup_count"] for r in out}
    assert by_id[1] == 2  # docs 1 and 4 collapse, min id kept
    assert by_id[2] == 1 and by_id[3] == 1
    assert 4 not in by_id


def test_exact_dedup_null_position_distinguishes(spark):
    # concat_ws drops NULLs; the sentinel must keep (NULL,'x') != ('x',NULL)
    rows = [(1, None, "x"), (2, "x", None), (3, None, "x")]
    df = spark.createDataFrame(rows, "id long, a string, b string")
    out = D.exact_dedup(df, ["a", "b"], "id").collect()
    counts = sorted(r["dup_count"] for r in out)
    assert counts == [1, 2]  # 1&3 merge; 2 stays distinct


def test_minhash_null_text_surfaces_not_dropped(spark):
    rows = [(1, "the quick brown fox jumps again"), (2, None), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["minhash"] for r in D.minhash_signatures(df).collect()}
    assert set(sigs) == {1, 2, 3}  # null-text docs visible, not vanished
    assert sigs[1] is not None and sigs[2] is None and sigs[3] is None
    # and the pair pipeline must NOT pair the two empty docs with each other
    pairs = D.minhash_dedup_pairs(df, threshold=0.1).collect()
    assert pairs == []


def test_minhash_finds_near_duplicates_not_distinct_docs(docs):
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # one-word difference -> high jaccard
    assert (1, 4) in got  # identical
    assert not any(3 in p for p in got)  # unrelated doc never pairs


def test_minhash_jaccard_value_is_exact(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jacc"] for r in D.minhash_dedup_pairs(docs, threshold=0.1).collect()}
    assert pairs[(1, 4)] == 1.0


def test_minhash_index_probe_matches_batch_pairs(spark, docs, tmp_path):
    """The materialized index answers probes identically to the one-shot
    pair pipeline restricted to (corpus x batch) pairs, and its band
    table is written partitioned by band (band=N directories) so a
    band-bucket probe reads one directory, not the whole index."""
    import os

    path = str(tmp_path / "mhidx")
    corpus = docs.filter(F.col("doc_id") <= 2)  # docs 1, 2
    batch = docs.filter(F.col("doc_id") >= 3)  # docs 3, 4
    D.materialize_minhash_index(corpus, path)

    # layout: hive band=N partitions on disk
    band_dirs = [d for d in os.listdir(path + "/bands") if d.startswith("band=")]
    assert len(band_dirs) >= 2, band_dirs

    got = {
        (r["new_id"], r["idx_id"]): r["jacc"]
        for r in D.minhash_probe_index(spark, path, batch, threshold=0.1).collect()
    }
    # doc 4 is an exact dup of corpus doc 1 and a near-dup of 2; doc 3
    # is unrelated and must not pair
    assert got[(4, 1)] == 1.0
    assert (4, 2) in got
    assert not any(new == 3 for (new, _) in got)

    # second batch probes the SAME index without a rebuild
    again = D.minhash_probe_index(spark, path, batch, threshold=0.1).collect()
    assert len(again) == len(got)


def test_simhash_locality(docs, spark):
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash64(docs).collect()}
    assert sigs[1] == sigs[4]  # identical docs -> identical signature

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # near-dup differs in few bits; unrelated doc differs in many
    assert hamming(sigs[1], sigs[2]) < hamming(sigs[1], sigs[3])


def test_connected_components_empty_edges(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components(pairs).count() == 0


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (one cluster), island pair 10-11, singleton-free
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    out = {r["node"]: r["cluster_id"] for r in D.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_embedding_near_dup_pairs(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),  # ~same direction as 1
            (3, [0.0, 1.0, 0.0]),  # orthogonal
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = D.embedding_near_dup_pairs(emb, threshold=0.95).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_embedding_near_dup_quadratic_guard_trips(spark, monkeypatch):
    monkeypatch.setattr(D, "QUADRATIC_ROW_CAP", 2)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="O\\(n\\^2\\)"):
        D.embedding_near_dup_pairs(emb)
    # explicit opt-in still works
    assert D.embedding_near_dup_pairs(emb, allow_quadratic=True).count() >= 0


def test_cosine_topk_orders_by_similarity(spark):
    emb = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)]
        + [(9, [0.9, 0.1, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = S.cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert out[0]["vec_id"] == 0 and out[0]["cos_sim"] == 1.0
    assert out[1]["vec_id"] == 9


def test_ann_lsh_subset_of_bucket(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    ann = S.ann_topk_lsh(emb.filter(F.col("vec_id") != 0), qvec, k=5)
    rows = ann.collect()
    assert 0 < len(rows) <= 5
    # every ANN hit must really be in the query's bucket -> its cosine
    # must appear in the exact ranking with the same value
    exact = {
        r["vec_id"]: r["cos_sim"]
        for r in S.cosine_topk(
            emb.filter(F.col("vec_id") != 0), qvec, k=10**6
        ).collect()
    }
    for r in rows:
        assert exact[r["vec_id"]] == r["cos_sim"]


def test_approx_similarity_join_exactness_and_recall(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),     # identical to 1 -> must be found
            (3, [0.98, 0.02, 0.0, 0.0]),   # near 1/2
            (4, [0.0, 1.0, 0.0, 0.0]),     # orthogonal -> below threshold
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in S.approx_similarity_join(
            emb.select(F.col("vec_id").alias("id_a"), "embedding"),
            emb.select(F.col("vec_id").alias("id_b"), "embedding"),
            threshold=0.9,
            dim=4,
        ).collect()
    }
    brute = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    assert got <= brute          # exact verify: no false positives, ever
    assert (1, 2) in got         # identical vectors always share a bucket
    assert not any(4 in p for p in got)


def test_approx_similarity_join_two_tables_keeps_reversed_ids(spark):
    # two DIFFERENT tables: left id 5 matches right id 3 — a self-join
    # style id_a < id_b filter would wrongly drop the (5, 3) pair
    left = spark.createDataFrame(
        [(5, [1.0, 0.0, 0.0, 0.0])], "id_a long, embedding array<float>"
    )
    right = spark.createDataFrame(
        [(3, [1.0, 0.0, 0.0, 0.0])], "id_b long, embedding array<float>"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in S.approx_similarity_join(
            left, right, threshold=0.9, dim=4, self_join=False
        ).collect()
    }
    assert (5, 3) in got


def test_lang_id_marker_words(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "der hund und die katze ist das"),
            (3, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_guess"] for r in T.lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_quality_score_ranges(docs):
    for r in T.quality_score(docs).collect():
        assert 0.0 <= r["quality"] <= 1.0
        assert r["n_tokens"] > 0


def test_fingerprint_shift_tolerance(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, "PREFIX " + base)], "doc_id long, text string"
    )
    fp = {r["doc_id"]: (r["fp_min"], r["fp_max"]) for r in T.fingerprint(df).collect()}
    # a pure prefix shift preserves at least one extreme window hash
    assert fp[1][0] == fp[2][0] or fp[1][1] == fp[2][1]


def test_multimodal_decode_roundtrip(docs):
    blobs = M.make_fake_blob_df(
        docs.withColumn("n_chars", F.length("text").cast("long")).withColumn(
            "source", F.lit("unit")
        )
    )
    out = {r["doc_id"]: r for r in M.decode_image(blobs, codec="fake").collect()}
    row1 = out[1]
    assert row1["media_type"] == "image/fake"
    assert row1["width"] >= 1 and row1["height"] >= 1
    assert row1["n_bytes"] > 0


def test_multimodal_real_codec_is_explicit_stub(docs):
    blobs = M.make_fake_blob_df(
        docs.withColumn("n_chars", F.length("text").cast("long")).withColumn(
            "source", F.lit("unit")
        )
    )
    with pytest.raises(Exception, match="NotImplementedError|media libraries"):
        M.decode_image(blobs, codec="jpeg").collect()


def test_media_store_pointer_roundtrip(docs, tmp_path):
    """Pack -> pointer table -> ranged fetch must be byte-lossless, with
    contiguous non-overlapping ranges per shard."""
    blobs = M.make_fake_blob_df(
        docs.withColumn("n_chars", F.length("text").cast("long")).withColumn(
            "source", F.lit("unit")
        )
    ).repartition(3)  # multiple shards
    store = tmp_path / "store"
    store.mkdir()
    ptr_path = str(tmp_path / "pointers")
    M.write_media_store(blobs, str(store)).write.parquet(ptr_path)
    spark = blobs.sparkSession
    pointers = spark.read.parquet(ptr_path)

    ptr_rows = pointers.collect()
    assert len(ptr_rows) == blobs.count()
    shards = {r["uri"] for r in ptr_rows}
    assert 1 <= len(shards) <= 3
    # ranges within a shard tile it exactly: sorted offsets are contiguous
    for uri in shards:
        rows = sorted(
            (r for r in ptr_rows if r["uri"] == uri), key=lambda r: r["byte_offset"]
        )
        pos = 0
        for r in rows:
            assert r["byte_offset"] == pos
            pos += r["byte_length"]

    fetched = {r["doc_id"]: r["media"] for r in M.fetch_media(pointers).collect()}
    original = {r["doc_id"]: r["media"] for r in blobs.collect()}
    assert fetched == {k: bytes(v) for k, v in original.items()}


@pytest.mark.parametrize("strategy", ["window", "cogroup"])
def test_asof_join_backward_semantics(spark, strategy):
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 5), (2, 10)], "k long, tsn long"
    )
    right = spark.createDataFrame(
        [(1, 8, "a"), (1, 15, "b"), (3, 1, "z")], "k long, tsn long, tag string"
    )
    if strategy == "window":
        out = asof_join(left, right, on="tsn", by="k", right_cols=["tag"])
    else:
        out = _asof_cogroup(left, right, "tsn", "k", ["tag"], None, "backward")
    got = {(r["k"], r["tsn"]): r["tag"] for r in out.collect()}
    assert got[(1, 10)] == "a"  # most recent at-or-before 10
    assert got[(1, 20)] == "b"
    assert got[(1, 5)] is None  # nothing before 5
    assert got[(2, 10)] is None  # key with no right rows


def test_asof_window_strategy_matches_cogroup(spark):
    """The JVM window rewrite must agree with merge_asof on a random
    fixture, including NULL payload fields (the struct packing exists
    so last(ignorenulls) can't stitch together different right rows),
    inclusive same-ts matches, tolerance, and forward direction."""
    import random

    rnd = random.Random(11)
    left = spark.createDataFrame(
        [(k, rnd.randrange(0, 100)) for k in range(6) for _ in range(30)],
        "k long, tsn long",
    )
    right = spark.createDataFrame(
        [
            (
                k,
                rnd.randrange(0, 100),
                rnd.randrange(1000) if rnd.random() > 0.3 else None,
                f"t{rnd.randrange(10)}",
            )
            for k in range(5)
            for _ in range(20)
        ],
        "k long, tsn long, payload long, tag string",
    ).dropDuplicates(["k", "tsn"])  # unique right ts per key => unique match

    for direction in ("backward", "forward"):
        for tol in (None, 7):
            a = asof_join(
                left, right, on="tsn", by="k", tolerance=tol,
                direction=direction,
            )
            b = _asof_cogroup(left, right, "tsn", "k", None, tol, direction)
            ka = sorted(map(tuple, a.collect()))
            kb = sorted(map(tuple, b.collect()))
            assert ka == kb, f"{direction} tol={tol}: {ka[:3]} vs {kb[:3]}"


def test_asof_window_strategy_has_no_python_stage(spark):
    left = spark.createDataFrame([(1, 10)], "k long, tsn long")
    right = spark.createDataFrame([(1, 8, "a")], "k long, tsn long, tag string")
    out = asof_join(left, right, on="tsn", by="k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "Python" not in plan


def test_range_join_bucketed_brute_force_parity(spark):
    """range_join_bucketed (bucket-expansion equi-join) must equal the
    naive BETWEEN join on a random fixture — including intervals
    shorter/longer than the bucket width, empty matches, and the
    half-open end. Also: exactly once per matching pair (no post-dedup
    in the operator, so duplicates would show)."""
    import random

    from bo_sql_spark.operators.asof import range_join_bucketed

    rnd = random.Random(7)
    lrows = [(i, rnd.randrange(0, 1000)) for i in range(300)]
    rrows = []
    for j in range(60):
        s = rnd.randrange(0, 1000)
        rrows.append((j, s, s + rnd.choice([3, 25, 90, 400])))
    left = spark.createDataFrame(lrows, "lid long, ts long")
    right = spark.createDataFrame(rrows, "rid long, s long, e long")

    for w in (10, 50, 1000):
        got = sorted(
            (r["lid"], r["rid"])
            for r in range_join_bucketed(left, right, "ts", "s", "e", w).collect()
        )
        want = sorted(
            (lid, rid)
            for lid, ts in lrows
            for rid, s, e in rrows
            if s <= ts < e
        )
        assert got == want, f"w={w}: {len(got)} vs {len(want)}"


def test_interval_overlap_join_brute_force_parity(spark):
    """interval_overlap_join must equal the naive overlap predicate on
    a random fixture across bucket widths — exactly once per matching
    pair (the canonical-bucket emission replaces a global dedup), with
    empty intervals dropped and extra_keys honored."""
    import random

    from bo_sql_spark.operators.asof import interval_overlap_join

    rnd = random.Random(13)
    lrows, rrows = [], []
    for i in range(150):
        s = rnd.randrange(0, 1000)
        lrows.append((i, i % 3, s, s + rnd.choice([0, 5, 40, 300])))
    for j in range(80):
        s = rnd.randrange(0, 1000)
        rrows.append((j, j % 3, s, s + rnd.choice([0, 8, 60, 500])))
    left = spark.createDataFrame(lrows, "lid long, k long, ls long, le long")
    right = spark.createDataFrame(rrows, "rid long, k long, rs long, re long")

    def want(with_key):
        return sorted(
            (lid, rid)
            for lid, lk, ls, le in lrows
            for rid, rk, rs, re in rrows
            if ls < le and rs < re and ls < re and rs < le
            and (lk == rk or not with_key)
        )

    right_nok = right.withColumnRenamed("k", "k_r")
    for w in (16, 100, 2000):
        got = sorted(
            (r["lid"], r["rid"])
            for r in interval_overlap_join(
                left, right_nok, "ls", "le", "rs", "re", w
            ).collect()
        )
        assert got == want(False), f"w={w}: {len(got)} vs {len(want(False))}"
    got_k = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", 64, extra_keys=["k"]
        ).collect()
    )
    assert got_k == want(True)


def test_range_join_bucketed_rejects_bucket_collision(spark):
    """An input already carrying `_bucket` must raise, not be silently
    overwritten by the internal join key (round-9 advice)."""
    import pytest

    from bo_sql_spark.operators.asof import range_join_bucketed

    left = spark.createDataFrame([(1, 10, 99)], "lid long, ts long, _bucket long")
    right = spark.createDataFrame([(1, 5, 15)], "rid long, s long, e long")
    with pytest.raises(ValueError, match="_bucket"):
        range_join_bucketed(left, right, "ts", "s", "e", 10)


def test_image_neardup_pairs_planted_triples(spark, sf_dir):
    """The graded image near-dup query's exact expectation: for every
    planted triple (base, +brightness, +2x-rescale) all THREE pairwise
    pairs appear at hamming 0 — brightness (+30, non-clipping)
    preserves every gradient sign and the even upscale re-samples the
    identical pixels through the floor grid — and NO pair links
    unrelated noise images (500 LCG images, ~28 expected bits apart,
    candidate banding + exact verify)."""
    import pyspark.sql.functions as F

    from bo_sql_spark.catalog import load_tables
    from bo_sql_spark.operators import multimodal as M

    docs = load_tables(spark, sf_dir)["documents"]
    pairs = M.dhash_near_pairs(
        M.decode_png_dhash(M.make_png_neardup_blob_df(docs)),
        max_hamming=6,
        bands=4,
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    planted = [
        r["doc_id"]
        for r in docs.filter(F.col("doc_id") % 7 == 0).select("doc_id").collect()
    ]
    B, S = M.NEARDUP_BRIGHT_OFF, M.NEARDUP_SCALE_OFF
    want = set()
    for d in planted:
        want |= {(d, d + B), (d, d + S), (d + B, d + S)}
    assert set(got) == want, (len(got), len(want))
    assert all(h == 0 for h in got.values())


def test_ann_lsh_multiseed_dominates_single(spark, sf_dir):
    """Extra seeds only widen the candidate pool, so the sorted top-k
    scores of a multi-seed probe dominate the single-seed ones
    elementwise (superset property of the scan)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    single = [r["cos_sim"] for r in S.ann_topk_lsh(corpus, qvec, k=5, bits=4).collect()]
    multi = [
        r["cos_sim"]
        for r in S.ann_topk_lsh(
            corpus, qvec, k=5, bits=4, extra_seeds=(1042, 2042)
        ).collect()
    ]
    assert len(multi) >= len(single)
    for m, s in zip(multi, single):
        assert m >= s


def test_ivf_train_step_monotone_objective(spark):
    """Lloyd's algorithm never increases the within-cluster SSE; two
    training steps on a synthetic mixture must not regress it."""
    import numpy as np

    rng = np.random.default_rng(3)
    centers = np.array([[5.0, 0.0], [-5.0, 0.0], [0.0, 5.0]])
    pts = np.vstack([c + rng.standard_normal((40, 2)) for c in centers])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )

    def sse(cent_df):
        assigned = S.ivf_assign(emb, cent_df)
        joined = assigned.join(
            cent_df.withColumnRenamed("c_id", "cell"), "cell"
        )
        d = F.aggregate(
            F.zip_with("embedding", "c_vec", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return joined.agg(F.sum(d)).first()[0]

    # one seed per true cluster (0, 40, 80 are the blocks' first points)
    cents0 = emb.filter(F.col("vec_id").isin([0, 40, 80])).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    sse0 = sse(cents0)
    step1 = S.ivf_train_step(emb, cents0, round_dp=9)
    cents1 = step1.select(
        F.col("cell").alias("c_id"), F.col("centroid").alias("c_vec")
    )
    sse1 = sse(cents1)
    step2 = S.ivf_train_step(emb, cents1, round_dp=9)
    cents2 = step2.select(
        F.col("cell").alias("c_id"), F.col("centroid").alias("c_vec")
    )
    sse2 = sse(cents2)
    assert sse1 <= sse0 + 1e-6
    assert sse2 <= sse1 + 1e-6
    # well-separated mixture: 2 steps must land near the true centers
    got = sorted(
        tuple(round(x) for x in r["c_vec"]) for r in cents2.collect()
    )
    assert got == [(-5, 0), (0, 5), (5, 0)]


def test_ivf_multiprobe_superset_of_single(spark, sf_dir):
    """Probing more cells scans a superset -> kth score can only improve."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    qrow = (
        S.ivf_assign(emb, cents).filter(F.col("vec_id") == 0).first()
    )
    qcell = qrow["cell"]
    qvec = [float(x) for x in qrow["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    single = [
        r["cos_sim"]
        for r in S.ivf_topk(corpus, qvec, query_cell=qcell, k=5, centroids=cents).collect()
    ]
    all_cells = list(range(16))
    multi = [
        r["cos_sim"]
        for r in S.ivf_topk(
            corpus, qvec, query_cells=all_cells, k=5, centroids=cents
        ).collect()
    ]
    assert len(multi) >= len(single)
    for m, s in zip(multi, single):
        assert m >= s


# ---------------------------------------------- mergeable quantile sketch
def test_quantile_sketch_accuracy_and_merge(spark):
    """Sharded-build + merge estimates land within one bucket span of
    the exact quantile (rank error <= ~W/(2*buckets) by construction),
    and re-merging merged sketches (month from days from shards) stays
    in bound — mergeability does not compound error past the bound."""
    from bo_sql_spark.operators import quantile_sketch as Q

    n, buckets = 2000, 32
    rows = [(i, i % 7, (i * 37) % n + 1) for i in range(n)]  # permuted 1..n
    df = spark.createDataFrame(rows, "id long, shard long, v long")
    sk = Q.build_sketch(df, "v", ["id"], ["shard"], buckets)
    merged = Q.merge_sketches(
        sk.withColumn("g", F.lit(1)), ["g"], ["shard", "_b"], buckets
    )
    est = {
        r["q"]: r["est"]
        for r in Q.sketch_quantiles(merged, ["g"], [0.05, 0.5, 0.95]).collect()
    }
    span = n / buckets  # one bucket of rank == one bucket of value here
    for q in (0.05, 0.5, 0.95):
        assert abs(est[q] - q * n) <= 1.5 * span, (q, est[q])


def test_quantile_sketch_deterministic(spark):
    from bo_sql_spark.operators import quantile_sketch as Q

    rows = [(i, (i * 13) % 97) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(8)
    def run():
        sk = Q.build_sketch(df.withColumn("g", F.lit(1)), "v", ["id"], ["g"], 16)
        return sorted(map(tuple, Q.sketch_quantiles(sk, ["g"], [0.25, 0.75]).collect()))
    assert run() == run()


def test_quantile_sketch_single_centroid_clamps(spark):
    # one value repeated: a single centroid; every quantile clamps to it
    from bo_sql_spark.operators import quantile_sketch as Q

    df = spark.createDataFrame([(i, 42) for i in range(10)], "id long, v long")
    sk = Q.build_sketch(df.withColumn("g", F.lit(1)), "v", ["id"], ["g"], 4)
    out = Q.sketch_quantiles(sk, ["g"], [0.0, 0.5, 1.0]).collect()
    assert len(out) == 3 and all(r["est"] == 42.0 for r in out)


def test_png_codec_roundtrip_all_filters():
    """Pure-codec check, no Spark: >=5-row images exercise every PNG
    scanline filter (encoder cycles row%5); decode must invert all of
    them byte-exactly and validate signature + chunk CRCs."""
    for w, h, seed in [(1, 1, 0), (3, 7, 5), (64, 48, 123), (17, 6, 250)]:
        px = bytes((seed + i) % 256 for i in range(w * h))
        blob = M.png_encode_gray(w, h, px)
        assert blob[:8] == M.PNG_SIG
        assert M.png_decode_gray(blob) == (w, h, px)
    with pytest.raises(ValueError, match="signature"):
        M.png_decode_gray(b"notapng" + bytes(24))
    corrupted = bytearray(M.png_encode_gray(4, 4, bytes(range(16))))
    corrupted[20] ^= 0xFF  # flip a byte inside IHDR -> CRC must fail
    with pytest.raises(ValueError, match="CRC"):
        M.png_decode_gray(bytes(corrupted))


def test_png_decode_distributed(docs):
    """decode_image(codec='png') and decode_png_stats over real PNGs
    built by make_png_blob_df: dims and stats must match the
    closed-form pixel definition pixel[i] = (doc_id + i) % 256."""
    src = docs.withColumn("n_chars", F.length("text").cast("long"))
    blobs = M.make_png_blob_df(src)
    stats = {r["doc_id"]: r for r in M.decode_png_stats(blobs).collect()}
    for doc_id, n_chars in src.select("doc_id", "n_chars").collect():
        w, h = n_chars % 64 + 1, doc_id % 48 + 1
        px = [(doc_id + i) % 256 for i in range(w * h)]
        r = stats[doc_id]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, w * h)
        assert (r["pixel_sum"], r["pixel_min"], r["pixel_max"]) == (
            sum(px), min(px), max(px),
        )
    decoded = M.decode_image(blobs, codec="png").collect()
    assert all(r["media_type"] == "image/png" for r in decoded)
    assert all(r["n_bytes"] == r["width"] * r["height"] for r in decoded)


def test_wav_codec_roundtrip():
    """Pure-codec check: PCM16 round trip, extra-chunk tolerance
    (word-aligned walk), and container validation."""
    import struct

    for rate, n, seed in [(8000, 16, 0), (16000, 271, 123), (20000, 100, 7)]:
        samples = [(seed * 31 + i * 17) % 65536 - 32768 for i in range(n)]
        blob = M.wav_encode_pcm16(rate, samples)
        assert M.wav_decode_pcm16(blob) == (rate, samples)
    blob = M.wav_encode_pcm16(8000, [1, -2, 3])
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd len + pad
    patched = blob[:12] + extra + blob[12:]
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert M.wav_decode_pcm16(patched) == (8000, [1, -2, 3])
    with pytest.raises(ValueError, match="RIFF"):
        M.wav_decode_pcm16(b"nota" + bytes(20))


def test_pq_encode_and_adc(spark):
    """PQ: codes are m small ints; ADC ranks the query vector's own
    encoding at distance rank 1 (its per-subspace codes are exact
    matches of the seeded codebook when the query is a seed vector)."""
    from bo_sql_spark.operators import similarity as S

    rows = [(i, [float((i * 7 + j * 3) % 13) for j in range(16)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    m, dsub, ks = 4, 4, 8
    cb = S.pq_codebooks_from_seeds(emb, m=m, dsub=dsub, ks=ks)
    assert cb.count() == m * ks
    codes = S.pq_encode(emb, cb, m=m, dsub=dsub)
    out = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert len(out) == 40
    assert all(len(c) == m and all(0 <= x < ks for x in c) for c in out.values())
    # seed vectors encode to their own code in every subspace
    assert out[3] == [3] * m
    qvec = [float((3 * 7 + j * 3) % 13) for j in range(16)]
    top = S.pq_adc_topk(codes, cb, qvec, m=m, dsub=dsub, k=5).collect()
    assert top[0]["adc_d2_micro"] == 0  # exact codeword hit


def test_ivfpq_encode_and_adc(spark):
    """IVF-PQ: encoded rows carry (cell, m codes); residual codebooks
    seed PAST the centroid ids (whose residuals are zero), so a
    codebook-seed vector's residual IS a codeword — querying by that
    vector must rank it first at ADC distance exactly 0."""
    from bo_sql_spark.operators import similarity as S
    import pyspark.sql.functions as F

    rows = [(i, [float((i * 5 + j * 2) % 11) for j in range(16)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    m, dsub, ks = 4, 4, 8
    encoded, cb = S.ivfpq_encode(emb, cents, m=m, dsub=dsub, ks=ks)
    out = {r["vec_id"]: r for r in encoded.collect()}
    assert len(out) == 30
    assert all(len(r["codes"]) == m for r in out.values())
    # no degenerate all-zero codebook: some codeword must be nonzero
    assert any(any(x != 0.0 for x in r["c_vec"]) for r in cb.collect())
    qid = 10  # residual-codebook seed range is ids 8..15
    qvec = [float((qid * 5 + j * 2) % 11) for j in range(16)]
    top = S.ivfpq_adc_topk(encoded, cb, cents, qvec, m=m, dsub=dsub, n_probe=2, k=5)
    first = top.collect()[0]
    assert first["vec_id"] == qid and first["adc_d2_micro"] == 0


def test_semantic_dedup_drops_planted_copies(spark, sf_dir):
    """SemDeDup must drop every planted near-copy (cos ~0.9999 to its
    original, same cluster) and keep every original; min-id-wins makes
    the survivor set exactly the original ids."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (F.lit(1.0) + F.lit(0.0002) * (i % 5).cast("double")),
        ).alias("embedding"),
    )
    aug = emb.unionAll(planted)
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    survivors = {
        r["vec_id"]
        for r in D.semantic_dedup(aug, cents, threshold=0.95).collect()
    }
    originals = {r["vec_id"] for r in emb.select("vec_id").collect()}
    # every original survives; a copy can only survive if its (slightly
    # scaled) vector crossed into a different cell — with per-dim
    # scaling <= 1.0008 that never happens on this fixture
    assert survivors == originals


def test_semantic_dedup_no_threshold_hits_keeps_all(spark, sf_dir):
    """Without planted copies the fixture has no within-cell pair above
    0.95 (max ~0.49), so SemDeDup is the identity on ids."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    out = D.semantic_dedup(emb, cents, threshold=0.95)
    assert out.count() == emb.count()


def test_sq8_codes_in_range_and_recall(spark, sf_dir):
    """SQ8 codes must be ints in [0,255]; decoded-dot top-10 must agree
    with exact-dot top-10 at recall >= 0.9 (deterministic fixture)."""
    from bo_sql_spark.functions import dot

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    stats = S.sq8_stats(emb)
    codes = S.sq8_encode(emb, stats)
    bounds = codes.select(
        F.array_min("codes").alias("lo"), F.array_max("codes").alias("hi")
    ).agg(F.min("lo").alias("lo"), F.max("hi").alias("hi")).first()
    assert bounds["lo"] >= 0 and bounds["hi"] <= 255
    q = codes.filter(F.col("vec_id") == 0)
    approx = {
        r.vec_id
        for r in S.sq8_topk(
            codes.filter(F.col("vec_id") != 0), q, stats, k=10
        ).collect()
    }
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    exact = {
        r.vec_id
        for r in emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", dot(F.col("embedding"), F.col("qv")).alias("s"))
        .orderBy(F.col("s").desc(), "vec_id")
        .limit(10)
        .collect()
    }
    assert len(approx & exact) / 10 >= 0.9


def test_random_projection_sign_matrix_quality():
    """The +-1 matrix must behave like random signs: balanced, and no
    two rows identical/correlated. Pure-python replica of the exact
    integer formula (the LINEAR-mix parity trap produced a rank-1
    matrix; the squared-mix MSB fixes it — keep it fixed)."""
    P, M, A = 1_000_000_007, 1_000_003, 12_345

    def sign(x: int) -> int:
        h = ((x % P) * M + A) % P
        return -1 if ((h * h) % P) * 2 >= P else 1

    rows = [[sign(j * 64 + d) for d in range(64)] for j in range(16)]
    flat = [s for r in rows for s in r]
    assert abs(sum(flat)) < 110  # balanced within ~3 sigma
    dots = [
        sum(a * b for a, b in zip(rows[i], rows[j]))
        for i in range(16)
        for j in range(i + 1, 16)
    ]
    assert max(abs(d) for d in dots) < 40  # no duplicated/correlated rows


def test_random_projection_preserves_planted_neighbors(spark, sf_dir):
    """JL preserves LARGE similarities: a planted cos~0.9999 near-copy
    must still rank its original as top-1 in the 16-dim projected
    space for every planted query (recall of top-10 on near-isotropic
    noise is NOT the contract — gaps there are below JL distortion)."""
    from bo_sql_spark.functions import cosine_similarity as cs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (F.lit(1.0) + F.lit(0.0003) * (i % 3).cast("double")),
        ).alias("embedding"),
    )
    proj = S.random_projection(emb.unionAll(planted), 16, 64)
    base = proj.filter(F.col("vec_id") < 100000)
    queries = proj.filter(F.col("vec_id") >= 100000).select(
        (F.col("vec_id") - 100000).alias("orig_id"), F.col("proj").alias("qp")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("orig_id").orderBy(F.col("_c").desc(), "vec_id")
    top1 = (
        base.crossJoin(queries)
        .select(
            "orig_id", "vec_id", cs(F.col("proj"), F.col("qp")).alias("_c")
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    rows = top1.collect()
    assert rows, "no planted queries"
    hits = sum(1 for r in rows if r["vec_id"] == r["orig_id"])
    assert hits == len(rows), f"{hits}/{len(rows)} planted top-1 matches"


def test_bpe_train_matches_pure_python_reference(spark):
    """bpe_train must reproduce the exact merge sequence of a direct
    Sennrich-style BPE implementation (greedy leftmost merge, '_' end
    marker, ties by (cnt desc, a, b)) — including multi-level merges
    where a merged symbol participates in a later pair."""
    from collections import Counter

    rows = [
        (1, "low lower lowest low low newer new news"),
        (2, "low lower newest newest wider wide new"),
        (3, "the newest widest low new new lower"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.step, r.a, r.b, r.cnt)
        for r in T.bpe_train(docs, 6).orderBy("step").collect()
    ]

    words: Counter = Counter()
    for _, t in rows:
        for w in t.lower().split():
            words[w + "_"] += 1
    vocab = {w: list(w) for w in words}
    ref = []
    for step in range(1, 7):
        pc: Counter = Counter()
        for w, freq in words.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += freq
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        ref.append((step, a, b, cnt))
        for w in vocab:
            s = vocab[w]
            out = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = out
    assert got == ref


def test_bpe_merge_cannot_match_across_symbol_boundary(spark):
    """The wrapped encoding must prevent a merge pattern from matching
    inside a LONGER symbol: with symbols [xa, b], merge (a, b) must
    NOT fire."""
    state = spark.createDataFrame(
        [("\x1fxa\x1f\x1fb\x1f", 1)], "seq string, freq long"
    )
    merge = spark.createDataFrame([("a", "b")], "a string, b string")
    out = T.bpe_apply_merge(state, merge).collect()
    assert out[0]["seq"] == "\x1fxa\x1f\x1fb\x1f"  # unchanged
    # and the true pair (xa, b) is what pair counting sees
    pairs = {(r.a, r.b) for r in T.bpe_pair_counts(state).collect()}
    assert pairs == {("xa", "b")}


def test_rp_rerank_beats_raw_projected_topk(spark, sf_dir):
    """Two-stage (projected top-100 -> exact rerank) must recover
    strictly more exact-cosine recall@10 than raw 16-dim top-10 on the
    same fixture (deterministic: 0.6 vs 0.1 at sf0.001)."""
    from bo_sql_spark.functions import cosine_similarity as cs
    from bo_sql_spark.queries import load_all

    sf = sf_dir
    got = {
        r.vec_id
        for r in load_all()["similarity_rp_rerank"].builder(spark, sf).collect()
    }
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    exact = {
        r.vec_id
        for r in emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", cs(F.col("embedding"), F.col("qv")).alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(10)
        .collect()
    }
    proj = S.random_projection(emb, 16, 64)
    qp = proj.filter(F.col("vec_id") == 0).select(F.col("proj").alias("qp"))
    raw = {
        r.vec_id
        for r in proj.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qp))
        .select("vec_id", cs(F.col("proj"), F.col("qp")).alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(10)
        .collect()
    }
    assert len(got & exact) >= 5  # >= 0.5 recall
    assert len(got & exact) > len(raw & exact)


@pytest.mark.parametrize("nparts", [1, 3, 13])
def test_heavy_hitters_exact_under_any_partitioning(spark, nparts):
    """The MG-candidate + recount pipeline must return EXACTLY the keys
    with global ratio >= 1/denom, for any physical layout (the superset
    guarantee makes the output layout-independent)."""
    from bo_sql_spark.operators.heavy_hitters import heavy_hitters

    # skewed stream: key k appears 2^k times, k = 0..9 -> total 1023;
    # denom 10 -> threshold 103 -> keys 7, 8, 9 qualify
    rows = [(f"k{k}",) for k in range(10) for _ in range(2 ** k)]
    df = spark.createDataFrame(rows, "term string").repartition(nparts)
    got = {
        (r["term"], r["cnt"])
        for r in heavy_hitters(df, "term", ratio_denom=10).collect()
    }
    assert got == {("k7", 128), ("k8", 256), ("k9", 512)}


def test_heavy_hitters_null_keys_and_typed_schema(spark):
    """NULL keys are excluded from candidates AND the ratio total (a
    null heavy hitter must not silently vanish while still inflating
    the denominator), and the candidate schema follows the input key
    type instead of hardcoding string."""
    from bo_sql_spark.operators.heavy_hitters import (
        heavy_hitters,
        misra_gries_candidates,
    )

    # 6x NULL, 3x k1, 1x k2 -> with nulls excluded total=4, denom=2
    # -> threshold 2 -> only k1 qualifies (cnt 3). If nulls leaked
    # into the total (10), threshold 5 would drop k1 too.
    rows = [(None,)] * 6 + [("k1",)] * 3 + [("k2",)]
    df = spark.createDataFrame(rows, "term string").repartition(2)
    got = {(r["term"], r["cnt"]) for r in heavy_hitters(df, "term", 2).collect()}
    assert got == {("k1", 3)}

    ints = spark.createDataFrame([(7,)] * 5 + [(9,)], "k bigint")
    cand = misra_gries_candidates(ints, "k", m=4)
    assert dict(cand.dtypes)["k"] == "bigint"
    assert {r["k"] for r in cand.collect()} == {7, 9}


def test_heavy_hitters_rejects_bad_m(spark):
    """m <= ratio_denom breaks the superset guarantee -> ValueError
    (a real error, not a strippable assert)."""
    from bo_sql_spark.operators.heavy_hitters import heavy_hitters

    df = spark.createDataFrame([("a",)], "term string")
    with pytest.raises(ValueError, match="ratio_denom"):
        heavy_hitters(df, "term", ratio_denom=10, m=10)


def test_misra_gries_summary_bounds(spark):
    """Per-partition summaries: at most m rows per partition, and every
    estimate undercounts (est <= true count)."""
    from bo_sql_spark.operators.heavy_hitters import misra_gries_candidates

    rows = [(f"k{k}",) for k in range(50) for _ in range(k + 1)]
    df = spark.createDataFrame(rows, "term string").repartition(2)
    cand = misra_gries_candidates(df, "term", m=5)
    pdf = cand.toPandas()
    assert len(pdf) <= 2 * 5
    true = {f"k{k}": k + 1 for k in range(50)}
    assert all(r.est <= true[r.term] for r in pdf.itertuples())


def test_misra_gries_emit_total(spark):
    """emit_total=True: one NULL-key row per non-empty partition whose
    ``est`` sums to the exact row count — also when the trim empties a
    partition's counters (all counts tie with the (m+1)-th), and with a
    numeric key column."""
    from bo_sql_spark.operators.heavy_hitters import misra_gries_candidates

    # 10 long keys x 3 rows on ONE partition, m=4: every count ties
    # with the 5th largest, so the trim leaves no candidate at all
    ties = spark.range(30).select((F.col("id") % 10).alias("k")).coalesce(1)
    rows = misra_gries_candidates(ties, "k", m=4, emit_total=True).collect()
    assert [(r["k"], r["est"]) for r in rows] == [(None, 30)]

    skew = spark.range(1000).select(
        F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id")).alias("k")
    ).repartition(3)
    cand = misra_gries_candidates(skew, "k", m=4, emit_total=True)
    assert dict(cand.dtypes)["k"] == "bigint"
    pdf = cand.toPandas()
    totals = pdf[pdf["k"].isna()]
    assert len(totals) == 3
    assert int(totals["est"].sum()) == skew.count()
    keys = pdf[pdf["k"].notna()]
    assert 7 in set(keys["k"].astype("int64"))
    assert all(e <= 500 for e in keys[keys["k"] == 7]["est"])


def test_semantic_dedup_incremental_equals_full_rerun(spark, sf_dir):
    """Probing the full corpus assignment must be byte-equivalent to
    rerunning batch SemDeDup over corpus+batch and restricting to the
    batch ids (corpus ids all precede batch ids)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = emb.filter(F.col("vec_id") < 300)
    planted = corpus.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (F.lit(1.0) + F.lit(0.0003) * (i % 4).cast("double")),
        ).alias("embedding"),
    )
    batch = emb.filter(F.col("vec_id") >= 300).unionAll(planted)
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    inc = {
        (r["vec_id"], r["cell"])
        for r in D.semantic_dedup_incremental(
            S.ivf_assign(corpus, cents), batch, cents, threshold=0.95
        ).collect()
    }
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    full = {
        (r["vec_id"], r["cell"])
        for r in D.semantic_dedup(
            corpus.unionAll(batch), cents, threshold=0.95
        ).collect()
        if r["vec_id"] in batch_ids
    }
    assert inc == full
    # and the planted corpus copies were actually dropped (same-cell)
    assert not any(v >= 100000 for v, _ in inc)


def test_bpe_token_counts_consistency(spark):
    """Subword counts: every doc has n_bpe_tokens <= n_chars-ish bound
    and >= n_words (merges only shrink sequences, never below 1 piece
    per word); a word fully merged to one symbol counts 1."""
    rows = [(1, "aa aa aa aa"), (2, "ab")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 3 merges on this corpus: (a,a)->aa, (aa,_)->aa_, ... 'aa' words
    # collapse to a single piece
    out = {r.doc_id: (r.n_words, r.n_bpe_tokens) for r in T.bpe_token_counts(docs, 3).collect()}
    assert out[1][0] == 4
    assert out[1][1] == 4  # each 'aa_' word -> one merged symbol
    assert out[2][0] == 1 and 1 <= out[2][1] <= 3


def test_heavy_hitters_candidates_merge_across_batches(spark):
    """The streaming path's property: MG candidates generated per
    BATCH (any split) then unioned and exactly recounted must equal
    the direct single-pass answer — a global heavy hitter exceeds its
    ratio in at least one batch (pigeonhole over batches)."""
    from bo_sql_spark.operators.heavy_hitters import misra_gries_candidates

    rows = [(f"k{k}",) for k in range(10) for _ in range(2 ** k)]
    df = spark.createDataFrame(rows, "term string")
    df = df.withColumn("b", F.monotonically_increasing_id() % 3)
    cands = None
    for b in range(3):
        c = misra_gries_candidates(
            df.filter(F.col("b") == b).select("term"), "term", m=20
        ).select("term")
        cands = c if cands is None else cands.unionAll(c)
    cand_keys = cands.distinct()
    total = df.count()
    got = {
        (r["term"], r["cnt"])
        for r in df.join(F.broadcast(cand_keys), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * 10 >= total)
        .collect()
    }
    assert got == {("k7", 128), ("k8", 256), ("k9", 512)}


def test_survivors_best_prefers_quality_over_id(spark, sf_dir):
    """On the graded fixture keep-best must pick each cluster's
    highest-quality member — and where quality ranking disagrees with
    id order, the two conventions must differ."""
    from bo_sql_spark.queries import load_all

    best = {
        r["doc_id"]
        for r in load_all()["dedup_survivors_best"].builder(spark, sf_dir).collect()
    }
    minid = {
        r["doc_id"]
        for r in load_all()["dedup_survivors"].builder(spark, sf_dir).collect()
    }
    assert len(best) == len(minid)  # same cluster structure
    # the quality convention actually changes at least one keeper on
    # this fixture (guards against silently degenerating to min-id)
    assert best != minid


def test_bpe_exhausted_merges_is_noop(spark):
    """When training exhausts the pair supply before n_merges (every
    word fully merged), the extra steps must be NO-OPS — not a state
    wipe. Regression: the crossJoin form emptied the state on an empty
    merge row, and bpe_token_counts silently returned zero docs."""
    docs = spark.createDataFrame([(1, "aa aa"), (2, "ab")], "doc_id long, text string")
    # words: 'aa_' (x2), 'ab_' — at most ~5 distinct pairs exist; 10
    # merges exhausts them
    out = {r.doc_id: (r.n_words, r.n_bpe_tokens) for r in T.bpe_token_counts(docs, 10).collect()}
    assert out == {1: (2, 2), 2: (1, 1)}
    merges = T.bpe_train(docs, 10).collect()
    assert 0 < len(merges) < 10  # fewer steps than requested, not empty


def test_winnow_fingerprints_shift_invariant(spark):
    """The winnowing locality guarantee vs a plain pos%s stride: a
    shared span >= w+L-1 chars embedded at DIFFERENT offsets in two
    docs must produce at least one COMMON fingerprint in both (the
    selection is content-determined, so the offset shift is
    irrelevant), and both docs must be flagged by the stats op."""
    import random

    rng = random.Random(11)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    span = "".join(rng.choice(alpha) for _ in range(80))  # >= 8+40-1
    pre_a = "".join(rng.choice(alpha) for _ in range(53))
    pre_b = "".join(rng.choice(alpha) for _ in range(117))  # different shift
    lone = "".join(rng.choice(alpha) for _ in range(200))
    docs = spark.createDataFrame(
        [(1, pre_a + span), (2, pre_b + span), (3, lone)],
        "doc_id long, text string",
    )
    fp = D.winnow_fingerprints(docs, span_len=40, winnow_w=8)
    by_doc = {
        i: {r["h"] for r in rows}
        for i, rows in (
            (i, fp.filter(F.col("doc_id") == i).collect()) for i in (1, 2, 3)
        )
    }
    assert by_doc[1] & by_doc[2], "shared span produced no common fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    stats = {
        r["doc_id"]: r["n_dup_fingerprints"]
        for r in D.duplicate_span_stats_winnowed(
            docs, span_len=40, winnow_w=8
        ).collect()
    }
    assert stats[1] > 0 and stats[2] > 0 and stats[3] == 0


def test_winnowed_spans_density_and_no_false_positives(spark, sf_dir):
    """On real docs: fingerprint density tracks the 2/(w+1) expectation
    (sampling actually bounds the shuffle), flagged docs are a SUBSET
    of the exact stride-1 query's flagged docs (every fingerprint is a
    real window — no false positives), and recall on this corpus'
    planted >=55-char overlaps is total."""
    from bo_sql_spark.queries import load_all

    reg = load_all()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    W = 16
    fp = D.winnow_fingerprints(docs, span_len=40, winnow_w=W)
    n_fp = fp.count()
    n_pos = (
        docs.filter(F.col("text").isNotNull())
        .select(
            F.greatest(
                F.length(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
                - 40
                + 1,
                F.lit(1),
            ).alias("nw")
        )
        .agg(F.sum("nw"))
        .collect()[0][0]
    )
    dens = n_fp / n_pos
    assert 0.5 * 2 / (W + 1) < dens < 2.5 * 2 / (W + 1), dens
    exact_flagged = {
        r["doc_id"]
        for r in reg["dedup_duplicate_spans"].builder(spark, sf_dir).collect()
        if r["n_dup_windows"] > 0
    }
    win_flagged = {
        r["doc_id"]
        for r in reg["dedup_duplicate_spans_winnowed"]
        .builder(spark, sf_dir)
        .collect()
        if r["n_dup_fingerprints"] > 0
    }
    assert win_flagged <= exact_flagged, win_flagged - exact_flagged
    assert win_flagged == exact_flagged  # recall 1.0 on this corpus


def test_lsh_salted_pairs_equal_unsalted(spark):
    """Grid-salted hot-bucket candidate generation must produce the
    EXACT same pair set as the plain self-join — including a planted
    hot cluster big enough to cross the hot threshold — with every
    pair landing in exactly one grid cell (no dup inflation before
    the distinct)."""
    import random

    rng = random.Random(5)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    template = "shared boilerplate template text repeated across the hot cluster docs"
    rows = [(i, template + f" tail{i % 3}") for i in range(30)] + [
        (100 + i, "".join(rng.choice(alpha) for _ in range(80))) for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = D.minhash_signatures(docs).filter(F.col("minhash").isNotNull())
    plain = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_band_pairs(sig, "doc_id").collect()
    }
    salted = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_band_pairs_salted(
            sig, "doc_id", salt_r=4, hot_threshold=8
        ).collect()
    }
    assert salted == plain and len(plain) >= 30 * 29 / 2 / 3
    # and through the full verified pipeline
    p0 = {
        (r["id_a"], r["id_b"], r["jacc"])
        for r in D.minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    p1 = {
        (r["id_a"], r["id_b"], r["jacc"])
        for r in D.minhash_dedup_pairs(docs, threshold=0.5, salt_r=4).collect()
    }
    assert p0 == p1


def test_temperature_mix_sample_rates_and_determinism(spark):
    """Temperature mixing: the smallest stratum is kept in FULL, each
    larger stratum's keep rate tracks (n_min/n_s)^(1/2) (the squared
    portable mix is uniform enough to land within a few sigma — the
    unsquared Weyl mix measurably was not), and membership is a pure
    function of the id: any repartitioning yields the identical set."""
    import math

    from bo_sql_spark.operators.sampling import temperature_mix_sample

    sizes = {"a": 64, "b": 256, "c": 1024}
    rows = []
    i = 0
    for s, n in sizes.items():
        for _ in range(n):
            rows.append((i * 37 + 11, s))  # arithmetic id pattern on purpose
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = temperature_mix_sample(df, "lang", "doc_id", half_powers=1).collect()
    by = {}
    for r in kept:
        by.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(by["a"]) == 64  # smallest stratum: rate 1
    for s in ("b", "c"):
        n = sizes[s]
        want = n * math.sqrt(64 / n)
        sigma = math.sqrt(want * (1 - math.sqrt(64 / n))) + 1
        assert abs(len(by[s]) - want) <= 4 * sigma, (s, len(by[s]), want)
    again = {
        r["doc_id"]
        for r in temperature_mix_sample(
            df.repartition(13), "lang", "doc_id", half_powers=1
        ).collect()
    }
    assert again == {r["doc_id"] for r in kept}


def test_temperature_mix_flattens_entropy_monotonically(spark):
    """The sampler is the ACTUATOR for the mix-entropy monitor
    (r10 verdict pairing): flattening temperature up raises the
    uniformity index. On a 64/256/1024 skewed corpus the kept mix's
    norm_entropy_permille must be natural < alpha=3/4 (half_powers=2)
    < alpha=1/2 (half_powers=1) < full flattening (half_powers=0,
    rate n_min/n_s), and full flattening sits near 1000 (uniform);
    many half_powers approaches the natural shares again (r_s -> 1
    keeps everything)."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.drift import entropy_from_counts
    from bo_sql_spark.operators.sampling import temperature_mix_sample

    sizes = {"a": 64, "b": 256, "c": 1024}
    rows = []
    i = 0
    for s, n in sizes.items():
        for _ in range(n):
            rows.append((i * 37 + 11, s))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    def norm_entropy(sampled):
        counts = sampled.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        return entropy_from_counts(counts).first()["norm_entropy_permille"]

    natural = norm_entropy(df)
    by_hp = {
        hp: norm_entropy(
            temperature_mix_sample(df, "lang", "doc_id", half_powers=hp)
        )
        for hp in (0, 1, 2, 10)
    }
    assert natural < by_hp[2] < by_hp[1] < by_hp[0], (natural, by_hp)
    assert by_hp[0] >= 980, by_hp  # full flattening ~ uniform
    # hp -> infinity recovers the natural mix (keep-everything limit)
    assert abs(by_hp[10] - natural) <= 25, (natural, by_hp)


def test_knn_graph_matches_per_query_topk_within_cell(spark, sf_dir):
    """Exact-twin property: a vector's graph neighbors must equal
    cosine_topk over its own cell's members (same ranking, same
    rounded scores) — the graph is the batched form of the per-query
    scan, not a different metric."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    g = S.knn_graph(emb, cents, k=5)
    rows = g.filter(F.col("vec_id").isin([3, 17, 42])).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["vec_id"], []).append(
            (r["rank"], r["neighbor_id"], r["cos_sim"])
        )
    assigned = S.ivf_assign(emb, cents)
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in assigned.filter(F.col("vec_id").isin([3, 17, 42])).collect()
    }
    for qid, nbrs in by_id.items():
        nbrs.sort()
        cell_members = assigned.filter(
            (F.col("cell") == cell_of[qid]) & (F.col("vec_id") != qid)
        ).select("vec_id", "embedding")
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        want = [
            (i + 1, r["vec_id"], r["cos_sim"])
            for i, r in enumerate(
                S.cosine_topk(cell_members, qvec, k=5).collect()
            )
        ]
        assert nbrs == want, (qid, nbrs, want)


def test_knn_clusters_pull_planted_copies_together(spark, sf_dir):
    """The graph-clustering composition: planted near-copies must land
    in their original's cluster (min-id canonical), every other vector
    stays a singleton, and no cluster mixes two different originals."""
    from bo_sql_spark.queries import load_all

    reg = load_all()
    rows = reg["similarity_knn_clusters"].builder(spark, sf_dir).collect()
    by = {r["vec_id"]: r["cluster_id"] for r in rows}
    planted = [v for v in by if v >= 100000]
    assert planted
    for v in planted:
        assert by[v] == v - 100000, (v, by[v])  # copy joins its original
    for v, c in by.items():
        if v < 100000 and v % 7 != 0:
            assert c == v  # untouched vectors stay singletons


def test_sharded_positions_match_global_order_any_shard_count(spark):
    """deterministic_shuffle_positions: contiguous hash-range shards +
    broadcast offsets must reproduce the exact global (hash, id) order
    positions for ANY n_shards (1 shard == the naive global window),
    1-based and gap-free."""
    from bo_sql_spark.operators import sampling as SA

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    ref = [
        r["doc_id"]
        for r in SA.deterministic_shuffle(df, "doc_id", salt=5).collect()
    ]
    for n_shards in (1, 3, 32):
        got = SA.deterministic_shuffle_positions(
            df, "doc_id", salt=5, n_shards=n_shards
        ).collect()
        assert sorted(r["pos"] for r in got) == list(range(1, 501))
        by_pos = [r["doc_id"] for r in sorted(got, key=lambda r: r["pos"])]
        assert by_pos == ref, n_shards


def test_pack_sequences_global_layout_shard_invariant(spark):
    """pack_sequences computes the GLOBAL concat-and-chunk layout; the
    sharded execution must be bit-identical for any n_shards, and the
    layout must be gapless (starts = running sum of n_tokens)."""
    from bo_sql_spark.operators import sampling as SA

    df = spark.createDataFrame(
        [(i, 10 + (i * 7) % 23) for i in range(300)], "doc_id long, nt long"
    )
    outs = []
    for n_shards in (1, 4, 32):
        rows = sorted(
            SA.pack_sequences(
                df, "doc_id", "nt", budget=64, salt=9, n_shards=n_shards
            ).collect(),
            key=lambda r: (r["seq_id"], r["seq_offset"]),
        )
        outs.append([tuple(r) for r in rows])
    assert outs[0] == outs[1] == outs[2]
    # gapless: global starts are consecutive running sums
    starts = [r[2] * 64 + r[3] for r in outs[0]]
    sizes = [r[1] for r in outs[0]]
    acc = 0
    for s, n in zip(starts, sizes):
        assert s == acc
        acc += n


def test_dedup_lines_global_removes_boilerplate_keeps_first(spark):
    """C4-style global chunk dedup: a boilerplate chunk shared by many
    docs survives ONLY in the lowest (doc_id, pos) occurrence; unique
    content is untouched; a doc of pure boilerplate empties out."""
    boiler = "one two three four five six seven eight"  # exactly K=8 tokens
    rows = [
        (1, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, boiler + " unique2 text2 here2 now2 more2 words2 fill2 pad2"),
        (3, boiler),  # pure boilerplate, later doc -> fully removed
        (4, "totally distinct content with eight different words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in D.dedup_lines_global(docs, chunk_tokens=8).collect()
    }
    assert got[1]["n_chunks"] == 2 and got[1]["n_kept"] == 2  # first owner
    assert got[1]["text_kept"] == rows[0][1]
    assert got[2]["n_kept"] == 1  # boiler chunk stripped
    assert got[2]["text_kept"] == "unique2 text2 here2 now2 more2 words2 fill2 pad2"
    assert got[3]["n_kept"] == 0 and got[3]["text_kept"] == ""
    assert got[4]["n_kept"] == 1 and got[4]["text_kept"] == rows[3][1]


def test_split_leakage_safe_clusters_share_split(spark, sf_dir):
    """Every member of a near-dup cluster must land in the SAME split
    (the whole point of hashing the cluster id, not the doc id)."""
    from bo_sql_spark.queries import load_all

    rows = load_all()["split_leakage_safe"].builder(spark, sf_dir).collect()
    by_cluster: dict = {}
    multi = 0
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    for cid, splits in by_cluster.items():
        assert len(splits) == 1, (cid, splits)
    multi = sum(
        1
        for cid in by_cluster
        if sum(1 for r in rows if r["cluster_id"] == cid) > 1
    )
    assert multi > 0  # the fixture really has multi-doc clusters


def test_count_min_grid_merges_and_overcounts_only(spark):
    """CMS invariants: (a) the grid is layout-independent (1 vs 8
    partitions), (b) sketch of a union == cellwise sum of sketches,
    (c) point estimates can only OVERCOUNT the exact frequency."""
    from bo_sql_spark.operators import heavy_hitters as HH

    rows = [(f"k{i % 37}",) for i in range(2000)] + [("hot",)] * 500
    a = spark.createDataFrame(rows[:1500], "k string")
    b = spark.createDataFrame(rows[1500:], "k string")
    both = spark.createDataFrame(rows, "k string")

    def grid_map(df, parts):
        g = HH.count_min_table(df.repartition(parts), "k", depth=4, width=64)
        return {(r["r"], r["bucket"]): r["cnt"] for r in g.collect()}

    assert grid_map(both, 1) == grid_map(both, 8)  # layout-independent
    ga, gb, gu = grid_map(a, 4), grid_map(b, 4), grid_map(both, 4)
    summed: dict = {}
    for g in (ga, gb):
        for cell, c in g.items():
            summed[cell] = summed.get(cell, 0) + c
    assert summed == gu  # mergeable: union == cellwise sum

    est = HH.count_min_estimates(both, "k", depth=4, width=64, top_k=10)
    for r in est.collect():
        assert r["cm_estimate"] >= r["exact"], r
    hot = {r["key"]: r for r in est.collect()}["hot"]
    assert hot["exact"] == 500


def test_corpus_snapshot_diff_statuses(spark, sf_dir):
    """Planted snapshot rules must classify exactly: removed = old-only
    (id%7==0 minus id%10==0), added = new-only, changed = shared ids
    with id%5==0 (text edited in the new snapshot)."""
    from bo_sql_spark.queries import load_all

    docs = load_all()["corpus_snapshot_diff"].builder(spark, sf_dir)
    got = {r["status"]: r["n_docs"] for r in docs.collect()}
    import duckdb

    ids = [
        r[0]
        for r in duckdb.connect()
        .execute(
            f"SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        .fetchall()
    ]
    old = {i for i in ids if i % 10 != 0}
    new = {i for i in ids if i % 7 != 0}
    assert got.get("removed", 0) == len(old - new)
    assert got.get("added", 0) == len(new - old)
    assert got.get("changed", 0) == sum(1 for i in old & new if i % 5 == 0)
    assert got.get("unchanged", 0) == sum(1 for i in old & new if i % 5 != 0)


def test_epoch_upsample_budget_repeats_small_sources(spark):
    """A tiny source must repeat across epochs until its budget is
    hit; a big source must get exactly one (trimmed) epoch; the cut is
    gap-free (first crossing doc included, nothing after)."""
    from bo_sql_spark.operators.sampling import epoch_upsample_budget

    rows = [("small", i, 10) for i in range(3)] + [
        ("big", 100 + i, 50) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, nt long")
    out = epoch_upsample_budget(df, "source", "doc_id", "nt", budget=100, salt=1)
    got = out.collect()
    small = sorted(
        (r["epoch"], r["doc_id"]) for r in got if r["source"] == "small"
    )
    # 3 docs x 10 tokens = 30/epoch; budget 100 -> epochs 0..3, cut in 3
    assert {e for e, _ in small} == {0, 1, 2, 3}
    assert sum(1 for e, _ in small if e < 3) == 9  # full epochs complete
    big = [r for r in got if r["source"] == "big"]
    assert {r["epoch"] for r in big} == {0}
    assert len(big) == 2  # 50+50 crosses 100 at the second doc
    for src in ("small", "big"):
        cums = sorted(r["cum_tokens"] for r in got if r["source"] == src)
        assert cums[-1] >= 100  # budget actually reached


def test_winnow_long_document_stress(spark):
    """The pure-map winnow holds per-row arrays of O(len) structs; the
    docstring promises KB..MB documents are fine — pin it: a 200KB doc
    (plus small controls) winnows without failure, at the expected
    2/(w+1) density, and every fingerprint is a real window hash."""
    import hashlib

    base = "the quick brown fox jumps over the lazy dog "
    long_text = (base * 4546)[:200_000]
    docs = spark.createDataFrame(
        [(1, long_text), (2, "short doc two"), (3, base)],
        "doc_id long, text string",
    )
    out = D.winnow_fingerprints(docs).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    n_windows = 200_000 - 40 + 1
    dens = len(by_doc[1]) / n_windows
    # periodic text drives density below the 2/(w+1) random-text
    # expectation (repeated windows share winners); bound loosely
    assert 0.001 < dens < 0.3, dens
    # spot-check: each selected fingerprint is the real md5-prefix of
    # its window
    norm = " ".join(long_text.lower().split())
    for r in by_doc[1][:5]:
        want = int(
            hashlib.md5(norm[r["pos"] - 1 : r["pos"] - 1 + 40].encode()).hexdigest()[
                :15
            ],
            16,
        )
        assert r["h"] == want, (r["pos"], r["h"], want)


def test_png_dhash_near_duplicates_collide(spark):
    """dHash semantics on PLANTED images (the fixture's synthetic
    gradients can't test this): a brightness-shifted and a
    lightly-noised copy of a random image stay within a few bits of
    the original; an independent random image lands far away; and a
    RESCALED copy (the resize invariance dHash exists for) matches
    closely despite different dimensions."""
    import random

    from bo_sql_spark.operators.multimodal import (
        decode_png_dhash,
        png_encode_gray,
    )

    rng = random.Random(7)
    w, h = 64, 48
    base = [rng.randrange(256) for _ in range(w * h)]
    bright = [min(255, p + 20) for p in base]
    noisy = [
        min(255, max(0, p + rng.choice((-2, -1, 0, 1, 2)))) for p in base
    ]
    other = [rng.randrange(256) for _ in range(w * h)]
    # nearest-neighbor 2x downscale = the same samples dHash reads
    half = [base[(2 * r) * w + 2 * c] for r in range(h // 2) for c in range(w // 2)]
    rows = [
        (1, png_encode_gray(w, h, bytes(base))),
        (2, png_encode_gray(w, h, bytes(bright))),
        (3, png_encode_gray(w, h, bytes(noisy))),
        (4, png_encode_gray(w, h, bytes(other))),
        (5, png_encode_gray(w // 2, h // 2, bytes(half))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r["doc_id"]: r["dhash"] for r in decode_png_dhash(df).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(got[1], got[2]) <= 6, ham(got[1], got[2])   # brightness shift
    assert ham(got[1], got[3]) <= 10, ham(got[1], got[3])  # light noise
    assert ham(got[1], got[5]) <= 6, ham(got[1], got[5])   # 2x rescale
    assert ham(got[1], got[4]) >= 15, ham(got[1], got[4])  # unrelated


def test_dhash_band_pairs_find_planted_near_dups(spark):
    """Banded dHash pairing: planted near-copies (small hamming) must
    surface as verified pairs with correct distances; unrelated images
    must not; and pigeonhole recall holds (hamming < bands pairs are
    always caught)."""
    import random

    from bo_sql_spark.operators.multimodal import (
        decode_png_dhash,
        dhash_near_pairs,
        png_encode_gray,
    )

    rng = random.Random(11)
    w, h = 64, 48

    def img():
        return [rng.randrange(256) for _ in range(w * h)]

    base = img()
    bright = [min(255, p + 20) for p in base]
    rows = [(1, png_encode_gray(w, h, bytes(base))),
            (2, png_encode_gray(w, h, bytes(bright)))]
    rows += [(10 + i, png_encode_gray(w, h, bytes(img()))) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    hashes = decode_png_dhash(df)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_near_pairs(hashes, max_hamming=6).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6, pairs
    assert all({a, b} == {1, 2} for a, b in pairs), pairs  # no false pairs
    # pigeonhole: plant an exactly-3-bit variant — must ALWAYS be found
    h1 = {r["doc_id"]: r["dhash"] for r in hashes.collect()}[1]
    three = h1 ^ 0b10000000000000000010000000001  # 3 bits, spread out
    manual = spark.createDataFrame(
        [(1, h1), (99, three)], "doc_id long, dhash long"
    )
    got = dhash_near_pairs(manual, max_hamming=6).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [(1, 99, 3)]


def test_take_token_budget_shard_invariant(spark):
    """The sharded per-source running cut must be bit-identical for
    any n_shards (1 == the naive single window), including the skewed
    case where one source dominates."""
    from bo_sql_spark.operators.sampling import take_token_budget

    rows = [("big", i, 7) for i in range(400)] + [
        ("small", 1000 + i, 5) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, nt long")
    outs = []
    for n_shards in (1, 4, 16):
        outs.append(
            sorted(
                tuple(r)
                for r in take_token_budget(
                    df, "source", "doc_id", "nt", budget=100, salt=3,
                    n_shards=n_shards,
                ).collect()
            )
        )
    assert outs[0] == outs[1] == outs[2]
    by_src = {}
    for src, _id, nt, cum in outs[0]:
        by_src.setdefault(src, []).append(cum)
    # gap-free: the last kept doc crosses the line, nothing after
    assert max(by_src["big"]) >= 100 and len(by_src["big"]) <= 16
    assert len(by_src["small"]) == 10  # under budget: all kept


def test_hll_registers_merge_and_estimate_accuracy(spark):
    """HLL invariants: (a) registers are layout-independent (1 vs 8
    partitions), (b) max-merge of OVERLAPPING shard registers equals
    the direct build (union semantics), (c) the all-integer estimate
    lands within 3 sigma (1.04/sqrt(m)) of the true distinct count in
    the raw regime, (d) p outside [7, 28] is rejected."""
    import pytest

    from bo_sql_spark.operators import heavy_hitters as HH

    n = 10_000
    rows = [(f"key-{i}",) for i in range(n)]
    df = spark.createDataFrame(rows, "k string")

    def reg_map(d, parts):
        r = HH.hll_registers(d.repartition(parts), "k", p=9)
        return {(x["bucket"]): x["register"] for x in r.collect()}

    direct = reg_map(df, 1)
    assert direct == reg_map(df, 8)  # layout-independent

    # overlapping shards: first 7k and last 6k rows share 3k keys
    a = spark.createDataFrame(rows[:7000], "k string")
    b = spark.createDataFrame(rows[4000:], "k string")
    ra, rb = reg_map(a, 4), reg_map(b, 4)
    merged = {
        k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)
    }
    assert merged == direct  # max-merge == direct, even overlapping

    est = HH.hll_distinct(df, "k", p=9).collect()[0]
    assert est["m"] == 512
    sigma = 1.04 / 512**0.5
    assert abs(est["hll_estimate"] - n) / n < 3 * sigma, est

    with pytest.raises(ValueError):
        HH.hll_registers(df, "k", p=5)


def test_native_and_portable_hll_agree(spark, sf_dir):
    """The panel's portable-HLL estimates and Spark's native HLL++
    must both land within their published error bounds of the exact
    NDV on the same columns (3 sigma; portable m=512 => 1.04/sqrt(m)
    = 4.6%, native default rsd 5%) — the cross-check that justifies
    registering the portable twin as the approx_count_distinct row."""
    from bo_sql_spark.queries import load_all

    reg = load_all()
    portable = reg["approx_count_distinct"].builder(spark, sf_dir).first()
    native = reg["approx_count_distinct_native"].builder(spark, sf_dir).first()
    import pyspark.sql.functions as F

    from bo_sql_spark.catalog import load_tables

    li = load_tables(spark, sf_dir)["lineitem"]
    exact = li.agg(
        F.count_distinct("l_orderkey").alias("o"),
        F.count_distinct(
            F.expr("l_orderkey * 10 + l_linenumber")
        ).alias("p"),
    ).first()
    for col, ex in (
        ("approx_orders", exact["o"]),
        ("approx_lineids", exact["p"]),
    ):
        assert abs(portable[col] - ex) / ex < 3 * 0.046, (col, portable[col], ex)
        assert abs(native[col] - ex) / ex < 3 * 0.05, (col, native[col], ex)


def test_sampled_quantiles_invariants(spark):
    """Portable quantile sketch: (a) layout-independent (1 vs 8
    partitions — the rank pick must not depend on physical order),
    (b) estimates within 4x the sampling rank bound of the true
    quantiles, (c) two qs sharing a rank at tiny n both emit rows,
    (d) empty sample yields an empty result (r15: the stats pass is
    folded into the plan — no scalar action left to raise from;
    empty-out matches the DuckDB replay, which also returns no rows)."""
    import math
    import random

    import pytest

    from bo_sql_spark.operators import heavy_hitters as HH

    rnd = random.Random(3)
    vals = sorted(rnd.gauss(1000, 100) for _ in range(20_000))
    rows = [(i, vals[i]) for i in range(len(vals))]
    df = spark.createDataFrame(rows, "k long, x double")

    outs = {}
    for parts in (1, 8):
        got = {
            r["q"]: (r["sample_n"], r["est"])
            for r in HH.sampled_quantiles(
                df.repartition(parts), "x", "k", qs=(0.5, 0.95), d=8
            ).collect()
        }
        outs[parts] = got
    assert outs[1] == outs[8]  # layout-independent

    n = len(vals)
    m = outs[1][0.5][0]
    for q, (_, est) in outs[1].items():
        true = vals[max(0, math.ceil(q * n) - 1)]
        # rank error bound ~ sqrt(q(1-q)/m) in quantile space; convert
        # via the empirical quantile function (4x slack for the test)
        dq = 4 * math.sqrt(q * (1 - q) / m)
        lo = vals[max(0, math.ceil(max(0.0, q - dq) * n) - 1)]
        hi = vals[min(n - 1, math.ceil(min(1.0, q + dq) * n))]
        assert lo <= est <= hi, (q, est, lo, hi)

    tiny = spark.createDataFrame([(1, 5.0), (2, 7.0)], "k long, x double")
    out = HH.sampled_quantiles(tiny, "x", "k", qs=(0.4, 0.5), d=1).collect()
    assert [r["q"] for r in out] == [0.4, 0.5]  # shared rank, both rows

    assert (
        HH.sampled_quantiles(
            spark.createDataFrame([], "k long, x double"), "x", "k"
        ).collect()
        == []
    )


def test_hll_summary_high_p_no_overflow(spark):
    """p >= 11 regression (round-9 advice): sum_scaled reaches
    2^(p+33), so the 10^6 alpha rescale must run in DECIMAL(38,0) —
    in BIGINT it overflows int64 at p=11+ (ANSI: ARITHMETIC_OVERFLOW;
    non-ANSI: silent garbage). Verify p=12 and p=14 under ANSI return
    sane estimates for a 10k-key set (sparse regime: estimate is the
    raw-floor side, so just check positivity and a loose band)."""
    from bo_sql_spark.operators import heavy_hitters as HH

    n = 10_000
    df = spark.createDataFrame([(f"key-{i}",) for i in range(n)], "k string")
    prev = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for p in (12, 14):
            row = HH.hll_distinct(df, "k", p=p).collect()[0]
            assert row["m"] == 1 << p
            assert 0 < row["hll_estimate"] < 10 * n, (p, row)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_hll_summary_empty_input_is_raw_floor(spark):
    """Empty input: every bucket empty, sum_scaled = m * 2^33, and the
    raw estimator returns its floor (~0.72m = 368 for m=512) — the
    documented raw-regime behavior; small-n consumers apply linear
    counting from n_nonempty, which the summary emits for that
    purpose (V = m - n_nonempty)."""
    from bo_sql_spark.operators import heavy_hitters as HH

    df = spark.createDataFrame([], "k string")
    row = HH.hll_distinct(df, "k", p=9).collect()[0]
    assert row["n_nonempty"] == 0
    assert row["sum_scaled"] == 512 * (1 << 33)
    assert row["hll_estimate"] == 368


def test_pagerank_integer_reference_and_layout(spark):
    """PageRank invariants: (a) matches a pure-Python replay of the
    same integer fixed-point recurrence on a known graph, (b) is
    layout-independent (1 vs 8 partitions), (c) a hub that everything
    links to outranks the spokes."""
    from bo_sql_spark.operators.graph import pagerank

    # star + chain: 1..5 -> 0 (hub), plus 1 -> 2 -> 3
    edges = [(1, 0), (2, 0), (3, 0), (4, 0), (5, 0), (1, 2), (2, 3)]

    def reference(n_iter=3, d=850):
        nodes = sorted({x for e in edges for x in e})
        n = len(nodes)
        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        score = {v: 1_000_000 // n for v in nodes}
        base = (1000 - d) * 1_000_000 // (1000 * n)
        for _ in range(n_iter):
            inn = {v: 0 for v in nodes}
            for s, t in edges:
                inn[t] += score[s] // outdeg[s]
            score = {v: base + d * inn[v] // 1000 for v in nodes}
        return score

    df = spark.createDataFrame(edges, "src long, dst long")
    for parts in (1, 8):
        got = {
            r["node"]: r["score"]
            for r in pagerank(df.repartition(parts), n_iter=3).collect()
        }
        assert got == reference(), got
    assert got[0] > max(got[v] for v in (1, 4, 5))  # hub dominates


def test_label_propagate_reference_and_clamping(spark):
    """Label propagation invariants vs a pure-Python replay: majority
    vote with min-label tie-break, seeds clamped, unlabeled islands
    stay NULL, no-vote nodes keep their label, layout-independent."""
    from bo_sql_spark.operators.graph import label_propagate

    edges = [
        (1, 2), (1, 3), (4, 2), (4, 3),   # seeds 1(l=0), 4(l=1) vote on 2,3
        (2, 5), (3, 5),                   # second hop
        (6, 7),                           # unlabeled island
        (5, 1),                           # inbound votes on a seed (clamped)
    ]
    seeds = [(1, 0), (4, 1)]

    def reference(n_iter=2):
        nodes = {x for e in edges for x in e}
        sd = dict(seeds)
        lbl = {v: sd.get(v) for v in nodes}
        for _ in range(n_iter):
            votes = {}
            for s, t in edges:
                if lbl[s] is not None:
                    votes.setdefault(t, {}).setdefault(lbl[s], 0)
                    votes[t][lbl[s]] += 1
            new = {}
            for v in nodes:
                if v in sd:
                    new[v] = sd[v]
                elif votes.get(v):
                    new[v] = max(
                        votes[v].items(), key=lambda kv: (kv[1], -kv[0])
                    )[0]
                else:
                    new[v] = lbl[v]
            lbl = new
        return lbl

    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame(seeds, "node long, label long")
    for parts in (1, 8):
        got = {
            r["node"]: r["label"]
            for r in label_propagate(
                edf.repartition(parts), sdf, n_iter=2
            ).collect()
        }
        assert got == reference(), (got, reference())
    assert got[7] is None  # island never reached
    assert got[1] == 0  # seed stayed clamped despite inbound votes


def test_two_sample_chisq_edges_and_reference(spark):
    """Drift operator edges: hand-computed contribution on a tiny
    table, a category present in only ONE sample (its zero side
    contributes via the textbook formula), and an entirely one-sided
    split (zero total => all contributions 0, no division error)."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.drift import two_sample_chisq

    rows = [("x", False)] * 30 + [("x", True)] * 10 + [("y", False)] * 10 + [
        ("y", True)
    ] * 30 + [("only_a", False)] * 20
    df = spark.createDataFrame(rows, "c string, b boolean")
    got = {
        r["category"]: (r["n_a"], r["n_b"], r["chisq_micros"])
        for r in two_sample_chisq(df, "c", F.col("b")).collect()
    }
    assert got["only_a"][0:2] == (20, 0)

    def ref(a, b, Na, Nb):
        N = Na + Nb
        out = 0
        for n, t in ((a, Na), (b, Nb)):
            if (a + b) and t:
                d = n * N - (a + b) * t
                out += d * d * 1_000_000 // (N * (a + b) * t)
        return out

    Na, Nb = 60, 40
    for c, (a, b, cm) in got.items():
        assert cm == ref(a, b, Na, Nb), (c, cm, ref(a, b, Na, Nb))

    one_sided = spark.createDataFrame([("x", False), ("y", False)], "c string, b boolean")
    res = two_sample_chisq(one_sided, "c", F.col("b")).collect()
    assert all(r["chisq_micros"] == 0 for r in res)


def test_pagerank_convergence_early_stop(spark):
    """tol_micros stops iteration at the integer fixed point: a
    symmetric 2-cycle reaches stationarity after one step, so a
    50-iteration budget must run far fewer — and produce the exact
    scores of an exhaustive fixed-count run."""
    from bo_sql_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    converged = pagerank(edges, n_iter=50, tol_micros=0)
    crows = converged.collect()
    got = {r["node"]: r["score"] for r in crows}
    assert crows[0]["_pagerank_iters"] <= 3, crows[0]["_pagerank_iters"]
    fixed = pagerank(edges, n_iter=50)
    want = {r["node"]: r["score"] for r in fixed.collect()}
    assert got == want
    # a tolerance coarser than the largest per-step move stops at 1
    coarse = pagerank(edges, n_iter=50, tol_micros=10_000_000)
    assert coarse.first()["_pagerank_iters"] == 1
    # non-trivial chain: early-stopped run equals the run whose fixed
    # count is the stop point (same iterate sequence by construction)
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    conv = pagerank(chain, n_iter=100, tol_micros=0)
    conv_rows = conv.collect()
    k = conv_rows[0]["_pagerank_iters"]
    assert 1 < k < 100
    same = pagerank(chain, n_iter=k)
    assert {r["node"]: r["score"] for r in conv_rows} == {
        r["node"]: r["score"] for r in same.collect()
    }


def test_personalized_pagerank_reference(spark):
    """PPR: teleport/init mass on the seed set only; matches a pure-
    Python replay of the integer recurrence; seed-adjacent nodes
    outrank distant ones."""
    from bo_sql_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (1, 0)]
    seeds = [0]

    def reference(n_iter=3, d=850):
        nodes = sorted({x for e in edges for x in e})
        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        ns = len(seeds)
        score = {v: (1_000_000 // ns if v in seeds else 0) for v in nodes}
        for _ in range(n_iter):
            inn = {v: 0 for v in nodes}
            for s, t in edges:
                inn[t] += score[s] // outdeg[s]
            score = {
                v: ((1000 - d) * 1_000_000 // (1000 * ns) if v in seeds else 0)
                + d * inn[v] // 1000
                for v in nodes
            }
        return score

    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r["node"]: r["score"]
        for r in pagerank(edf, n_iter=3, seeds=sdf).collect()
    }
    assert got == reference(), (got, reference())
    assert got[1] > got[3]  # seed-adjacent beats two-hops-away


def test_two_sample_ks_reference_and_ties(spark):
    """KS drift vs a pure-Python reference on data with heavy
    cross-sample ties: exact integer d_num, min-x tie-break for the
    argmax location, layout independence."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.drift import two_sample_ks

    a_vals = [1.0, 2.0, 2.0, 3.0, 4.0, 5.0, 5.0, 6.0] * 3
    b_vals = [3.0, 4.0, 4.0, 5.0, 6.0, 7.0, 8.0, 8.0] * 3
    rows = [(v, False) for v in a_vals] + [(v, True) for v in b_vals]

    def reference():
        na, nb = len(a_vals), len(b_vals)
        xs = sorted(set(a_vals + b_vals))
        best = (-1, None)
        for x in xs:
            ca = sum(1 for v in a_vals if v <= x)
            cb = sum(1 for v in b_vals if v <= x)
            d = abs(ca * nb - cb * na)
            if d > best[0]:
                best = (d, x)
        return na, nb, best[0], best[1]

    df = spark.createDataFrame(rows, "x double, b boolean")
    for parts in (1, 8):
        r = two_sample_ks(
            df.repartition(parts), "x", F.col("b"), n_shards=4
        ).first()
        assert (r["n_a"], r["n_b"], r["d_num"], r["x_at_max"]) == reference()


def test_robust_group_outliers_reference(spark):
    """Median/MAD/Hampel-count vs a pure-Python reference, including
    even-count groups (lower-median pick), a group whose MAD is zero
    (constant bulk), and layout independence."""
    from bo_sql_spark.operators.drift import robust_group_outliers

    data = {
        "a": [1.0, 2.0, 2.0, 3.0, 100.0],        # odd n, one outlier
        "b": [5.0, 5.0, 5.0, 5.0, 5.0, 9.0],     # MAD 0 -> any dev > 0 flags
        "c": [1.0, 2.0, 3.0, 4.0],               # even n -> lower median 2
    }

    def reference(vals):
        n = len(vals)
        s = sorted(vals)
        med = s[(n + 1) // 2 - 1]
        devs = sorted(abs(v - med) for v in vals)
        mad = devs[(n + 1) // 2 - 1]
        n_out = sum(1 for v in vals if abs(v - med) > 3 * mad)
        return n, med, mad, n_out, max(abs(v - med) for v in vals)

    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "event_type string, value double")
    for parts in (1, 8):
        got = {
            r["grp"]: (r["n"], r["med"], r["mad"], r["n_outliers"], r["max_dev"])
            for r in robust_group_outliers(
                df.repartition(parts), "value", "event_type"
            ).collect()
        }
        assert got == {g: reference(vs) for g, vs in data.items()}, got


def test_conjunctive_search_and_bm25_reference(spark):
    """Posting-list AND + fixed-point BM25 vs pure-Python references
    on a tiny corpus with known term statistics."""
    from bo_sql_spark.operators.search import (
        K1_MICROS,
        B_MICROS,
        bm25_topk,
        conjunctive_search,
    )

    corpus = {
        1: "spark join scan join",
        2: "join scan",
        3: "spark spark vector",
        4: "scan vector spark",
    }
    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    hits = sorted(
        r["doc_id"]
        for r in conjunctive_search(df, ["spark", "scan"]).collect()
    )
    assert hits == [1, 4]  # docs containing BOTH terms

    terms = ["spark", "vector"]
    M = 1_000_000

    def reference_scores(idf_mode):
        from bo_sql_spark.functions.fixedpoint import ln_micros_py

        toks = {d: t.split() for d, t in corpus.items()}
        dl = {d: len(ts) for d, ts in toks.items()}
        n_docs, sum_dl = len(toks), sum(dl.values())
        out = {}
        for t in terms:
            dfreq = sum(1 for ts in toks.values() if t in ts)
            if idf_mode == "log":
                # Lucene BM25 idf: ln((N + 1)/(df + 0.5))
                idf = ln_micros_py(2 * n_docs + 2) - ln_micros_py(2 * dfreq + 1)
            else:
                idf = (n_docs * M) // dfreq
            for d, ts in toks.items():
                tf = ts.count(t)
                if not tf:
                    continue
                dlr = (dl[d] * M * n_docs) // sum_dl
                denom = (
                    tf * M
                    + K1_MICROS * (M - B_MICROS) // M
                    + (K1_MICROS * B_MICROS // M * dlr) // M
                )
                tfpart = (tf * (K1_MICROS + M) * M) // denom
                score = idf * tfpart // M
                n, s = out.get(d, (0, 0))
                out[d] = (n + 1, s + score)
        return out

    for mode in ("log", "linear"):
        got = {
            r["doc_id"]: (r["n_terms_hit"], r["bm25_micros"])
            for r in bm25_topk(df, terms, k=10, idf_mode=mode).collect()
        }
        assert got == reference_scores(mode), (mode, got, reference_scores(mode))


def test_phrase_search_anchors_and_repeated_words(spark):
    """Phrase matching via the anchor aggregate: consecutive-only
    matches, multiple occurrences counted, repeated-word phrases
    ('fast fast') handled by the distinct-word-index test."""
    from bo_sql_spark.operators.search import phrase_search

    corpus = [
        (1, "hash join beats sort merge join"),   # 1 match
        (2, "join hash"),                         # reversed: 0
        (3, "hash join and hash join again"),     # 2 matches
        (4, "hash only"),                         # partial: 0
        (5, "fast fast fast"),                    # overlapping repeats
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_search(df, ["hash", "join"]).collect()
    }
    assert got == {1: 1, 3: 2}, got
    rep = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_search(df, ["fast", "fast"]).collect()
    }
    assert rep == {5: 2}, rep  # starts at positions 0 and 1


def test_bm25_served_equals_one_shot(spark, tmp_path):
    """The served ranker must produce bit-identical scores to the
    one-shot ranker (shared bm25_fold; df from pruned postings, dl and
    stats from the index)."""
    from bo_sql_spark.operators.search import (
        bm25_served,
        bm25_topk,
        materialize_inverted_index,
    )

    corpus = [
        (1, "spark join scan join vector"),
        (2, "join scan"),
        (3, "spark spark vector"),
        (4, "scan vector spark"),
        (5, "sort merge sort"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    path = str(tmp_path / "bm25idx")
    materialize_inverted_index(docs, path, n_term_buckets=16)

    terms = ["spark", "scan", "merge"]
    one_shot = sorted(
        (r["doc_id"], r["bm25_micros"], r["n_terms_hit"])
        for r in bm25_topk(docs, terms, k=10).collect()
    )
    served_df = bm25_served(spark, path, terms, k=10, n_term_buckets=16)
    served = sorted(
        (r["doc_id"], r["bm25_micros"], r["n_terms_hit"])
        for r in served_df.collect()
    )
    assert served == one_shot and len(served) == 5, (served, one_shot)
    # the build wrote the precomputed idf table, and the served plan
    # reads it instead of re-running the ln step-chains per query
    from bo_sql_spark import fsutil

    assert fsutil.exists(spark, path + "_terms")
    plan = served_df._jdf.queryExecution().executedPlan().toString()
    assert "_ln_n" not in plan and "_ln_df" not in plan, (
        "served BM25 must read build-time idf, not recompute the ln chain"
    )
    # fallback (streaming-appended stores have no _terms table):
    # identical scores via the on-the-fly idf path
    fsutil.delete(spark, path + "_terms")
    fallback = sorted(
        (r["doc_id"], r["bm25_micros"], r["n_terms_hit"])
        for r in bm25_served(spark, path, terms, k=10, n_term_buckets=16).collect()
    )
    assert fallback == one_shot


def test_append_postings_invalidates_terms_and_merges_stats(spark, tmp_path):
    """The contract append path (ADVICE r11): appending to a
    batch-built store must delete the precomputed ``_terms`` idf
    table (idf is a global ratio — not mergeable) and sum-merge
    ``_stats``, so bm25_served over the grown store falls back to
    postings-derived idf and matches a one-shot ranker over the FULL
    corpus exactly — never the stale build's idf."""
    from bo_sql_spark import fsutil
    from bo_sql_spark.operators.search import (
        append_postings,
        bm25_served,
        bm25_topk,
        materialize_inverted_index,
    )

    base = [
        (1, "spark join scan join vector"),
        (2, "join scan"),
        (3, "spark spark vector"),
    ]
    extra = [
        (4, "scan vector spark"),
        (5, "sort merge sort"),
    ]
    docs = spark.createDataFrame(base, "doc_id long, text string")
    path = str(tmp_path / "growidx")
    materialize_inverted_index(docs, path, n_term_buckets=16)
    assert fsutil.exists(spark, path + "_terms")

    append_postings(
        spark.createDataFrame(extra, "doc_id long, text string"),
        path,
        n_term_buckets=16,
    )
    assert not fsutil.exists(spark, path + "_terms")
    srow = spark.read.parquet(path + "_stats").first()
    full = spark.createDataFrame(base + extra, "doc_id long, text string")
    from bo_sql_spark.operators.search import doc_positions

    want_sum_dl = doc_positions(full).count()
    assert (srow["n_docs"], srow["sum_dl"]) == (5, want_sum_dl)

    terms = ["spark", "scan", "merge"]
    one_shot = sorted(
        (r["doc_id"], r["bm25_micros"], r["n_terms_hit"])
        for r in bm25_topk(full, terms, k=10).collect()
    )
    served = sorted(
        (r["doc_id"], r["bm25_micros"], r["n_terms_hit"])
        for r in bm25_served(spark, path, terms, k=10, n_term_buckets=16).collect()
    )
    assert served == one_shot and len(served) == 5, (served, one_shot)


def test_bm25_served_stale_terms_stamp_demotes_to_fallback(spark, tmp_path):
    """Rebuild-crash skew: postings + _stats from a NEW corpus with a
    ``_terms`` table left over from an OLD build must not silently
    serve the old idf — the denormalized-totals stamp check demotes
    to the postings-derived fallback, which matches the one-shot
    ranker on the new corpus exactly."""
    import shutil

    from bo_sql_spark.operators.search import (
        bm25_served,
        bm25_topk,
        materialize_inverted_index,
    )

    old = [(1, "spark join"), (2, "join scan")]
    new = [
        (1, "spark join scan join vector"),
        (2, "join scan"),
        (3, "spark spark vector"),
        (4, "scan vector spark"),
    ]
    path = str(tmp_path / "crashidx")
    materialize_inverted_index(
        spark.createDataFrame(old, "doc_id long, text string"),
        path, n_term_buckets=16,
    )
    # simulate the crash window: stash old _terms, rebuild, restore it
    shutil.move(path + "_terms", str(tmp_path / "stale_terms"))
    materialize_inverted_index(
        spark.createDataFrame(new, "doc_id long, text string"),
        path, n_term_buckets=16,
    )
    shutil.rmtree(path + "_terms")
    shutil.move(str(tmp_path / "stale_terms"), path + "_terms")

    terms = ["spark", "scan"]
    one_shot = sorted(
        (r["doc_id"], r["bm25_micros"], r["n_terms_hit"])
        for r in bm25_topk(
            spark.createDataFrame(new, "doc_id long, text string"), terms, k=10
        ).collect()
    )
    served = sorted(
        (r["doc_id"], r["bm25_micros"], r["n_terms_hit"])
        for r in bm25_served(spark, path, terms, k=10, n_term_buckets=16).collect()
    )
    assert served == one_shot, (served, one_shot)


def test_proximity_search_window_semantics(spark):
    """Bitmask range-window proximity: any order, window boundary
    inclusive/exclusive, repeated hits counted per completing end
    position, 3-term sets."""
    from bo_sql_spark.operators.search import proximity_search

    corpus = [
        (1, "dup a b c vector"),    # span 5 <= 10
        (2, "dup a b c d e f g h i j k vector"),  # span 13 > 10
        (3, "vector dup"),          # reversed, adjacent
        (4, "dup only"),            # incomplete
        (5, "dup vector dup vector"),  # multiple completing ends
        (6, "x dup y vector z merge"),  # 3-term test below
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_matches"]
        for r in proximity_search(df, ["dup", "vector"], window=10).collect()
    }
    # doc5: ends at pos1 (dup0,vec1), pos2, pos3 all complete -> 3
    assert got == {1: 1, 3: 1, 5: 3, 6: 1}, got
    exact = {
        r["doc_id"]: r["n_matches"]
        for r in proximity_search(df, ["dup", "vector"], window=5).collect()
    }
    assert 1 in exact and 2 not in exact, exact
    three = {
        r["doc_id"]: r["n_matches"]
        for r in proximity_search(df, ["dup", "vector", "merge"], window=6).collect()
    }
    assert three == {6: 1}, three


def test_token_entropy_reference_and_float_agreement(spark):
    """Entropy in nat-micros vs a float reference: exact fixed points
    (all-same = 0, all-distinct = ln n) and <= 3 micro agreement with
    -sum p ln p on mixed docs; norm permille in [0, 1000]."""
    import math

    from bo_sql_spark.operators.text import token_entropy

    corpus = {
        1: "a a a a",            # H = 0
        2: "a b c d",            # H = ln 4
        3: "a a b",              # H = ln3 - (2 ln2)/3
        4: "x",                  # dl=1: H = 0, norm pinned 0
        5: "a a a b b c",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    got = {r["doc_id"]: r for r in token_entropy(df).collect()}
    assert got[1]["entropy_micros"] == 0
    assert abs(got[2]["entropy_micros"] / 1e6 - math.log(4)) <= 3e-6
    assert got[4]["entropy_micros"] == 0 and got[4]["norm_entropy_permille"] == 0
    for d, text in corpus.items():
        toks = text.split()
        n = len(toks)
        want = -sum(
            (toks.count(t) / n) * math.log(toks.count(t) / n)
            for t in set(toks)
        )
        assert abs(got[d]["entropy_micros"] / 1e6 - want) <= 3e-6, d
        assert 0 <= got[d]["norm_entropy_permille"] <= 1000
        assert got[d]["n_tokens"] == n
        assert got[d]["n_unique_terms"] == len(set(toks))
    # all-distinct doc maxes the normalized entropy
    assert got[2]["norm_entropy_permille"] >= 999


def test_cross_entropy_lm_reference(spark):
    """CE = H + KL >= H; equals the float ln(N) - mean ln(gf) within
    micro tolerance; a doc of corpus-typical tokens scores lower than
    a doc of rare tokens."""
    import math

    from bo_sql_spark.operators.text import cross_entropy_lm

    corpus = {
        1: "the the the the the of of of a a",
        2: "the of a the of",
        3: "zebra quark",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    got = {r["doc_id"]: r["cross_entropy_micros"] for r in cross_entropy_lm(df).collect()}
    all_toks = " ".join(corpus.values()).split()
    N = len(all_toks)
    for d, text in corpus.items():
        toks = text.split()
        want = math.log(N) - sum(
            math.log(all_toks.count(t)) for t in toks
        ) / len(toks)
        assert abs(got[d] / 1e6 - want) <= 5e-6, d
    assert got[3] > got[2]  # rare-token doc is more surprising


def test_two_sample_kl_reference_and_total_nonnegative(spark):
    """Smoothed KL contributions replay the float formula within
    micros; the summed divergence is >= 0 and 0 for identical mixes."""
    import math

    from bo_sql_spark.operators.drift import two_sample_kl

    import pyspark.sql.functions as F

    rows = (
        [("x", False)] * 30 + [("y", False)] * 10 + [("z", False)] * 5
        + [("x", True)] * 10 + [("y", True)] * 30 + [("z", True)] * 5
    )
    df = spark.createDataFrame(rows, "category string, b boolean")
    out = {r["category"]: r for r in two_sample_kl(df, "category", F.col("b")).collect()}
    ta, tb, k = 45, 45, 3
    total = 0
    for cat in ("x", "y", "z"):
        a1, b1 = out[cat]["n_a"] + 1, out[cat]["n_b"] + 1
        want = (a1 / (ta + k)) * math.log(
            (a1 / (ta + k)) / (b1 / (tb + k))
        )
        assert abs(out[cat]["kl_contrib_micros"] / 1e6 - want) <= 5e-6, cat
        total += out[cat]["kl_contrib_micros"]
    assert total >= 0
    # identical mixes: every contribution exactly 0 (a'=b', A'=B')
    same = spark.createDataFrame(
        [("x", False)] * 5 + [("x", True)] * 5 + [("y", False)] * 3 + [("y", True)] * 3,
        "category string, b boolean",
    )
    vals = [r["kl_contrib_micros"] for r in two_sample_kl(same, "category", F.col("b")).collect()]
    assert vals == [0, 0]


def test_hybrid_rrf_semantics(spark):
    """RRF fusion arithmetic on controlled rank lists: a doc on both
    lists sums both reciprocal contributions, single-list docs get one,
    and the integer fold is exactly 1e6 DIV (60 + rank) per leg."""
    import pyspark.sql.functions as F

    lex = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, bm25_rank long"
    )
    sem = spark.createDataFrame(
        [(2, 1), (4, 2)], "doc_id long, cos_rank long"
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(F.expr("1000000L DIV (60 + bm25_rank)"), F.lit(0))
                + F.coalesce(F.expr("1000000L DIV (60 + cos_rank)"), F.lit(0))
            ).cast("long").alias("rrf_micros"),
        )
    )
    got = {r["doc_id"]: r["rrf_micros"] for r in fused.collect()}
    assert got == {
        1: 1_000_000 // 61,
        2: 1_000_000 // 62 + 1_000_000 // 61,
        3: 1_000_000 // 63,
        4: 1_000_000 // 62,
    }
    # both-lists doc outranks the lexical #1 (the fusion property RRF
    # exists for: agreement beats a single strong signal)
    assert got[2] > got[1]


def test_zipf_slope_recovers_planted_exponent(spark):
    """The integer log-log least-squares fit recovers a planted Zipf
    exponent: counts c(r) = round(C / r^s) for s in {1.0, 0.5} give
    slope_micros within 2% of -s*1e6, matching a float least-squares
    reference within 5 micros."""
    import math

    from bo_sql_spark.queries.pipeline import corpus_zipf_slope  # noqa: F401
    from pyspark.sql import Window

    import pyspark.sql.functions as F

    from bo_sql_spark.functions.fixedpoint import with_ln_micros

    for s_true in (1.0, 0.5):
        rows = []
        for r in range(1, 301):
            c = max(1, round(100000 / (r ** s_true)))
            rows.append((f"t{r}", c))
        ucnt = spark.createDataFrame(rows, "term string, c long")
        w = Window.orderBy(F.col("c").desc(), "term")
        ranked = (
            ucnt.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 1000)
        )
        ranked = with_ln_micros(ranked, "rank", "_x")
        ranked = with_ln_micros(ranked, "c", "_y")
        agg = ranked.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_x").cast("long").alias("sx"),
            F.sum("_y").cast("long").alias("sy"),
            F.sum(F.expr("_x * _y")).cast("long").alias("sxy"),
            F.sum(F.expr("_x * _x")).cast("long").alias("sxx"),
        ).first()
        n, sx, sy, sxy, sxx = (agg[k] for k in ("n", "sx", "sy", "sxy", "sxx"))
        slope = ((n * sxy - sx * sy) * 1_000_000) // (n * sxx - sx * sx)
        # float reference over the same points
        pts = [(math.log(r), math.log(max(1, round(100000 / (r ** s_true)))))
               for r in range(1, 301)]
        fn = len(pts)
        fsx = sum(x for x, _ in pts)
        fsy = sum(y for _, y in pts)
        fsxy = sum(x * y for x, y in pts)
        fsxx = sum(x * x for x, _ in pts)
        fslope = (fn * fsxy - fsx * fsy) / (fn * fsxx - fsx * fsx)
        assert abs(slope / 1e6 - fslope) <= 5e-6, (s_true, slope, fslope)
        assert abs(slope / 1e6 + s_true) < 0.02 * max(s_true, 1), (s_true, slope)


def test_cross_entropy_served_frozen_model(spark):
    """Train->serve LM scoring: the frozen Laplace-smoothed model
    scores arrivals exactly per the big-int formula, an all-unseen-
    terms doc scores exactly ln(N + V) (every smoothed contribution
    is ln(1) = 0 — the smoothing is what makes serving total), and a
    mixed doc sits strictly between."""
    from bo_sql_spark.functions.fixedpoint import ln_micros_py
    from bo_sql_spark.operators.text import (
        cross_entropy_served,
        doc_term_freq,
        lm_smoothed_model,
    )

    model_docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c")], "doc_id long, text string"
    )
    terms, total = lm_smoothed_model(doc_term_freq(model_docs))
    trow = total.first()
    # gf: a=3, b=2, c=1 -> N=6, V=3
    assert (trow["n_corpus"], trow["n_vocab"]) == (6, 3)
    arrivals = spark.createDataFrame(
        [(10, "a b"), (11, "z z q"), (12, "a z")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["cross_entropy_micros"]
        for r in cross_entropy_served(
            doc_term_freq(arrivals), terms, total
        ).collect()
    }
    ln9 = ln_micros_py(9)
    want_seen = ln9 - (1 * ln_micros_py(4) + 1 * ln_micros_py(3)) // 2
    want_mixed = ln9 - (1 * ln_micros_py(4) + 1 * 0) // 2
    assert got[10] == want_seen
    assert got[11] == ln9  # all unseen: pure smoothed mass
    assert got[12] == want_mixed
    assert got[10] < got[12] < got[11]


def test_bm25_fold_ansi_overflow_guard(spark):
    """The ADVICE-flagged dlr/tfpart BIGINT wrap: with ANSI mode ON
    (overflow raises instead of wrapping), the widened fold must run
    clean on a synthetic stats table with n_docs = 2e10 and dl = 1e4 —
    past the old (dl * 1e6 * n_docs) int64 ceiling (~9.2e18 < 2e20)."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.search import bm25_fold

    joined = spark.createDataFrame(
        [(1, 7, 123456, 10_000, 20_000_000_000, 150_000_000_000_000)],
        "doc_id long, tf long, idf_micros long, dl long, n_docs long, sum_dl long",
    )
    old = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = bm25_fold(joined, k=5).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert len(rows) == 1 and rows[0]["bm25_micros"] > 0
    # cross-check the widened dlr against pure-Python big-int math
    dl, n_docs, sum_dl, tf, idf = 10_000, 20_000_000_000, 150_000_000_000_000, 7, 123456
    dlr = (dl * 1_000_000 * n_docs) // sum_dl
    denom = tf * 1_000_000 + 300_000 + (900_000 * dlr) // 1_000_000
    tfpart = (tf * 2_200_000 * 1_000_000) // denom
    assert rows[0]["bm25_micros"] == (idf * tfpart) // 1_000_000


def test_bm25_fold_ansi_overflow_guard_linear_idf(spark):
    """The fold is shared with idf_mode='linear', where
    idf_micros = (n_docs * 1e6) DIV df: with df = 1 and n_docs = 1e10,
    idf_micros = 1e16 and idf * tfpart (tfpart up to 2.2e6) reaches
    ~2.2e22 — past int64. The DECIMAL(38)-widened term_score product
    must survive ANSI mode and match big-int Python exactly."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.search import bm25_fold

    n_docs, df_term, dl, sum_dl, tf = 10_000_000_000, 1, 100, 1_000_000_000_000, 5
    idf = (n_docs * 1_000_000) // df_term  # 1e16: the linear surrogate
    joined = spark.createDataFrame(
        [(1, tf, idf, dl, n_docs, sum_dl)],
        "doc_id long, tf long, idf_micros long, dl long, n_docs long, sum_dl long",
    )
    old = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = bm25_fold(joined, k=5).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    dlr = (dl * 1_000_000 * n_docs) // sum_dl
    denom = tf * 1_000_000 + 300_000 + (900_000 * dlr) // 1_000_000
    tfpart = (tf * 2_200_000 * 1_000_000) // denom
    assert tfpart * idf > 2**63, "fixture must exceed the int64 ceiling"
    assert rows[0]["bm25_micros"] == (idf * tfpart) // 1_000_000


def test_bloom_no_false_negatives_and_merge(spark):
    """Bloom structural properties: (1) NO member ever misses (every
    built key probes hit — the guarantee that makes it a safe
    prefilter), (2) merge(filter(A), filter(B)) == filter(A union B)
    word for word (the shard/microbatch fold), (3) a disjoint probe
    set's hit rate stays under a loose FPR bound at 16x sizing."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.bloom import bloom_build, bloom_merge, bloom_probe

    m, k = 62 * 64, 4  # 3968 bits for ~250 keys -> kn/m ~ 0.25
    a = spark.createDataFrame(
        [(f"key_a_{i}",) for i in range(120)], "s string"
    )
    b = spark.createDataFrame(
        [(f"key_b_{i}",) for i in range(120)], "s string"
    )
    fa, fb = bloom_build(a, "s", m, k), bloom_build(b, "s", m, k)
    merged = bloom_merge(fa, fb)
    direct = bloom_build(a.unionByName(b), "s", m, k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # every member hits
    hits = bloom_probe(merged, a.unionByName(b), "s", m, k)
    assert hits.filter(F.col("bloom_hit") == 0).count() == 0
    # disjoint probes: loose bound (expected FPR ~2%, assert < 20%)
    probes = spark.createDataFrame(
        [(f"other_{i}",) for i in range(200)], "s string"
    )
    fp = bloom_probe(merged, probes, "s", m, k).filter(
        F.col("bloom_hit") == 1
    ).count()
    assert fp < 40


def test_psi_from_counts_hand_checked_symmetric_monotone(spark):
    """PSI fold: (1) matches a pure-Python replay of the smoothed
    formula (fixed-point ln in micros, toward-zero DIV) within the
    ln table's rounding, (2) is SYMMETRIC (swapping samples leaves
    every contribution identical — the J-divergence property KL
    lacks), (3) grows with the planted shift, and crosses the
    textbook 0.25 'act' line only for the big one."""
    import math

    from bo_sql_spark.operators.drift import psi_from_counts

    def spark_psi(rows):
        df = spark.createDataFrame(rows, "category string, n_a long, n_b long")
        out = psi_from_counts(df).collect()
        return {r["category"]: r["psi_contrib_micros"] for r in out}

    rows = [("x", 900, 100), ("y", 100, 900)]
    got = spark_psi(rows)
    # pure-Python replay with EXACT ln (tolerance covers the micros table)
    k = 2
    ta, tb = 1000, 1000
    for cat, a, b in [("x", 900, 100), ("y", 100, 900)]:
        pa, pb = (a + 1) / (ta + k), (b + 1) / (tb + k)
        want = (pa - pb) * math.log(pa / pb) * 1e6
        assert abs(got[cat] - want) <= 2500  # ln micros rounding x |pa-pb|
        assert got[cat] > 0
    # symmetry: swap the samples -> identical contributions
    swapped = spark_psi([("x", 100, 900), ("y", 900, 100)])
    assert swapped == {"x": got["y"], "y": got["x"]} or swapped == got
    # monotone in shift; only the big shift crosses PSI=0.25 (250000 micros)
    small = sum(spark_psi([("x", 550, 450), ("y", 450, 550)]).values())
    big = sum(got.values())
    assert 0 <= small < big
    assert small < 250_000 < big


def test_emd_from_counts_hand_checked_and_geometry(spark):
    """EMD fold: hand-checked example (A={1,1,2}, B={3} => W1 = 5/3
    exactly); identical distributions => 0; duplicate-value rows are
    sum-merged inside the operator (merged shard stores legitimately
    carry several rows per value — a silent duplicate would
    double-count the cumulative sums); and the KS-vs-EMD geometry
    claim — a uniform one-tick shift moves EMD by exactly 1.0 (every
    unit of mass moves 1) while KS's normalized D stays at the
    single-step overlap, and a narrow spike does the opposite (KS
    jumps to the spike's mass fraction while EMD stays below the
    shift's)."""
    from bo_sql_spark.operators.drift import emd_from_counts, two_sample_ks

    def emd(rows):
        df = spark.createDataFrame(rows, "_x long, n_a long, n_b long")
        return emd_from_counts(df).first()

    r = emd([(1, 2, 0), (2, 1, 0), (3, 0, 1)])
    assert (r["n_a"], r["n_b"], r["support_size"]) == (3, 1, 3)
    assert r["emd_micros"] == (5 * 1_000_000) // 3  # 1.666666

    same = emd([(1, 4, 4), (5, 6, 6), (9, 2, 2)])
    assert same["emd_micros"] == 0

    # grain defense: the same example with its rows split across
    # duplicate _x entries (a two-shard merge) folds identically
    dup = emd([(1, 1, 0), (1, 1, 0), (2, 1, 0), (3, 0, 1)])
    assert (dup["n_a"], dup["n_b"], dup["support_size"]) == (3, 1, 3)
    assert dup["emd_micros"] == r["emd_micros"]

    # uniform one-tick shift: A uniform on 1..10, B uniform on 2..11
    rows = [
        (x, 10 if x <= 10 else 0, 10 if x >= 2 else 0) for x in range(1, 12)
    ]
    shift = emd(rows)
    assert shift["emd_micros"] == 1_000_000  # every unit moved 1 tick

    # narrow spike: same totals, B pulls the 6..8 mass into x=5
    # (counts [10,10,10,10,40,0,0,0,10,10]); hand CDF gaps are
    # 30,20,10 at x=5..7 => EMD = 60/100 = 0.6
    spike_counts = [10, 10, 10, 10, 40, 0, 0, 0, 10, 10]
    spike = emd([(x, 10, spike_counts[x - 1]) for x in range(1, 11)])
    assert spike["emd_micros"] == 600_000

    # the KS side of the geometry, through the real operator: shift's
    # worst CDF gap is one bin (D = 0.1) but the spike's is its mass
    # fraction (D = 0.3) — KS(spike) > KS(shift) while
    # EMD(spike) < EMD(shift): the pair brackets the drift geometry.
    def ks_d(a_vals, b_vals):
        df = spark.createDataFrame(
            [(float(v), False) for v in a_vals]
            + [(float(v), True) for v in b_vals],
            "v double, b boolean",
        )
        row = two_sample_ks(df, "v", F.col("b")).first()
        return row["d_num"] / (row["n_a"] * row["n_b"])

    a_uniform = [x for x in range(1, 11) for _ in range(10)]
    ks_shift = ks_d(a_uniform, [x for x in range(2, 12) for _ in range(10)])
    ks_spike = ks_d(
        a_uniform, [x for x in range(1, 11) for _ in range(spike_counts[x - 1])]
    )
    assert abs(ks_shift - 0.1) < 1e-12
    assert abs(ks_spike - 0.3) < 1e-12
    assert ks_spike > ks_shift and spike["emd_micros"] < shift["emd_micros"]


def test_gini_from_counts_hand_checked_and_monitor_pair(spark):
    """Gini fold: uniform mix => exactly 0; skewed mix matches the
    float Lorenz formula within a micro; value is invariant under row
    order and count-tie permutations; single category => 0; zero
    counts ignored; and Gini vs norm-entropy separate on a starved
    tail (the monitor-pair rationale)."""
    from bo_sql_spark.operators.drift import entropy_from_counts, gini_from_counts

    uni = spark.createDataFrame(
        [(f"c{i}", 7) for i in range(5)], "category string, n long"
    )
    r = gini_from_counts(uni).first()
    assert (r["n_total"], r["n_categories"], r["gini_micros"]) == (35, 5, 0)

    skew = [("a", 90), ("b", 9), ("c", 1)]
    rs = gini_from_counts(
        spark.createDataFrame(skew, "category string, n long")
    ).first()
    cs = sorted(c for _, c in skew)
    K, N = len(cs), sum(cs)
    want = (2 * sum((i + 1) * c for i, c in enumerate(cs)) - (K + 1) * N) / (K * N)
    assert abs(rs["gini_micros"] / 1e6 - want) <= 1e-6
    # order/tie invariance: shuffled rows + tied counts
    tied = [("x", 5), ("y", 5), ("z", 20), ("w", 5)]
    g1 = gini_from_counts(
        spark.createDataFrame(tied, "category string, n long")
    ).first()["gini_micros"]
    g2 = gini_from_counts(
        spark.createDataFrame(list(reversed(tied)), "category string, n long")
        .repartition(3)
    ).first()["gini_micros"]
    assert g1 == g2 > 0
    one = gini_from_counts(
        spark.createDataFrame([("only", 9)], "category string, n long")
    ).first()
    assert one["gini_micros"] == 0
    withzero = gini_from_counts(
        spark.createDataFrame(
            [("a", 5), ("b", 0), ("c", 5)], "category string, n long"
        )
    ).first()
    assert withzero["n_categories"] == 2 and withzero["gini_micros"] == 0
    # starved tail: one big + many tiny sources — norm-entropy stays
    # high (tiny sources carry ~no mass) while Gini goes large
    tail = [("big", 10_000)] + [(f"t{i}", 10) for i in range(20)]
    tdf = spark.createDataFrame(tail, "category string, n long")
    ent = entropy_from_counts(tdf).first()["norm_entropy_permille"]
    gin = gini_from_counts(tdf).first()["gini_micros"]
    assert gin > 900_000 and ent < 400, (gin, ent)


def test_entropy_from_counts_uniform_and_degenerate(spark):
    """Mix entropy fold: uniform mix => H = ln K exactly and norm =
    1000; single category => 0/0; skewed mix sits strictly between
    and matches the float formula within micros."""
    import math

    from bo_sql_spark.operators.drift import entropy_from_counts

    uni = spark.createDataFrame(
        [(f"c{i}", 4) for i in range(4)], "category string, n long"
    )
    r = entropy_from_counts(uni).first()
    assert r["n_total"] == 16 and r["n_categories"] == 4
    assert abs(r["entropy_micros"] / 1e6 - math.log(4)) <= 3e-6
    assert r["norm_entropy_permille"] == 1000

    one = spark.createDataFrame([("only", 9)], "category string, n long")
    r1 = entropy_from_counts(one).first()
    assert r1["entropy_micros"] == 0 and r1["norm_entropy_permille"] == 0

    skew = spark.createDataFrame(
        [("a", 90), ("b", 9), ("c", 1)], "category string, n long"
    )
    rs = entropy_from_counts(skew).first()
    n = 100
    want = -sum((c / n) * math.log(c / n) for c in (90, 9, 1))
    assert abs(rs["entropy_micros"] / 1e6 - want) <= 3e-6
    assert 0 < rs["norm_entropy_permille"] < 1000
    # zero-count rows are ignored, not fatal
    withzero = spark.createDataFrame(
        [("a", 5), ("b", 0), ("c", 5)], "category string, n long"
    )
    rz = entropy_from_counts(withzero).first()
    assert rz["n_categories"] == 2 and rz["norm_entropy_permille"] == 1000


def test_minhash_portable_signature_matches_pure_python(spark):
    """The portable MinHash must be reproducible OUTSIDE Spark from its
    spec alone (that is the whole point): recompute a doc's signature
    with hashlib.md5 + plain ints and compare bit-for-bit; empty docs
    surface with NULL signatures like the xxhash64 form."""
    import hashlib

    from bo_sql_spark.operators.dedup import (
        _PMH_P,
        _pmh_ab,
        minhash_signatures_portable,
    )

    corpus = [
        (1, "spark join scan join vector fast"),
        (2, "  Spark   JOIN scan join vector fast "),  # normalizes equal
        (3, ""),
        (4, None),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    rows = {
        r["doc_id"]: r
        for r in minhash_signatures_portable(docs, n_hashes=8).collect()
    }

    def shingles(text, k=3):
        toks = " ".join(text.lower().split()).split(" ")
        if len(toks) <= k:
            grams = [" ".join(toks)]
        else:
            grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        out, seen = [], set()
        for g in grams:
            if g and g not in seen:
                seen.add(g)
                out.append(g)
        return out

    def sig(text, n=8):
        hbs = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _PMH_P
            for s in shingles(text)
        ]
        return [
            min((hb * a + b) % _PMH_P for hb in hbs)
            for a, b in (_pmh_ab(i) for i in range(n))
        ]

    want = sig("spark join scan join vector fast")
    assert list(rows[1]["minhash"]) == want
    assert list(rows[2]["minhash"]) == want  # normalization-invariant
    assert rows[3]["minhash"] is None and rows[4]["minhash"] is None


def test_simhash_portable_matches_pure_python(spark):
    """simhash_portable must be reproducible from its spec with
    hashlib.md5 + plain ints (the portability contract), normalize
    whitespace/case like the xxhash64 form, and drop NULL/empty docs
    (no token rows -> no signature row)."""
    import hashlib

    from bo_sql_spark.operators.dedup import simhash_portable

    corpus = [
        (1, "Spark JOIN  scan vector"),
        (2, " spark join scan   vector "),  # normalizes equal to 1
        (3, ""),
        (4, None),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    rows = {r["doc_id"]: r["simhash"] for r in simhash_portable(docs).collect()}

    def sig(text):
        toks = sorted(set(" ".join(text.lower().split()).split(" ")) - {""})
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
        out = 0
        for j in range(60):
            s = sum(1 if (h >> j) & 1 else -1 for h in hs)
            if s > 0:
                out |= 1 << j
        return out

    assert rows[1] == sig("spark join scan vector")
    assert rows[2] == rows[1]
    # empty/NULL docs produce no token rows, hence no signature row
    assert 3 not in rows and 4 not in rows


def test_simhash64_branchfree_equals_sign_fold(spark):
    """r15: simhash64's aggregate is the branch-free 2*sum(bit) > n
    form. Pin it against an independently-planned ±1 sign fold at
    (id, j) grain (the narrow-shape reference) on docs with ties and
    odd/even token counts."""
    from bo_sql_spark.operators.dedup import simhash64

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "x x y"), (3, "lone"), (4, "p q r s")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    tok = F.explode(
        F.array_distinct(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
        )
    ).alias("tok")
    ref_rows = (
        docs.select("doc_id", tok)
        .withColumn("h", F.xxhash64(F.lit(7), F.col("tok")))
        .select(
            "doc_id",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("j"),
        )
        .groupBy("doc_id", "j")
        .agg(
            F.sum(
                F.when(F.expr("(shiftright(h, j) & 1) = 1"), 1).otherwise(-1)
            ).alias("s")
        )
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("s") > 0,
                    F.expr(
                        "CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT)"
                        " ELSE shiftleft(CAST(1 AS BIGINT), j) END"
                    ),
                ).otherwise(F.lit(0))
            ).alias("simhash")
        )
        .collect()
    )
    want = {r["doc_id"]: r["simhash"] for r in ref_rows}
    assert got == want


def test_simhash_portable_banding_equals_bruteforce(spark, sf_dir):
    """The pigeonhole claim: with 4 bands and max_hamming=3 the banded
    pair set EQUALS the all-pairs Hamming scan — banding loses nothing
    below the bound (and the operator keeps nothing above it)."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.dedup import (
        simhash_near_dup_pairs_portable,
        simhash_portable,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 120)
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dup_pairs_portable(docs, bands=4, max_hamming=3).collect()
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_portable(docs).collect()}
    ids = sorted(sigs)
    want = sorted(
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    )
    assert got == want and len(want) > 0

    import pytest

    with pytest.raises(ValueError):
        simhash_near_dup_pairs_portable(docs, bands=4, max_hamming=4)


def test_approx_join_portable_subset_and_recall(spark, sf_dir):
    """approx_similarity_join_portable returns a SUBSET of the
    brute-force quantized-cosine pairs (identical values where found)
    with recall above the design floor at the default bits=4/seeds=4
    (measured ~65% on the fixture; assert >= 0.35 to stay robust to
    fixture regeneration)."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.similarity import (
        approx_similarity_join_portable,
        quantize_vec,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in approx_similarity_join_portable(emb, 0.40, dim=64).collect()
    }
    # brute force over the quantized vectors (exact integer dots)
    q = {r["vec_id"]: r["qv"] for r in emb.select("vec_id", quantize_vec("embedding").alias("qv")).collect()}
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    ids = sorted(q)
    want = {
        (a, b): round(cos(q[a], q[b]), 6)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if cos(q[a], q[b]) >= 0.40
    }
    assert set(got) <= set(want)
    for k, v in got.items():
        assert abs(v - want[k]) <= 1e-6
    assert len(want) > 0 and len(got) / len(want) >= 0.35


def test_embedding_centroid_drift_separates_rotated_group(spark):
    """A group whose embedding DIRECTION rotated must fall far below
    its siblings in cos_to_global even when every count-based monitor
    sees nothing (same group sizes, same categories) — the blind spot
    this monitor exists for. Also pins the merge property: column-
    summing two half-corpus sum tables equals the one-pass fold
    (what the streaming twin relies on)."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.drift import (
        centroid_cosines_from_sums,
        embedding_centroid_drift,
        embedding_group_sums,
    )

    dims = 4
    rows = []
    # groups 0 and 1 point near +e1 (with small fixed jitter); group 2
    # points near -e1 — a pure rotation, identical sizes
    jit = [0.01, -0.02, 0.03, -0.01, 0.02]
    for i in range(5):
        rows.append((10 + i, 0, [1.0, jit[i], 0.1, 0.0]))
        rows.append((20 + i, 1, [0.9, 0.1, jit[i], 0.05]))
        rows.append((30 + i, 2, [-1.0, jit[i], 0.1, 0.0]))
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = {
        r["label"]: r["cos_to_global"]
        for r in embedding_centroid_drift(emb, "label", dims=dims).collect()
    }
    assert out[0] > 0.9 and out[1] > 0.9
    assert out[2] < -0.5
    # merge property: two halves column-summed == one pass
    h1 = embedding_group_sums(emb.filter("vec_id % 2 = 0"), "label", dims=dims)
    h2 = embedding_group_sums(emb.filter("vec_id % 2 = 1"), "label", dims=dims)
    dec = "decimal(38,0)"
    merged = (
        h1.unionByName(h2)
        .groupBy("grp")
        .agg(
            F.sum("n_vectors").cast("long").alias("n_vectors"),
            *[F.sum(f"s{d}").cast(dec).alias(f"s{d}") for d in range(dims)],
        )
    )
    got = sorted(
        (r["grp"], r["n_vectors"], r["cos_to_global"])
        for r in centroid_cosines_from_sums(merged, dims=dims).collect()
    )
    want = sorted(
        (r["label"], r["n_vectors"], r["cos_to_global"])
        for r in embedding_centroid_drift(emb, "label", dims=dims).collect()
    )
    assert got == want


def test_quantize_list_rounds_half_away_from_zero():
    """Driver-side quantization must match the engines' ROUND rule
    (half AWAY from zero) — Python's builtin round() is half-even and
    would bucket the query differently from the corpus on exact .5
    products."""
    from bo_sql_spark.operators.similarity import quantize_list

    assert quantize_list([2.5e-6, -2.5e-6, 1.0, -0.75]) == [3, -3, 1_000_000, -750_000]
    # the builtin would give 2/-2 here — the divergence being guarded
    assert round(2.5) == 2


def test_ann_topk_lsh_portable_values_and_order(spark, sf_dir):
    """Returned cosines must equal the exact quantized-cosine values
    (recomputed in pure Python), arrive sorted desc with id
    tie-break, and never exceed the true exact-search maximum; the
    zero query raises."""
    import math

    import pytest

    from bo_sql_spark.operators.similarity import (
        ann_topk_lsh_portable,
        quantize_list,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    corpus = emb.filter("vec_id <> 0")
    got = [
        (r["vec_id"], r["cos_sim"])
        for r in ann_topk_lsh_portable(corpus, qvec, k=10, dim=64).collect()
    ]
    assert len(got) == 10
    assert [c for _, c in got] == sorted((c for _, c in got), reverse=True)

    qq = quantize_list(qvec)
    qn = math.sqrt(sum(v * v for v in qq))

    def cos(vec):
        qv = quantize_list([float(x) for x in vec])
        return sum(a * b for a, b in zip(qv, qq)) / (
            math.sqrt(sum(v * v for v in qv)) * qn
        )

    exact = {r["vec_id"]: cos(r["embedding"]) for r in corpus.collect()}
    best = max(exact.values())
    for vid, c in got:
        assert abs(c - round(exact[vid], 6)) <= 1e-6
        # c is rounded to 6dp and can round UP past the unrounded max
        assert c <= best + 5e-7

    with pytest.raises(ValueError):
        ann_topk_lsh_portable(corpus, [0.0] * 64, dim=64)


def test_rp_auto_params_rule():
    """Pins the pure-integer auto-sizing rules the SQL oracles replay
    as COUNT(*) range gates: join bits = clamp(ceil_log2(n) - 5, 4,
    16); probe bits = clamp(ceil_log2(n) - 2, 5, 16) with flips =
    bits - 4 and radius 2 (bits <= 7) / 3 (bits >= 8) — including the
    fixture points (n=500 -> join 4 / probe 7, n=2000 -> join 6 /
    probe 9) and the tier boundaries at powers of two."""
    from bo_sql_spark.operators.similarity import (
        rp_auto_join_params,
        rp_auto_probe_params,
    )
    from bo_sql_spark.queries.pipeline import (
        _rp_join_tier_bounds,
        _rp_probe_tier_bounds,
    )

    assert rp_auto_join_params(500) == (4, 4)
    assert rp_auto_join_params(512) == (4, 4)
    assert rp_auto_join_params(513) == (5, 4)
    assert rp_auto_join_params(2000) == (6, 4)
    assert rp_auto_join_params(1) == (4, 4)  # low clamp
    assert rp_auto_join_params(10**9)[0] == 16  # high clamp
    assert rp_auto_probe_params(499) == (7, 4, 3, 2)
    assert rp_auto_probe_params(512) == (7, 4, 3, 2)
    assert rp_auto_probe_params(513) == (8, 4, 4, 3)
    assert rp_auto_probe_params(1999) == (9, 4, 5, 3)
    assert rp_auto_probe_params(1) == (5, 4, 1, 2)  # low clamp
    # the SQL tier gates cover exactly the same n-ranges as the rule
    for b in (4, 5, 6):
        lo, hi = _rp_join_tier_bounds(b)
        assert rp_auto_join_params(lo)[0] == b
        assert rp_auto_join_params(hi)[0] == b
        assert rp_auto_join_params(hi + 1)[0] == b + 1
    for b in (7, 8, 9):
        lo, hi = _rp_probe_tier_bounds(b)
        assert rp_auto_probe_params(lo)[0] == b
        assert rp_auto_probe_params(hi)[0] == b
        assert rp_auto_probe_params(hi + 1)[0] == b + 1


def _seq_dot_py(a, b) -> float:
    """Left-to-right double dot product, one ``acc += x * y`` at a
    time — the fold order of DuckDB's list_dot_product."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _spark_round6(x: float) -> float:
    """Spark's round(double, 6): HALF_UP on the double's decimal string."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def test_pq_arrow_and_hof_paths_identical(spark, sf_dir):
    """PQ encode, one Lloyd step and the OPQ rotation must equal a
    pure-Python replay of their definitions on the fixture: argmin of
    d2 = (ss - 2*sc) + cc over left-to-right float dots, exact-distance
    ties to the smallest code (so even near-ties resolve like the
    oracle); fixed-point micro means; exact integer rotation sums."""
    import math

    from bo_sql_spark.operators.similarity import (
        pq_codebooks_from_seeds,
        pq_encode,
        pq_train_step,
        rotate_embeddings,
        seeded_rotation_micro,
    )

    m = dsub = 8
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    cb0 = pq_codebooks_from_seeds(emb, m=m, dsub=dsub, ks=16)
    book = {}
    for r in cb0.collect():
        book.setdefault(r["sub"], []).append((r["code"], list(r["c_vec"])))

    want_codes = {}
    for vid, v in vecs.items():
        codes = []
        for s in range(m):
            sv = v[s * dsub:(s + 1) * dsub]
            ss = _seq_dot_py(sv, sv)
            codes.append(min(
                ((ss - 2 * _seq_dot_py(sv, cv)) + _seq_dot_py(cv, cv), code)
                for code, cv in book[s]
            )[1])
        want_codes[vid] = codes
    got = {r["vec_id"]: list(r["codes"])
           for r in pq_encode(emb, cb0, m, dsub).collect()}
    assert got == want_codes and len(got) == len(vecs) > 0

    members = {}
    for vid, codes in want_codes.items():
        for s, code in enumerate(codes):
            members.setdefault((s, code), []).append(
                vecs[vid][s * dsub:(s + 1) * dsub]
            )
    scale = 10 ** 6
    want_train = sorted(
        (s, code, len(svs), tuple(
            math.floor(
                sum(math.floor(sv[d] * scale + 0.5) for sv in svs) / len(svs)
                + 0.5
            ) / float(scale)
            for d in range(dsub)
        ))
        for (s, code), svs in members.items()
    )
    got_train = sorted(
        (r["sub"], r["code"], r["n_members"], tuple(r["c_vec"]))
        for r in pq_train_step(emb, cb0, m, dsub).collect()
    )
    assert got_train == want_train

    rot = seeded_rotation_micro()
    want_rot = {}
    for vid, v in vecs.items():
        vi = [math.floor(x * 1_000_000 + 0.5) for x in v]
        want_rot[vid] = tuple(
            sum(rij * xj for rij, xj in zip(row, vi)) / 1e12 for row in rot
        )
    got_rot = {r["vec_id"]: tuple(r["embedding"])
               for r in rotate_embeddings(emb, rot).collect()}
    assert got_rot == want_rot


def test_semantic_pair_dot_arrow_hof_identical(spark, sf_dir):
    """The semantic-dedup pair verify's Arrow dot (_pair_dot_udf) must
    equal a left-to-right ``acc += x * y`` replay, bit for bit, over
    every pair of the fixture's first 300 vectors."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.dedup import _pair_dot_udf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        "vec_id < 300"
    )
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    a = emb.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("ida") < F.col("idb"))
    got = {
        (r.ida, r.idb): r.d
        for r in pairs.select(
            "ida", "idb", _pair_dot_udf()(F.col("va"), F.col("vb")).alias("d")
        ).collect()
    }
    want = {
        (i, j): _seq_dot_py(vecs[i], vecs[j])
        for i in vecs for j in vecs if i < j
    }
    assert got == want and len(got) > 0


def test_ivf_auto_cells_rule():
    """Pins the IVF auto-cell rule and its SQL CASE boundaries
    (similarity_ivf_auto_cells' oracle gates at 512/1024/2048)."""
    from bo_sql_spark.operators.similarity import ivf_auto_cells

    assert ivf_auto_cells(500) == 16
    assert ivf_auto_cells(512) == 16
    assert ivf_auto_cells(513) == 32
    assert ivf_auto_cells(1024) == 32
    assert ivf_auto_cells(1025) == 64
    assert ivf_auto_cells(2000) == 64
    assert ivf_auto_cells(2048) == 64
    assert ivf_auto_cells(2049) == 128
    assert ivf_auto_cells(1) == 16  # low clamp
    assert ivf_auto_cells(10**10) == 65536  # high clamp


def test_rp_query_probes_structure():
    """Probe-set shape: sum_{i<=radius} C(flips, i) probes per seed,
    each within Hamming distance <= radius of the seed's own bucket,
    flips restricted to the most-marginal planes, and the base bucket
    always included."""
    from math import comb

    from bo_sql_spark.operators.similarity import (
        rp_query_buckets,
        rp_query_probes,
    )

    qvec = [0.1 * ((i % 7) - 3) for i in range(64)]
    bits, seeds, flips, radius = 7, 4, 3, 2
    qq, probes = rp_query_probes(qvec, 64, bits, seeds, flips, radius)
    _, base = rp_query_buckets(qvec, 64, bits, seeds)
    base_by_seed = dict(base)
    want_per_seed = sum(comb(flips, i) for i in range(radius + 1))
    by_seed = {}
    for s, b in probes:
        by_seed.setdefault(s, set()).add(b)
    assert set(by_seed) == set(range(seeds))
    for s, bs in by_seed.items():
        assert len(bs) == want_per_seed
        assert base_by_seed[s] in bs
        for b in bs:
            assert bin(b ^ base_by_seed[s]).count("1") <= radius


def _quantize_py(v) -> list[int]:
    """round(x * 1e6) half away from zero, as quantize_vec rounds."""
    import math

    return [int(math.copysign(math.floor(abs(x) * 1e6 + 0.5), x)) for x in v]


def _rp_buckets_py(qv, masks) -> list[int]:
    """Per-seed bucket id: bit p set iff the exact integer projection
    sum(+-qv[d]) under mask p is >= 0."""
    out = []
    for row in masks:
        b = 0
        for p, m in enumerate(row):
            proj = 0
            for d, x in enumerate(qv):
                proj += x if (m >> d) & 1 else -x
            if proj >= 0:
                b |= 1 << p
        out.append(b)
    return out


def test_rp_arrow_and_hof_paths_identical(spark, sf_dir):
    """The Arrow (NumPy int64 matmul) bucket/verify path must equal a
    pure-Python replay with exact int sums, for the self-join and the
    top-k probe: same candidates, same exact-integer cosines."""
    import math

    from bo_sql_spark.operators.similarity import (
        ann_topk_lsh_portable,
        approx_similarity_join_portable,
        rp_query_probes,
        rp_sign_masks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        "vec_id < 300"
    )
    qvs = {
        r["vec_id"]: _quantize_py(r["embedding"]) for r in emb.collect()
    }
    qvs = {i: q for i, q in qvs.items() if any(q)}

    def icos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        aa = sum(x * x for x in a)
        bb = sum(y * y for y in b)
        return float(dot) / (math.sqrt(float(aa)) * math.sqrt(float(bb)))

    masks = rp_sign_masks(2, 4)
    keys = {i: set(enumerate(_rp_buckets_py(q, masks))) for i, q in qvs.items()}
    want = sorted(
        (i, j, _spark_round6(c))
        for i in qvs for j in qvs
        if i < j and keys[i] & keys[j]
        for c in [icos(qvs[i], qvs[j])] if c >= 0.35
    )
    got = sorted(
        (r.id_a, r.id_b, r.cos_sim)
        for r in approx_similarity_join_portable(
            emb, 0.35, dim=64, bits=4, seeds=2
        ).collect()
    )
    assert got == want and len(got) > 0

    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    corpus = emb.filter("vec_id <> 0")
    # the probe knobs the operator derives from the corpus count
    bits, seeds, flips, radius = S._resolve_probe_params(
        corpus.count(), None, None, None, None
    )
    qq, probes = rp_query_probes(qvec, 64, bits, seeds, flips, radius)
    masks = rp_sign_masks(seeds, bits)
    qnorm = float(sum(v * v for v in qq)) ** 0.5
    scored = []
    for i, q in qvs.items():
        if i == 0 or not set(enumerate(_rp_buckets_py(q, masks))) & set(probes):
            continue
        dot = sum(x * y for x, y in zip(q, qq))
        scored.append(
            (-(float(dot) / (math.sqrt(float(sum(x * x for x in q))) * qnorm)), i)
        )
    want_top = [(i, _spark_round6(-c)) for c, i in sorted(scored)[:10]]
    got_top = [
        (r.vec_id, r.cos_sim)
        for r in ann_topk_lsh_portable(corpus, qvec, k=10, dim=64).collect()
    ]
    assert got_top == want_top and len(got_top) == 10


def test_weighted_reservoir_matches_python_replay(spark):
    """The E-S top-k is a pure integer function of (id, weight, salt):
    a Python replay of the key formula must select the same winners
    with the same keys."""
    import pyspark.sql.functions as F

    from bo_sql_spark.functions.fixedpoint import ln_micros_py
    from bo_sql_spark.operators.sampling import (
        PORTABLE_PRIME,
        _ADD,
        _MULT,
        _SALT_MIX,
        weighted_reservoir_topk,
    )

    rows = [(i, 1 + (i * 7) % 50) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w long")
    got = weighted_reservoir_topk(df, "id", "w", 20, salt=3).collect()

    ln_p = ln_micros_py(PORTABLE_PRIME)

    def key(i, w):
        h = ((i % PORTABLE_PRIME) * _MULT + _ADD + (3 * _SALT_MIX) % PORTABLE_PRIME) % PORTABLE_PRIME
        num = (ln_micros_py(h + 1) - ln_p) * 1_000_000
        q = abs(num) // w
        return -q if num < 0 else q  # truncation toward zero

    want = sorted(((key(i, w), i, w) for i, w in rows), key=lambda t: (-t[0], t[1]))[:20]
    assert [(r.es_key, r.id) for r in got] == [(k, i) for k, i, _ in want]


def test_weighted_reservoir_weight_monotone_and_exact_k(spark):
    """Raising a row's weight can only improve (weakly) its key —
    u^(1/w) is monotone in w for fixed u — and the cut size is exactly
    k regardless of weights."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.sampling import weighted_reservoir_topk

    base = spark.createDataFrame([(i, 5) for i in range(200)], "id long, w long")
    boosted = spark.createDataFrame(
        [(i, 500 if i == 137 else 5) for i in range(200)], "id long, w long"
    )
    k_base = {r.id: r.es_key for r in weighted_reservoir_topk(base, "id", "w", 200).collect()}
    k_boost = {r.id: r.es_key for r in weighted_reservoir_topk(boosted, "id", "w", 200).collect()}
    assert k_boost[137] >= k_base[137]
    assert all(k_boost[i] == k_base[i] for i in k_base if i != 137)
    assert len(weighted_reservoir_topk(boosted, "id", "w", 17).collect()) == 17


def test_weighted_reservoir_favors_heavy_rows_across_salts(spark):
    """Inclusion tracks weight: over 40 independent salts, a weight-9
    item beats a weight-1 item for the single slot far more often
    (expected 90%; deterministic given the fixed salt list)."""
    from bo_sql_spark.operators.sampling import weighted_reservoir_topk

    df = spark.createDataFrame([(0, 9), (1, 1)], "id long, w long")
    wins = sum(
        weighted_reservoir_topk(df, "id", "w", 1, salt=s).collect()[0].id == 0
        for s in range(40)
    )
    assert wins >= 28, wins


def test_weighted_reservoir_zero_weight_excluded(spark):
    """Pins the zero-weight semantics: rows with weight < 1 are
    excluded by an explicit filter (the E-S limit — u^(1/w) -> 0 as
    w -> 0+ — and the only behavior independent of ANSI mode, where
    DIV 0 throws instead of returning NULL). Even when k exceeds the
    valid-row count, the zero-weight row never appears."""
    from bo_sql_spark.operators.sampling import (
        weighted_reservoir_per_group,
        weighted_reservoir_topk,
    )

    df = spark.createDataFrame(
        [(0, 0), (1, 5), (2, 5), (3, -4)], "id long, w long"
    )
    got = weighted_reservoir_topk(df, "id", "w", 2).collect()
    assert {r.id for r in got} == {1, 2}
    assert all(r.es_key is not None for r in got)
    all4 = weighted_reservoir_topk(df, "id", "w", 4).collect()
    assert {r.id for r in all4} == {1, 2}

    g = df.withColumn("g", F.col("id") % F.lit(2))
    per = weighted_reservoir_per_group(g, "g", "id", "w", 4).collect()
    assert {r.id for r in per} == {1, 2}


def test_weighted_reservoir_keyword_weight_column(spark):
    """The weight identifier is backtick-quoted into the key expr, so
    a SQL-keyword column name (`order`) works instead of silently
    parsing as something else."""
    from bo_sql_spark.operators.sampling import (
        weighted_reservoir_per_group,
        weighted_reservoir_topk,
    )

    df = spark.createDataFrame(
        [(i, 1 + i % 7, i % 2) for i in range(100)],
        "id long, `order` long, g long",
    )
    assert len(weighted_reservoir_topk(df, "id", "order", 10).collect()) == 10
    per = weighted_reservoir_per_group(df, "g", "id", "order", 5).collect()
    assert len(per) == 10


def test_modularity_int64_bound_raises(spark):
    """modularity raises ValueError past the documented ~1.5e6-edge
    int64 bound instead of silently diverging between Spark DECIMAL
    and DuckDB HUGEINT literal widening. Checked via the pure-Python
    guard condition plus a monkeypatched count (building a 1.6e6-edge
    graph in a unit test is pointless)."""
    # The guard condition itself, at the documented boundary:
    bound_m = int((((2**63) - 1) // 4_000_000) ** 0.5)
    assert 4 * bound_m * bound_m * 1_000_000 <= 2**63 - 1
    assert 4 * (bound_m + 1) * (bound_m + 1) * 1_000_000 > 2**63 - 1
    assert 1_400_000 < bound_m < 1_600_000  # the docstring's ~1.5e6

    import pytest

    from bo_sql_spark.operators import graph as graph_mod

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assign = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1)], "node long, community long"
    )
    # Patch the module seam, not DataFrame.agg globally (ADVICE r13:
    # the class-level patch dispatched on len(args)==1 and would have
    # hijacked any future single-argument agg inside modularity).
    real_count = graph_mod._modularity_edge_count
    graph_mod._modularity_edge_count = lambda tagged: bound_m + 1
    try:
        with pytest.raises(ValueError, match="int64 bound"):
            graph_mod.modularity(edges, assign)
    finally:
        graph_mod._modularity_edge_count = real_count


def test_triangle_stats_hand_graph_and_random_bruteforce(spark):
    """Hand-checked K4 (4 triangles, 12 wedges, transitivity 1) plus a
    pseudorandom graph against a Python brute-force count — pins the
    degree-ordered enumeration to the definition."""
    from itertools import combinations

    from bo_sql_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a, b in combinations(range(4), 2)]
    r = triangle_stats(
        spark.createDataFrame(k4, "src long, dst long")
    ).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)
    assert r.clustering_permille == 1000

    # pseudorandom graph: deterministic edge set, duplicate + reversed
    # edges and self-loops thrown in to exercise canonicalization
    edges = []
    for i in range(200):
        a, b = (i * 73) % 40, (i * 137 + 11) % 40
        edges += [(a, b), (b, a), (a, a)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = triangle_stats(df).collect()[0]

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    tri = sum(
        1
        for a, b, c in combinations(sorted({n for e in und for n in e}), 3)
        if (a, b) in und and (b, c) in und and (a, c) in und
    )
    deg = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    assert got.n_triangles == tri
    assert got.n_edges == len(und)
    assert got.n_wedges == wedges
    assert got.clustering_permille == (3 * tri * 1000) // wedges


def test_local_clustering_brute_force_and_identities(spark):
    """Per-node triangles against a Python brute force; each node of
    K4 has 3 triangles / C(3,2)=3 wedges -> coefficient 1000; the sum
    of per-node triangle counts is 3x the global count."""
    from itertools import combinations

    from bo_sql_spark.operators.graph import local_clustering, triangle_stats

    k4 = [(a, b) for a, b in combinations(range(4), 2)]
    rows = local_clustering(
        spark.createDataFrame(k4, "src long, dst long")
    ).collect()
    assert all(r.n_triangles == 3 and r.local_clustering_permille == 1000 for r in rows)

    edges = []
    for i in range(150):
        a, b = (i * 73) % 30, (i * 137 + 11) % 30
        edges += [(a, b)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r for r in local_clustering(df).collect()}
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({n for e in und for n in e})
    per = {n: 0 for n in nodes}
    n_tri = 0
    for a, b, c in combinations(nodes, 3):
        if (a, b) in und and (b, c) in und and (a, c) in und:
            n_tri += 1
            per[a] += 1
            per[b] += 1
            per[c] += 1
    for n in nodes:
        assert got[n].n_triangles == per[n], n
        d = got[n].deg
        want = (per[n] * 1000) // (d * (d - 1) // 2) if d >= 2 else 0
        assert got[n].local_clustering_permille == want, n
    glob = triangle_stats(df).collect()[0]
    assert sum(per.values()) == 3 * glob.n_triangles


def test_weighted_percentile_reduces_to_unweighted_and_scales(spark):
    """With all weights 1 the weighted lower percentile equals the
    classic rank-ceil(q*n) pick; multiplying every weight by a
    constant changes nothing; a dominant weight drags the median to
    its value."""
    from bo_sql_spark.operators.quantile_sketch import weighted_percentile_exact

    vals = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10]
    df1 = spark.createDataFrame([("g", v, 1) for v in vals], "g string, v long, w long")
    got = {
        r.q_permille: r.value
        for r in weighted_percentile_exact(df1, ["g"], "v", "w", [100, 500, 900]).collect()
    }
    import math

    sv = sorted(vals)
    want = {q: sv[math.ceil(q * len(sv) / 1000) - 1] for q in (100, 500, 900)}
    assert got == want

    df7 = spark.createDataFrame([("g", v, 7) for v in vals], "g string, v long, w long")
    got7 = {
        r.q_permille: r.value
        for r in weighted_percentile_exact(df7, ["g"], "v", "w", [100, 500, 900]).collect()
    }
    assert got7 == want

    heavy = spark.createDataFrame(
        [("g", v, 1) for v in vals] + [("g", 9, 1000)], "g string, v long, w long"
    )
    med = weighted_percentile_exact(heavy, ["g"], "v", "w", [500]).collect()[0]
    assert med.value == 9


def test_modularity_hand_values_and_partition_sensitivity(spark):
    """Two disjoint triangles: the perfect 2-community partition has
    Q = 1/2 (e_c/m = 1/2, (deg_c/2m)^2 = 1/4 each); the everything-in-
    one-community partition has Q = 0 (e/m = 1, (2m/2m)^2 = 1); a
    cross-cutting partition goes negative."""
    from bo_sql_spark.operators.graph import modularity

    tri = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)]
    edges = spark.createDataFrame(tri, "src long, dst long")

    def assign(mapping):
        return spark.createDataFrame(
            [(n, c) for n, c in mapping.items()], "node long, community long"
        )

    perfect = modularity(edges, assign({0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1})).collect()[0]
    assert (perfect.n_communities, perfect.m_edges) == (2, 6)
    assert perfect.q_micros == 500_000

    merged = modularity(edges, assign({n: 0 for n in range(6)})).collect()[0]
    assert merged.q_micros == 0

    crossed = modularity(edges, assign({0: 0, 1: 1, 2: 0, 3: 1, 4: 0, 5: 1})).collect()[0]
    assert crossed.q_micros < 0


def test_kcore_trace_hand_graph(spark):
    """A 4-clique with a pendant chain: the 3-core is exactly the
    clique (pendants peel in order), and the trace records the
    cascade; trailing rounds repeat the fixed point."""
    from itertools import combinations

    from bo_sql_spark.operators.graph import kcore_peel_trace

    clique = [(a, b) for a, b in combinations(range(4), 2)]
    chain = [(3, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(clique + chain, "src long, dst long")
    rows = {r.round: (r.n_nodes, r.n_edges) for r in kcore_peel_trace(df, 3, 4).collect()}
    assert rows[0] == (7, 9)
    # round 1 drops 12 and 11? no: one peel drops ALL deg<3 at once
    # (10, 11, 12 have deg 2, 2, 1) -> clique (4 nodes, 6 edges) remains
    assert rows[1] == (4, 6)
    assert rows[2] == (4, 6) == rows[3] == rows[4]


def test_assortativity_hand_graphs(spark):
    """Star S3: maximally disassortative, r = -1 exactly. Path P4:
    r = -1/2 exactly. Cycle: degree-regular, zero variance -> NULL."""
    from bo_sql_spark.operators.graph import assortativity

    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src long, dst long")
    r = assortativity(star).collect()[0]
    assert r.assortativity_permille == -1000

    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    r = assortativity(path).collect()[0]
    assert (r.m_edges, r.s1, r.s2, r.s3) == (3, 8, 10, 18)
    assert r.assortativity_permille == -500

    cycle = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    r = assortativity(cycle).collect()[0]
    assert r.assortativity_permille is None


def test_rp_index_meta_sidecar(spark, sf_dir, tmp_path):
    """materialize_rp_index persists (bits, seeds) in _rp_meta.json and
    rp_index_topk defaults from it (ADVICE r13: default-knob reads of
    an auto-sized store silently returned wrong candidates); explicit
    knobs that CONTRADICT the sidecar raise, knob-less reads of a
    store with no sidecar raise."""
    import json

    import pytest

    from bo_sql_spark import fsutil
    from bo_sql_spark.operators.similarity import (
        materialize_rp_index,
        rp_index_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    corpus = emb.filter("vec_id <> 0")
    path = str(tmp_path / "idx")
    bits, seeds = materialize_rp_index(corpus, path, dim=64)  # auto knobs
    meta = json.loads(fsutil.read_text(spark, path + "/_rp_meta.json"))
    assert (meta["bits"], meta["seeds"]) == (bits, seeds)

    from_meta = rp_index_topk(spark, path, qvec, k=10, dim=64).collect()
    explicit = rp_index_topk(
        spark, path, qvec, k=10, dim=64, bits=bits, seeds=seeds
    ).collect()
    assert from_meta == explicit and len(from_meta) > 0

    with pytest.raises(ValueError, match="contradicts"):
        rp_index_topk(spark, path, qvec, k=10, dim=64, bits=bits + 1)

    bare = str(tmp_path / "bare")
    spark.read.parquet(path).write.parquet(bare)  # store without sidecar
    with pytest.raises(ValueError, match="_rp_meta"):
        rp_index_topk(spark, bare, qvec, k=10, dim=64)


def test_knn_graph_arrow_hof_bit_equal(spark, sf_dir):
    """The Arrow pair-cosine kNN graph must equal a pure-Python replay
    row-for-row — IVF cell by argmin of (ss - 2*sc) + cc, in-cell
    cosine from left-to-right ``acc += x * y`` dots, rank by (cos
    desc, neighbor id) — so ids, ranks AND rounded scores agree."""
    import math

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    cvecs = {r["c_id"]: list(r["c_vec"]) for r in cents.collect()}
    cell = {
        i: min(
            ((_seq_dot_py(v, v) - 2 * _seq_dot_py(v, c)) + _seq_dot_py(c, c), cid)
            for cid, c in cvecs.items()
        )[1]
        for i, v in vecs.items()
    }

    def cos(a, b):
        return _seq_dot_py(a, b) / (
            math.sqrt(_seq_dot_py(a, a)) * math.sqrt(_seq_dot_py(b, b))
        )

    want = []
    for i, v in vecs.items():
        nbrs = sorted(
            (-cos(v, vecs[j]), j)
            for j in vecs if j != i and cell[j] == cell[i]
        )[:5]
        want += [
            (i, rank, j, _spark_round6(-c))
            for rank, (c, j) in enumerate(nbrs, start=1)
        ]
    got = sorted(
        (r["vec_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
        for r in S.knn_graph(emb, cents, k=5).collect()
    )
    assert got == sorted(want) and len(got) > 0


def test_connected_components_unroll_invariant(spark):
    """Min-label components of a chain + islands (diameter > 1, so the
    loop runs past one propagation + shortcut round)."""
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "id_a long, id_b long",
    )
    got = sorted(
        (r["node"], r["cluster_id"])
        for r in D.connected_components(pairs).collect()
    )
    assert got == [(0, 0), (1, 0), (2, 0), (3, 0), (4, 0),
                   (10, 10), (11, 10), (20, 20), (21, 20)]


def test_connected_components_stale_doubling_path_graph(spark):
    """r15: rounds >= 2 shortcut against the ROUND-START table (stale
    parents) instead of the in-flight propagation result. Pins (a)
    exactness on the adversarial deep-graph case (a 64-node path, where
    plain propagation needs 63 rounds) and (b) that the stale shortcut
    still converges in O(log diameter): reach grows >= 2r+1 per round,
    so 64 nodes must finish well under the 20-round default cap."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(100, 101), (101, 102)],
        "id_a long, id_b long",
    )
    out = {r["node"]: r["cluster_id"] for r in D.connected_components(pairs).collect()}
    assert out == {**{i: 0 for i in range(n)}, 100: 100, 101: 100, 102: 100}
    assert D.connected_components.last_rounds <= 12  # log-ish, not linear


def test_minhash_auto_bands_rule():
    """Pins the S-curve banding rule the auto oracle replays: knee
    1/sqrt(b) at 0.7*t; t=0.5 must reproduce the historical 8-band
    default (so pre-auto graded queries are unchanged), with the
    [2, 16] clamp at the extremes."""
    import pytest

    assert D.minhash_auto_bands(0.5) == 8
    assert D.minhash_auto_bands(0.7) == 4
    assert D.minhash_auto_bands(0.35) == 16
    assert D.minhash_auto_bands(1.0) == 2
    assert D.minhash_auto_bands(0.05) == 16  # clamp high
    for b in (D.minhash_auto_bands(t / 100) for t in range(1, 101)):
        assert 2 <= b <= 16
    with pytest.raises(ValueError):
        D.minhash_auto_bands(0.0)
    # knee really sits below the threshold for every in-range t
    for t100 in range(20, 101):
        t = t100 / 100
        b = D.minhash_auto_bands(t)
        if b < 16:  # clamp region exempt
            assert (1.0 / b) ** 0.5 <= t + 1e-9, (t, b)


def test_ann_batch_portable_equals_oneshot_per_query(spark, sf_dir):
    """The batch probe's per-query slices must be BIT-identical to
    ann_topk_lsh_portable over the same corpus at the same knobs
    (same masks, quantization, probe rule, scoring) — the
    served-equals-oneshot statement its oracle makes."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.similarity import (
        ann_topk_lsh_batch_portable,
        ann_topk_lsh_portable,
        rp_auto_probe_params,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 4)
    kn = dict(zip(("bits", "seeds", "flips", "radius"),
                  rp_auto_probe_params(corpus.count())))
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).collect()
    }
    got = {}
    batch = ann_topk_lsh_batch_portable(corpus, qvecs, k=10, dim=64, **kn)
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cos_sim"]))
    assert set(got) == set(qvecs)
    for qid, vec in qvecs.items():
        single = [
            (r["vec_id"], r["cos_sim"])
            for r in ann_topk_lsh_portable(
                corpus, vec, k=10, dim=64, **kn
            ).collect()
        ]
        assert sorted(got[qid]) == sorted(single), qid
        assert len(single) == 10


def test_rp_index_batch_served_equals_single_served(spark, sf_dir, tmp_path):
    """rp_index_topk_batch's per-query slices must equal rp_index_topk
    over the same store at the same knobs (union-of-probes partition
    filters + per-query attribution lose nothing), and the store's
    meta sidecar must drive the knobs."""
    import pyspark.sql.functions as F

    from bo_sql_spark.operators.similarity import (
        materialize_rp_index,
        rp_auto_probe_params,
        rp_index_topk,
        rp_index_topk_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 4)
    bits, seeds, flips, radius = rp_auto_probe_params(corpus.count())
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).collect()
    }
    path = str(tmp_path / "idx")
    materialize_rp_index(corpus, path, dim=64, bits=bits, seeds=seeds)
    got = {}
    batch = rp_index_topk_batch(
        spark, path, qvecs, k=10, dim=64, flips=flips, radius=radius
    )
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cos_sim"]))
    assert set(got) == set(qvecs)
    for qid, vec in qvecs.items():
        single = [
            (r["vec_id"], r["cos_sim"])
            for r in rp_index_topk(
                spark, path, vec, k=10, dim=64, flips=flips, radius=radius
            ).collect()
        ]
        assert sorted(got[qid]) == sorted(single), qid


def test_rp_index_append_union_equals_oneshot(spark, sf_dir, tmp_path):
    """Appending the corpus in chunks must serve BIT-identically to
    the one-shot materialize (bucketing is per-row, so the union of
    appended indexes IS the full index); fresh-store appends without
    knobs raise (auto-sizing needs the final corpus size), and
    knob-contradicting appends raise instead of corrupting the store."""
    import pyspark.sql.functions as F
    import pytest

    from bo_sql_spark.operators.similarity import (
        materialize_rp_index,
        rp_auto_probe_params,
        rp_index_append,
        rp_index_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    corpus = emb.filter("vec_id <> 0")
    bits, seeds, flips, radius = rp_auto_probe_params(corpus.count())

    oneshot = str(tmp_path / "oneshot")
    materialize_rp_index(corpus, oneshot, dim=64, bits=bits, seeds=seeds)
    appended = str(tmp_path / "appended")
    with pytest.raises(ValueError, match="fresh store"):
        rp_index_append(corpus, appended, dim=64)  # no knobs, no meta
    for chunk in range(3):
        got_knobs = rp_index_append(
            corpus.filter(F.col("vec_id") % 3 == chunk),
            appended, dim=64,
            # only the first append passes knobs; the rest self-configure
            **({"bits": bits, "seeds": seeds} if chunk == 0 else {}),
        )
        assert got_knobs == (bits, seeds)
    with pytest.raises(ValueError, match="contradicts"):
        rp_index_append(corpus.limit(1), appended, dim=64, bits=bits + 1)

    kw = dict(k=10, dim=64, flips=flips, radius=radius)
    a = [(r["vec_id"], r["cos_sim"])
         for r in rp_index_topk(spark, oneshot, qvec, **kw).collect()]
    b = [(r["vec_id"], r["cos_sim"])
         for r in rp_index_topk(spark, appended, qvec, **kw).collect()]
    assert sorted(a) == sorted(b) and len(a) == 10
