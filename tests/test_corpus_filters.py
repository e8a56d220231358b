"""Corpus-filter operators (Gopher/C4 family): edge cases + plan shape.

Oracle parity for the registered queries is covered by
test_oracle_parity.py / tools_rehearsal.py; these tests pin the edge
semantics (NULL/empty/short docs, tie-breaks, chunk geometry) and the
zero-shuffle plan contract.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from bo_sql_spark.operators import corpus_filters as CF
from bo_sql_spark.plans import explain_str


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_gopher_keep_reasons(spark):
    rows = [
        # 60 distinct-ish words incl. 2 stopwords, mean len ok -> keep
        (1, " ".join(["the", "of"] + [f"word{i:02d}" for i in range(58)])),
        (2, "too short"),                         # word_count + stopwords
        (3, None),                                # NULL -> normalized '' -> drop
        (4, " ".join(["the", "of"] + ["ab"] * 58)),  # mean_word_len + repetition
    ]
    out = {
        r["doc_id"]: r
        for r in CF.gopher_keep(_docs(spark, rows)).collect()
    }
    assert out[1]["keep"] and out[1]["drop_reasons"] == ""
    assert not out[2]["keep"]
    assert "word_count" in out[2]["drop_reasons"]
    assert "stopwords" in out[2]["drop_reasons"]
    assert not out[3]["keep"] and out[3]["keep"] is not None
    r4 = out[4]["drop_reasons"]
    assert "mean_word_len" in r4 and "repetition" in r4
    # reason order is the declared rule order
    assert out[2]["drop_reasons"].split(",")[0] == "word_count"


def test_dup_ngram_frac_edges(spark):
    rows = [
        (1, "a b c d"),        # all bigrams distinct -> 0.0
        (2, "a b a b a"),      # bigrams: ab ba ab ba -> 2 distinct / 4 -> 0.5
        (3, "solo"),           # < 2 tokens -> 0.0
        (4, ""),               # empty -> 0.0
    ]
    df = _docs(spark, rows).select(
        "doc_id", CF.dup_ngram_frac(CF._toks("text"), 2).alias("f")
    )
    got = {r["doc_id"]: r["f"] for r in df.collect()}
    assert got == {1: 0.0, 2: 0.5, 3: 0.0, 4: 0.0}


def test_repetition_signals_top_word_tiebreak(spark):
    # 'b' and 'a' both appear twice -> max count then max token = 'b'
    rows = [(1, "a b a b"), (2, "x x x y")]
    out = {
        r["doc_id"]: r
        for r in CF.repetition_signals(_docs(spark, rows)).collect()
    }
    assert out[1]["top_word"] == "b" and out[1]["top_word_count"] == 2
    assert out[2]["top_word"] == "x" and out[2]["top_word_count"] == 3
    # doc 2: chars = 4, top-word chars = 3*1 -> 0.75
    assert out[2]["top_word_char_frac"] == 0.75


def test_chunk_documents_geometry(spark):
    rows = [(1, "abcdefghij"), (2, None), (3, "")]
    out = CF.chunk_documents(
        _docs(spark, rows), size=4, stride=3
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # len 10, stride 3 -> starts 1,4,7,10; size 4 -> last chunk short
    chunks = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [c["chunk_start"] for c in chunks] == [1, 4, 7, 10]
    assert [c["chunk_text"] for c in chunks] == ["abcd", "defg", "ghij", "j"]
    assert [c["chunk_len"] for c in chunks] == [4, 4, 4, 1]
    assert chunks[-1]["chunk_idx"] == 3
    # NULL and empty docs yield no chunks
    assert 2 not in by_doc and 3 not in by_doc


def test_gopher_filter_plan_has_no_shuffle(spark, sf_dir):
    from bo_sql_spark.queries import load_all

    reg = load_all()
    for name in ("text_gopher_filter", "text_chunk_documents"):
        text = explain_str(reg[name].builder(spark, sf_dir), "simple")
        # The deliberate round-robin spread of the single-split scan
        # (parallel.spread_scan) is a REPARTITION_BY_NUM exchange, not a
        # data shuffle — only hash/range shuffles count as regressions here.
        assert "Exchange hashpartitioning" not in text, f"{name} shuffles:\n{text}"
        assert "Exchange rangepartitioning" not in text, f"{name} shuffles:\n{text}"
        assert "BatchEvalPython" not in text, f"{name} uses Python UDFs"


def test_dup_ngram_frac_null_tokens(spark):
    """NULL and empty token arrays yield 0.0 (ADVICE r13: the arrow UDF
    once crashed on list(None)); the bigrams ab,ba,ab,ba hold 2
    distinct of 4, so the first row reads 1 - 2/4 = 0.5."""
    df = spark.createDataFrame(
        [(1, ["a", "b", "a", "b", "a"]), (2, None), (3, [])],
        "doc_id long, toks array<string>",
    )
    got = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", CF.dup_ngram_frac(F.col("toks"), 2).alias("f")
        ).collect()
    }
    assert got == {1: 0.5, 2: 0.0, 3: 0.0}
