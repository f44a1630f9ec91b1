"""BPE encoder (operators/bpe.py), with merges learned by the sequential
reference trainer ``py_bpe_train``.

The load-bearing claims, each pinned here:
1. the native-expression encoder equals the Python reference encoder and
   round-trips (concat(pieces) == word);
2. the separator-frame replace has exact greedy left-to-right semantics
   (adjacent matches both fire, overlapping ones don't);
3. the corpus-scale table encoder joins rather than recomputes, flags OOV
   words loudly, and never drops a token.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.operators import bpe
from f1_datalakehouse_pipeline_spark.sources.testdata import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").limit(300).cache()


@pytest.fixture(scope="module")
def word_counts(spark, docs):
    return {
        r.word: r.cnt
        for r in bpe.word_frequency_table(docs, "text").collect()
    }


def test_merge_replace_semantics(spark):
    """Greedy left-to-right: 'aaa'+(a,a) -> [aa,a]; 'abab'+(a,b) ->
    [ab,ab]; 'abb'+(a,b) -> [ab,b]."""
    model_aa = bpe.BpeModel((("a", "a"),))
    model_ab = bpe.BpeModel((("a", "b"),))
    df = spark.createDataFrame([("aaa",), ("abab",), ("abb",)], ["w"])
    got = {
        r.w: (list(r.paa), list(r.pab))
        for r in df.select(
            "w",
            bpe.bpe_pieces_expr(F.col("w"), model_aa).alias("paa"),
            bpe.bpe_pieces_expr(F.col("w"), model_ab).alias("pab"),
        ).collect()
    }
    assert got["aaa"] == (["aa", "a"], ["a", "a", "a"])
    assert got["abab"] == (["a", "b", "a", "b"], ["ab", "ab"])
    assert got["abb"] == (["a", "b", "b"], ["ab", "b"])


def test_pieces_expr_matches_py_encode_and_roundtrips(spark, docs, word_counts):
    merges = bpe.py_bpe_train(word_counts, 25)
    model = bpe.BpeModel(tuple(merges))
    rows = (
        docs.limit(40)
        .select(F.explode(bpe.tokens(F.col("text"))).alias("w"))
        .distinct()
        .select("w", bpe.bpe_pieces_expr(F.col("w"), model).alias("p"))
        .collect()
    )
    assert rows
    for r in rows:
        assert list(r.p) == bpe.py_bpe_encode(r.w, merges), r.w
        assert "".join(r.p) == r.w  # concatenative round-trip


def test_word_table_encode_equals_expr_encode(spark, docs, word_counts):
    """The corpus-scale join encoder == the inline expression encoder."""
    merges = bpe.py_bpe_train(word_counts, 130)  # > _CHUNK: exercises chunking
    model = bpe.BpeModel(tuple(merges))
    words = bpe.word_frequency_table(docs, "text")
    table = bpe.bpe_word_table(words, model)
    sample = docs.limit(25).select("doc_id", "text")
    via_table = bpe.bpe_encode_with_table(
        sample, "doc_id", "text", table
    ).collect()
    via_expr = (
        sample.select(
            "doc_id",
            F.posexplode(bpe.tokens(F.col("text"))).alias("word_idx", "w"),
        )
        .select(
            "doc_id",
            "word_idx",
            F.posexplode(bpe.bpe_pieces_expr(F.col("w"), model)).alias(
                "piece_idx", "piece"
            ),
        )
        .collect()
    )
    key = lambda r: (r.doc_id, r.word_idx, r.piece_idx)  # noqa: E731
    assert sorted([(*key(r), r.piece) for r in via_table]) == sorted(
        [(*key(r), r.piece) for r in via_expr]
    )
    assert all(not r.oov for r in via_table)  # table trained on same corpus


def test_bpe_word_table_arrow_matches_chain(spark, docs, word_counts):
    """r12 (guide §4.2): the Arrow merge-chain evaluator (one mapInArrow
    pass of pyarrow.compute.replace_substring calls) must be bit-equal to
    the chunked JVM replace chain — same non-overlapping left-to-right
    replace contract — on the real corpus vocabulary AND on the adversarial
    overlap/adjacency words the frame semantics exist for. Exercised past
    _CHUNK so the chain path actually chunks."""
    merges = bpe.py_bpe_train(word_counts, 140)  # > _CHUNK
    model = bpe.BpeModel(tuple(merges))
    words = bpe.word_frequency_table(docs, "text").unionByName(
        spark.createDataFrame(
            [("aaa", 1), ("abab", 1), ("aaaa", 1), ("abb", 1), ("", 1)],
            ["word", "cnt"],
        )
    )
    chain = {
        r.word: list(r.pieces)
        for r in bpe.bpe_word_table(words, model, engine="chain").collect()
    }
    arrow = {
        r.word: list(r.pieces)
        for r in bpe.bpe_word_table(words, model, engine="arrow").collect()
    }
    assert arrow == chain
    with pytest.raises(ValueError, match="unknown bpe_word_table engine"):
        bpe.bpe_word_table(words, model, engine="nope")


def test_encode_oov_falls_back_to_chars(spark, docs, word_counts):
    model = bpe.BpeModel(tuple(bpe.py_bpe_train(word_counts, 10)))
    words = bpe.word_frequency_table(docs, "text")
    table = bpe.bpe_word_table(words, model)
    unseen = spark.createDataFrame(
        [(1, "zzqxj unknownword")], ["doc_id", "text"]
    )
    rows = bpe.bpe_encode_with_table(unseen, "doc_id", "text", table).collect()
    by_word = {}
    for r in rows:
        by_word.setdefault(r.word_idx, []).append(r)
    w0 = sorted(by_word[0], key=lambda r: r.piece_idx)
    assert all(r.oov for r in w0)
    assert [r.piece for r in w0] == list("zzqxj")  # char fallback, loud flag


def test_separator_words_are_filtered_not_corrupted(spark):
    poisoned = spark.createDataFrame(
        [(1, f"good {bpe.SEP}bad{bpe.SEP} fine")], ["doc_id", "text"]
    )
    wf = bpe.word_frequency_table(poisoned, "text")
    assert {r.word for r in wf.collect()} == {"good", "fine"}


def test_vocab_property(word_counts):
    merges = bpe.py_bpe_train(word_counts, 15)
    model = bpe.BpeModel(tuple(merges))
    assert len(model.vocab) == len(merges)
    assert all(v == a + b for v, (a, b) in zip(model.vocab, merges))
