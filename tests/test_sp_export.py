"""SentencePiece-compatible artifact export (operators/sp_export.py):
deterministic bytes, exact text round-trip at micro precision, and —
the shippable-tokenizer contract — encoding with the re-read artifact
is IDENTICAL to encoding with the in-engine fit, for both trainers.
"""

import math

import pytest

import pyspark.sql.functions as F

from datafusion_geo_spark.operators.sp_export import (
    read_bpe_merges, read_sp_vocab, sp_vocab_unigram,
    unigram_fitted_from_vocab, write_bpe_merges, write_sp_vocab)


def test_vocab_golden_bytes(tmp_path):
    p = str(tmp_path / "m.vocab")
    write_sp_vocab([("ab", -1.5), ("c", 0.0), ("é", -12.345678)], p)
    assert open(p, encoding="utf-8").read() == \
        "ab\t-1.500000\nc\t0.000000\né\t-12.345678\n"
    assert read_sp_vocab(p) == [("ab", -1.5), ("c", 0.0),
                                ("é", -12.345678)]


def test_vocab_micro_exact_roundtrip(tmp_path):
    # every micro-int in a wide range survives write -> parse exactly
    p = str(tmp_path / "m.vocab")
    micros = [0, -1, 1, -123456789, 987654321, -2**40, 7]
    rows = [(f"p{i}", m / 1e6) for i, m in enumerate(micros)]
    write_sp_vocab(rows, p)
    back = read_sp_vocab(p)
    assert [int(round(s * 1e6)) for _, s in back] == micros


def test_vocab_rejects_whitespace_pieces(tmp_path):
    p = str(tmp_path / "m.vocab")
    with pytest.raises(ValueError, match="whitespace"):
        write_sp_vocab([("a b", 0.0)], p)
    with pytest.raises(ValueError, match="whitespace"):
        write_sp_vocab([("", 0.0)], p)
    with pytest.raises(ValueError, match="whitespace"):
        write_bpe_merges([("a", "b\tc", "ab\tc")], p)


def test_merges_roundtrip(tmp_path):
    p = str(tmp_path / "merges.txt")
    merges = [("a", "b", "ab"), ("ab", "c", "abc"), ("é", "ß", "éß")]
    write_bpe_merges(merges, p)
    assert read_bpe_merges(p) == merges
    # rank order is the file order
    assert open(p, encoding="utf-8").read() == "a b\nab c\né ß\n"


def _docs(spark):
    rows = [(i, "en" if i % 3 else "de",
             "banana band bandana " * (1 + i % 2)) for i in range(12)]
    return spark.createDataFrame(rows, "doc_id long, lang string, "
                                       "text string")


def test_bpe_export_encodes_identically(spark, tmp_path):
    from datafusion_geo_spark.operators.bpe import bpe_apply, bpe_train
    docs = _docs(spark)
    merges = [(r["left_tok"], r["right_tok"], r["merged"])
              for r in bpe_train(docs, rounds=4)
              .orderBy("merge_rank").collect()]
    p = str(tmp_path / "merges.txt")
    write_bpe_merges(merges, p)
    back = read_bpe_merges(p)
    assert back == merges
    a = bpe_apply(docs, "text", merges).select("doc_id", "bpe_tokens") \
        .collect()
    b = bpe_apply(docs, "text", back).select("doc_id", "bpe_tokens") \
        .collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@pytest.mark.slow
def test_unigram_export_encodes_identically(spark, tmp_path):
    from datafusion_geo_spark.operators.unigram import (
        unigram_encode_stats, unigram_train)
    docs = _docs(spark)
    fitted = unigram_train(docs, rounds=1, seed_multi_cap=16,
                           vocab_multi_cap=8)
    p = str(tmp_path / "uni.vocab")
    write_sp_vocab(sp_vocab_unigram(fitted), p)
    fitted2 = unigram_fitted_from_vocab(read_sp_vocab(p))
    # exact micro recovery piece-by-piece
    assert [(t[0], t[2]) for t in fitted2] == \
        [(t[0], t[2]) for t in fitted]
    a = unigram_encode_stats(docs, fitted).collect()
    b = unigram_encode_stats(docs, fitted2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
