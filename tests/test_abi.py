from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from block_crawler_spark.functions.abi import decode_string, decode_uint256_array, word, word_uint
from block_crawler_spark.sources.chainfix import enc_string, enc_uint, enc_uint_array_pair


def test_static_words(spark):
    data = "0x" + enc_uint(5) + enc_uint(1 << 128)
    row = (
        spark.range(1)
        .select(
            word(F.lit(data), 0).alias("w0"),
            word_uint(F.lit(data), 0).alias("u0"),
            word_uint(F.lit(data), 1).alias("u1"),
        )
        .collect()[0]
    )
    assert row["w0"] == enc_uint(5)
    assert row["u0"] == Decimal(5)
    assert row["u1"] is None  # 1<<128 has 33 sig hex digits → overflow clamp


def test_dynamic_uint_arrays(spark):
    for ids, vals in [([1, 2, 3], [10, 20, 30]), ([7], [9]), ([], [])]:
        data = enc_uint_array_pair(ids, vals)
        row = (
            spark.range(1)
            .select(
                decode_uint256_array(F.lit(data), 0).alias("ids"),
                decode_uint256_array(F.lit(data), 1).alias("vals"),
            )
            .collect()[0]
        )
        assert row["ids"] == [enc_uint(i) for i in ids]
        assert row["vals"] == [enc_uint(v) for v in vals]


def test_decode_string(spark):
    for s in ["", "a", "hello world", "https://meta.example/{id}.json", "x" * 100]:
        data = enc_string(s)
        got = spark.range(1).select(decode_string(F.lit(data), 0).alias("s")).collect()[0]["s"]
        assert got == s


def test_empty_uint256_array_is_an_empty_array(spark):
    data = enc_uint_array_pair([], [])
    row = spark.range(1).select(
        decode_uint256_array(F.lit(data), 0).alias("ids"),
        decode_uint256_array("'" + data + "'", 1).alias("vals"),
    ).collect()[0]
    assert row["ids"] == [] and row["vals"] == []


def test_decode_string_multibyte_utf8(spark):
    """Lengths are in bytes: multibyte characters must survive intact."""
    texts = ["héllo wörld", "日本語のURI/{id}", "🦄" * 20, "ä" * 33, "mixed ascii + ü + 中 + 🦄"]
    df = spark.createDataFrame([(i, enc_string(s)) for i, s in enumerate(texts)], "i int, data string")
    got = {r["i"]: r["s"] for r in df.select("i", decode_string(F.col("data"), 0).alias("s")).collect()}
    assert [got[i] for i in range(len(texts))] == texts


def test_word_with_a_column_slot(spark):
    data = "0x" + enc_uint(7) + enc_uint(9) + enc_uint(1 << 100)
    df = spark.createDataFrame([(data, 2)], "data string, slot long")
    row = df.select(
        word(F.col("data"), F.col("slot") - 1).alias("w"),
        word_uint("data", "slot").alias("u"),
    ).collect()[0]
    assert row["w"] == enc_uint(9)
    assert row["u"] == Decimal(1 << 100)
