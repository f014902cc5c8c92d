from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.functions import hexint


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


@pytest.mark.parametrize(
    "hex_in,expected",
    [
        ("0x0", Decimal(0)),
        ("0x1", Decimal(1)),
        ("0xff", Decimal(255)),
        ("0x" + "0" * 60 + "beef", Decimal(0xBEEF)),
        ("0x" + f"{10**37:x}", Decimal(10**37)),
        ("0x" + f"{16**31 - 1:x}", Decimal(16**31 - 1)),  # max exact
        ("0x" + f"{16**31:x}", None),  # 32 significant digits → overflow clamp
        ("0x" + f"{(1 << 256) - 1:x}", None),  # uint256 max → null
    ],
)
def test_hex_to_dec(spark, hex_in, expected):
    got = _eval(spark, hexint.hex_to_dec(F.lit(hex_in)))
    assert got == expected


def test_hex_to_dec_roundtrip_many(spark):
    vals = [0, 1, 7, 255, 2**63, 2**64 + 3, 10**30, 16**31 - 1]
    df = spark.createDataFrame([("0x" + f"{v:x}",) for v in vals], ["h"])
    got = [r["d"] for r in df.select(hexint.hex_to_dec(F.col("h")).alias("d")).collect()]
    assert got == [Decimal(v) for v in vals]


def test_hex_to_long(spark):
    assert _eval(spark, hexint.hex_to_long(F.lit("0xff"))) == 255
    assert _eval(spark, hexint.hex_to_long(F.lit("0x7fffffffffffffff"))) == 2**63 - 1
    assert _eval(spark, hexint.hex_to_long(F.lit("0x8000000000000000"))) is None
    assert _eval(spark, hexint.hex_to_long(F.lit("0x" + "f" * 64))) is None


def test_normalize_and_ordering(spark):
    n = _eval(spark, hexint.normalize_hex(F.lit("0XAbC")))
    assert n == "0x" + "0" * 61 + "abc"
    # padded hex: lexicographic order == numeric order
    vals = [0, 5, 255, 4096, 10**20, 16**31, (1 << 256) - 1]
    hexes = ["0x" + f"{v:x}".rjust(64, "0") for v in vals]
    assert hexes == sorted(hexes)


def test_long_to_hex(spark):
    assert _eval(spark, hexint.long_to_hex(F.lit(255))) == "0x" + "0" * 62 + "ff"


def test_topic_to_address(spark):
    topic = "0x" + "0" * 24 + "ab" * 20
    assert _eval(spark, hexint.topic_to_address(F.lit(topic))) == "0x" + "ab" * 20


def test_normalize_overwidth_keeps_low_order(spark):
    """ADVICE r1 (hexint.py:53): lpad alone TRUNCATES over-width input to its
    leftmost (high-order-zero) chars — a 64-char topic normalized to 40 must
    keep the RIGHTMOST nibbles, like topic_to_address, not become 0x000…0."""
    topic = "0x" + "0" * 24 + "ab" * 20  # padded 32-byte topic holding an address
    got = _eval(spark, hexint.normalize_hex(F.lit(topic), hexint.ADDRESS_HEX_WIDTH))
    assert got == "0x" + "ab" * 20
    assert _eval(spark, hexint.is_zero_address(F.lit(topic))) is False
    zero_topic = "0x" + "0" * 64
    assert _eval(spark, hexint.is_zero_address(F.lit(zero_topic))) is True


# -- the SQL-text helpers against Python big-int arithmetic ------------------

_EDGE_INPUTS = [
    None,
    "",
    "0x",
    "0X",
    "0",
    "0x0",
    "0XFF",
    "0xff",
    "ff",
    "FF",
    "0x00000000000000000000000000000000000000000000000000000000000000ff",
    "0X" + "0" * 70 + "1",  # wider than uint256, but only one significant digit
    "0x" + "f" * 15,
    "0x" + "f" * 16,
    "0x7fffffffffffffff",
    "0x8000000000000000",
    "0x" + f"{16**31 - 1:x}",  # 31 significant digits: the exact maximum
    "0x" + f"{16**31:x}",  # 32 significant digits → NULL
    "0x00" + f"{16**31 - 1:X}",
    "0x" + f"{(1 << 256) - 1:x}",
    "0x" + "ab" * 40,  # 80 nibbles: over-width for every canonical width
    "deadBEEF",
]


def _digits(h: str) -> str:
    s = h.lower()
    return s[2:] if s.startswith("0x") else s


def _py_dec(h):
    if h is None:
        return None
    s = _digits(h)
    return None if len(s.lstrip("0")) > 31 else Decimal(int(s or "0", 16))


def _py_long(h):
    if h is None:
        return None
    v = int(_digits(h) or "0", 16)
    return v if v < 2**63 else None


def _py_normalize(h, width=64, prefix=True):
    if h is None:
        return None
    body = _digits(h)[-width:].rjust(width, "0")
    return "0x" + body if prefix else body


def _py_sig(h):
    return None if h is None else (_digits(h).lstrip("0") or "0")


def _eval_many(spark, builders):
    """Every builder applied to every edge input, in one Spark job."""
    df = spark.createDataFrame([(i, h) for i, h in enumerate(_EDGE_INPUTS)], "i int, h string")
    cols = [fn(F.col("h")).alias(f"c{k}") for k, fn in enumerate(builders)]
    out = df.select("i", *cols)
    rows = sorted(out.collect(), key=lambda r: r["i"])
    return out.schema, [[r[f"c{k}"] for r in rows] for k in range(len(builders))]


def test_conversions_match_python_big_ints(spark):
    schema, (dec, lng, sig, norm64, norm40, norm_bare) = _eval_many(
        spark,
        [
            hexint.hex_to_dec,
            hexint.hex_to_long,
            hexint.hex_sig,
            hexint.normalize_hex,
            lambda c: hexint.normalize_hex(c, hexint.ADDRESS_HEX_WIDTH),
            lambda c: hexint.normalize_hex(c, 8, prefix=False),
        ],
    )
    assert schema["c0"].dataType.simpleString() == "decimal(38,0)"
    assert schema["c1"].dataType.simpleString() == "bigint"
    assert dec == [_py_dec(h) for h in _EDGE_INPUTS]
    assert lng == [_py_long(h) for h in _EDGE_INPUTS]
    assert sig == [_py_sig(h) for h in _EDGE_INPUTS]
    assert norm64 == [_py_normalize(h) for h in _EDGE_INPUTS]
    assert norm40 == [_py_normalize(h, 40) for h in _EDGE_INPUTS]
    assert norm_bare == [_py_normalize(h, 8, False) for h in _EDGE_INPUTS]


def test_hex_add_and_zero_address_match_python(spark):
    _, (doubled, zero) = _eval_many(
        spark, [lambda c: hexint.hex_add(c, c), hexint.is_zero_address]
    )

    def py_add(h):
        d = _py_dec(h)
        return None if d is None else Decimal(2 * int(d))

    assert doubled == [py_add(h) for h in _EDGE_INPUTS]
    assert zero == [None if h is None else _py_normalize(h, 40) == hexint.ZERO_ADDRESS for h in _EDGE_INPUTS]


def test_helpers_take_sql_text_and_expression_columns(spark):
    """A str argument is SQL text; a Column may be any built-in expression."""
    df = spark.createDataFrame([(255, "0xff")], "n long, h string")
    row = df.select(
        hexint.hex_to_dec("h").alias("a"),
        hexint.hex_to_dec("concat('0x', 'f', 'f')").alias("b"),
        hexint.long_to_hex(F.col("n") * 2 + 1, 8, prefix=False).alias("c"),
        hexint.topic_to_address(F.concat(F.lit("0x" + "0" * 24), F.lit("ab" * 20))).alias("d"),
    ).collect()[0]
    assert row["a"] == row["b"] == Decimal(255)
    assert row["c"] == f"{511:08x}"
    assert row["d"] == "0x" + "ab" * 20
