"""uint256 / HexInt column policy.

The reference models big integers as ``HexInt`` — an arbitrary-precision int
with a dual hex-string representation, zero-padded so lexicographic order
equals numeric order (reference: ``core/types.py:9-122`` ``padded_hex``,
``nft/evm/oracles.py:22``).  uint256 (up to 78 decimal digits) exceeds Spark's
``DecimalType(38,0)``, so the engine-wide policy is:

* **Canonical storage**: zero-padded lowercase hex **StringType** (64 hex
  chars for uint256, "0x" prefix).  Sorting, range predicates, equality and
  grouping all work on the canonical string because the padding makes
  lexicographic order = numeric order.
* **Arithmetic**: a parallel ``DecimalType(38,0)`` column where magnitude is
  known to be bounded (block numbers, timestamps, indexes, realistic
  quantities).  Values that do not fit are clamped to NULL — the same
  behavior the reference applies to out-of-bounds numbers
  (``nft/data_services/dynamodb.py:49-51, 224-229, 374-385``).

Everything here is built-in column expressions — no Python UDFs — so the
conversions stay inside whole-stage codegen at 100 TB scale.  Each helper
composes its expression as SQL text (the ``*_sql`` builders, str → str, for
callers that compose further) and crosses into the JVM once
(``functions.sqlexpr``); arguments are Columns or SQL text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqlexpr import sql_of

# Max significant hex digits convertible exactly into Decimal(38,0) with the
# two-chunk strategy below: high 15 hex digits * 16^16 + low 16 hex digits
# = at most 16^31 - 1 ≈ 1.7e37 < 1e38. 31 hex digits ≈ 124 bits.
_MAX_SIG_HEX = 31
_TWO_POW_64 = "18446744073709551616"  # 2**64 as an exact decimal literal

UINT256_HEX_WIDTH = 64
ADDRESS_HEX_WIDTH = 40
VERSION_HEX_WIDTH = 40  # reference zero-pads attribute_version to 40 chars

ZERO_ADDRESS = "0x" + "0" * 40


# -- SQL text builders -------------------------------------------------------


def strip0x_sql(x: str) -> str:
    return f"CASE WHEN startswith(lower({x}), '0x') THEN substring(lower({x}), 3) ELSE lower({x}) END"


def normalize_hex_sql(x: str, width: int = UINT256_HEX_WIDTH, prefix: bool = True) -> str:
    # substring(s, -width, width) keeps the rightmost `width` nibbles of an
    # over-width string and all of a shorter one; lpad then pads it
    body = f"lpad(substring({strip0x_sql(x)}, -{width}, {width}), {width}, '0')"
    return f"concat('0x', {body})" if prefix else body


def _trimmed_sql(x: str) -> str:
    """Hex digits without prefix and leading zeros ('' for zero)."""
    return f"trim(LEADING '0' FROM {strip0x_sql(x)})"


def hex_sig_sql(x: str) -> str:
    t = _trimmed_sql(x)
    return f"CASE WHEN {t} = '' THEN '0' ELSE {t} END"


def hex_to_dec_sql(x: str) -> str:
    t = _trimmed_sql(x)
    padded = f"lpad({t}, {_MAX_SIG_HEX}, '0')"
    high = f"CAST(conv(substring({padded}, 1, 15), 16, 10) AS DECIMAL(38,0))"
    low = f"CAST(conv(substring({padded}, 16, 16), 16, 10) AS DECIMAL(38,0))"
    two64 = f"CAST('{_TWO_POW_64}' AS DECIMAL(38,0))"
    return f"CASE WHEN length({t}) > {_MAX_SIG_HEX} THEN NULL ELSE {high} * {two64} + {low} END"


def hex_to_long_sql(x: str) -> str:
    # ≤ 16 significant digits keeps conv() inside unsigned 64 bit; try_cast
    # then maps 2^63 … 2^64-1 to NULL; the leading '0' reads "" as zero
    return (
        f"CASE WHEN length({_trimmed_sql(x)}) <= 16 "
        f"THEN try_cast(conv(concat('0', {strip0x_sql(x)}), 16, 10) AS BIGINT) END"
    )


def long_to_hex_sql(x: str, width: int = UINT256_HEX_WIDTH, prefix: bool = True) -> str:
    body = f"lpad(lower(hex(CAST({x} AS BIGINT))), {width}, '0')"
    return f"concat('0x', {body})" if prefix else body


def topic_to_address_sql(x: str) -> str:
    return f"concat('0x', lower(substring({x}, 27, 40)))"


# -- Column API (one F.expr per call) ----------------------------------------


def strip0x(col: Column | str) -> Column:
    """Remove a leading 0x/0X prefix if present (lowercases)."""
    return F.expr(strip0x_sql(sql_of(col)))


def normalize_hex(col: Column | str, width: int = UINT256_HEX_WIDTH, prefix: bool = True) -> Column:
    """Canonicalize a hex string: lowercase, zero-pad to `width` nibbles, 0x prefix.

    Padding guarantees lexicographic order == numeric order, the engine's
    substitute for native uint256 ordering.

    Over-width input keeps the RIGHTMOST ``width`` nibbles (the low-order
    bytes) — the same truncation ``topic_to_address`` applies to a 64-char
    topic.  ``lpad`` alone would keep the *leftmost* chars, turning a
    zero-padded topic into all zeros and misclassifying it as the zero
    address (ADVICE r1, hexint.py:53).
    """
    return F.expr(normalize_hex_sql(sql_of(col), width, prefix))


def hex_sig(col: Column | str) -> Column:
    """Significant (leading-zero-stripped) hex digits; '0' for zero."""
    return F.expr(hex_sig_sql(sql_of(col)))


def hex_to_dec(col: Column | str) -> Column:
    """Hex string (any casing, optional 0x) → Decimal(38,0); NULL on overflow.

    Exact up to 31 significant hex digits (~1.7e37) via a two-chunk
    high*2^64 + low decomposition; conv() alone is only safe to 15 digits
    because it saturates at unsigned 64-bit.
    """
    return F.expr(hex_to_dec_sql(sql_of(col)))


def hex_to_long(col: Column | str) -> Column:
    """Hex string → LongType; NULL if it exceeds 63 bits (15 full hex digits + sign headroom)."""
    return F.expr(hex_to_long_sql(sql_of(col)))


def long_to_hex(col: Column | str, width: int = UINT256_HEX_WIDTH, prefix: bool = True) -> Column:
    """Non-negative integral column → canonical zero-padded lowercase hex."""
    return F.expr(long_to_hex_sql(sql_of(col), width, prefix))


def hex_add(a: Column | str, b: Column | str) -> Column:
    """Add two canonical hex columns via Decimal; NULL on overflow (reference clamps too)."""
    return F.expr(f"({hex_to_dec_sql(sql_of(a))}) + ({hex_to_dec_sql(sql_of(b))})")


def is_zero_address(col: Column | str) -> Column:
    return F.expr(f"{normalize_hex_sql(sql_of(col), ADDRESS_HEX_WIDTH)} = '{ZERO_ADDRESS}'")


def topic_to_address(col: Column | str) -> Column:
    """32-byte topic hex ("0x"+64) → address ("0x"+40): the low 20 bytes."""
    return F.expr(topic_to_address_sql(sql_of(col)))
