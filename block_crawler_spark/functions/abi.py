"""JVM-side ABI decoding as pure column expressions.

The reference decodes event payloads row-at-a-time with ``eth_abi``
(``nft/evm/transformers.py:200-376``).  Here the hot-path decodes — 32-byte
words, addresses from topics, ``(uint256,uint256)`` tuples, dynamic
``uint256[]`` arrays, and ABI strings — are all built-in Spark expressions
(`substring`/`conv`/`sequence`/`transform`/`unhex`), so they run inside
whole-stage codegen with no Python round-trip.  At 100 TB of logs this is the
difference between a scan-speed decode and an Arrow-serialization bottleneck.
Like ``functions.hexint``, each helper is SQL text (``*_sql``) turned into a
Column with one JVM call.

ABI layout (public Solidity ABI spec): data blob = "0x" + N×64 hex chars.
Static slots hold values; dynamic slots hold byte offsets into the blob;
a dynamic value starts with a length word followed by its payload.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hexint import hex_to_dec_sql, hex_to_long_sql
from .sqlexpr import sql_of

_WORD_HEX = 64


# -- SQL text builders -------------------------------------------------------


def word_sql(data: str, slot: str | int) -> str:
    if isinstance(slot, int):
        return f"substring({data}, {3 + _WORD_HEX * slot}, {_WORD_HEX})"
    return f"substring({data}, CAST(3 + {_WORD_HEX} * ({slot}) AS INT), {_WORD_HEX})"


def _offset_words_sql(data: str, slot: int) -> str:
    """Dynamic-slot head word = byte offset; convert to a word index."""
    return f"CAST({hex_to_long_sql(word_sql(data, slot))} / 32 AS BIGINT)"


def decode_uint256_array_sql(data: str, slot: int) -> str:
    start = _offset_words_sql(data, slot)
    n = hex_to_long_sql(word_sql(data, start))
    # array_repeat gives n slots (none for n ≤ 0, NULL for NULL n); the
    # lambda variables' odd names keep them from shadowing a column of `data`
    element = word_sql(data, f"{start} + 1 + abi_i_")
    return f"transform(array_repeat('', CAST({n} AS INT)), (abi_z_, abi_i_) -> {element})"


def decode_string_sql(data: str, slot: int) -> str:
    start = _offset_words_sql(data, slot)
    nbytes = hex_to_long_sql(word_sql(data, start))
    # a length ≤ 0 selects the empty string, a NULL length gives NULL
    payload = f"substring({data}, CAST(3 + {_WORD_HEX} * ({start} + 1) AS INT), CAST({nbytes} * 2 AS INT))"
    return f"decode(unhex({payload}), 'UTF-8')"


# -- Column API (one F.expr per call) ----------------------------------------


def word(data: Column | str, slot: Column | str | int) -> Column:
    """0-based 32-byte word from a "0x"-prefixed hex blob, as 64 hex chars."""
    return F.expr(word_sql(sql_of(data), slot if isinstance(slot, int) else sql_of(slot)))


def word_uint(data: Column | str, slot: Column | str | int) -> Column:
    """Word interpreted as uint → Decimal(38,0) (NULL on overflow)."""
    return F.expr(hex_to_dec_sql(word_sql(sql_of(data), slot if isinstance(slot, int) else sql_of(slot))))


def decode_uint256_array(data: Column | str, slot: int) -> Column:
    """Dynamic ``uint256[]`` at head-slot `slot` → array of 64-hex-char strings.

    Fully JVM-side: offset word → length word → `sequence`+`transform` over the
    element words.  Keeping elements as canonical hex defers the
    Decimal-overflow policy to the consumer (see functions.hexint).
    """
    return F.expr(decode_uint256_array_sql(sql_of(data), slot))


def decode_string(data: Column | str, slot: int) -> Column:
    """Dynamic ABI ``string`` at head-slot `slot` → StringType (UTF-8)."""
    return F.expr(decode_string_sql(sql_of(data), slot))
