"""Ordering and classification oracles.

Reference: ``nft/evm/oracles.py`` — ``LogVersionOracle`` (T14) assigns every
log a total event order ``block*1e9 + tx_index*1e4 + log_index`` emitted as a
40-char zero-padded hex string; ``TokenTransactionTypeOracle`` (T15)
classifies transfers as mint/burn/transfer.  Both are single column
expressions here — no UDFs — composed as SQL text (``*_sql``) and built with
one JVM call each (``functions.sqlexpr``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.hexint import ADDRESS_HEX_WIDTH, ZERO_ADDRESS, normalize_hex_sql
from ..functions.sqlexpr import sql_of
from ..schemas import TX_BURN, TX_MINT, TX_TRANSFER

VERSION_BLOCK_FACTOR = 1_000_000_000
VERSION_TX_FACTOR = 10_000


def attribute_version_sql(block: str, tx_index: str, log_index: str) -> str:
    return (
        f"CAST({block} AS BIGINT) * {VERSION_BLOCK_FACTOR} + CAST({tx_index} AS BIGINT) * {VERSION_TX_FACTOR}"
        f" + CAST({log_index} AS BIGINT)"
    )


def attribute_version_hex_sql(block: str, tx_index: str, log_index: str) -> str:
    return f"lpad(lower(hex({attribute_version_sql(block, tx_index, log_index)})), 40, '0')"


def transaction_type_sql(from_: str, to: str, collection_id: str) -> str:
    """mint/burn/transfer over already-canonical addresses (see
    :func:`classify_transfer` for the rule)."""
    f, t, c, zero = f"({from_})", f"({to})", f"({collection_id})", f"'{ZERO_ADDRESS}'"
    return (
        f"CASE WHEN {t} = {zero} THEN '{TX_BURN}' "
        f"WHEN ({f} = {zero} OR {f} = {c}) AND {t} != {c} THEN '{TX_MINT}' "
        f"ELSE '{TX_TRANSFER}' END"
    )


def attribute_version(block: Column | str, tx_index: Column | str, log_index: Column | str) -> Column:
    """Total event order as a LongType (bigint) — safe to block ~9.2e9.

    The multiplier layout matches the reference's ``LogVersionOracle``
    (``nft/evm/oracles.py:17-22``): version = block*1e9 + tx*1e4 + log.
    """
    return F.expr(attribute_version_sql(sql_of(block), sql_of(tx_index), sql_of(log_index)))


def attribute_version_hex(block: Column | str, tx_index: Column | str, log_index: Column | str) -> Column:
    """The version as the reference's 40-char zero-padded hex string.

    Zero-padding makes lexicographic order = numeric order, so the hex string
    itself is a valid sort/range key (cf. ``padded_hex``/``zfill(40)``).
    """
    return F.expr(attribute_version_hex_sql(sql_of(block), sql_of(tx_index), sql_of(log_index)))


def classify_transfer(from_: Column | str, to: Column | str, collection_id: Column | str) -> Column:
    """mint/burn/transfer classification (reference ``oracles.py:25-52``).

    Order matters: ``to == 0x0`` → burn first; then ``from ∈ {0x0, the
    collection contract}`` → mint; else transfer.
    """
    return F.expr(
        transaction_type_sql(
            *(normalize_hex_sql(sql_of(c), ADDRESS_HEX_WIDTH) for c in (from_, to, collection_id))
        )
    )
