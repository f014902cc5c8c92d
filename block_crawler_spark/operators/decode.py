"""Log → token-transfer / URI-update decode (reference T8–T11, P3/P4 filters).

Reference behavior being re-expressed (``nft/evm/transformers.py``):

* ERC-721 ``Transfer``: exactly 4 topics (the 4-topic check excludes ERC-20,
  which shares the signature, ``:265-269``); from/to in topics[1..2],
  token id in topics[3]; quantity = 1.
* ERC-1155 ``TransferSingle``: from/to in topics[2..3]; data = (id, value)
  static tuple (``:287-310``).
* ERC-1155 ``TransferBatch``: data = (uint256[] ids, uint256[] values),
  zipped into one transfer per element (``:313-336``).
* ERC-1155 ``URI``: data = (string uri); literal ``{id}`` substituted with
  the decimal token id (``:339-376``).

Each event family is one filter (pushed to the parquet scan) plus two
``select`` steps — the decoded fields, then the fields derived from them —
whose columns are SQL text composed by the ``*_sql`` builders: one JVM call
per output column, and one plan analysis per DataFrame step instead of one
per ``withColumn``.  The batch case adds an ``arrays_zip``+``posexplode``
step rather than a per-row loop; the URI family is one filter plus one
select.  Nothing is cached here; the callers that reuse a decode
(``plans.crawl``) cache it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.abi import decode_string_sql, decode_uint256_array_sql, word_sql
from ..functions.hexint import (
    UINT256_HEX_WIDTH,
    hex_to_dec_sql,
    normalize_hex_sql,
    topic_to_address_sql,
)
from ..operators.oracles import attribute_version_hex_sql, attribute_version_sql, transaction_type_sql
from ..schemas import (
    ERC721_TRANSFER_TOPIC,
    ERC1155_TRANSFER_BATCH_TOPIC,
    ERC1155_TRANSFER_SINGLE_TOPIC,
    ERC1155_URI_TOPIC,
    SPEC_ERC721,
    SPEC_ERC1155,
)

_ONE_HEX = "0x" + "1".rjust(UINT256_HEX_WIDTH, "0")

# Topic access is ``topics[i]`` (GetArrayItem) rather than element_at:
# Catalyst's SimplifyExtractValueOps collapses GetArrayItem(CreateArray(...),
# literal) to the single element, so synthetic/constructed topic arrays
# (tests, the nft_ops oracle queries) don't inline the whole array expression
# at every use site — with element_at the duplicated expression tree blew
# past the janino 64KB method limit and silently disabled whole-stage codegen
# (~6× slower end-to-end at sf0.1).


def _topic(i: int) -> str:
    """1-based topic accessor."""
    return f"topics[{i - 1}]"


def _family_filter(topic: str, n_topics: int) -> str:
    return f"size(topics) = {n_topics} AND {_topic(1)} = '{topic}'"


_VERSION = attribute_version_sql("block_number", "transaction_index", "log_index")


def _transfer_row(
    df: DataFrame,
    spec: str,
    from_topic: int,
    to_topic: int,
    token: str,
    quantity_hex: str,
    batch_index: str = "0",
) -> DataFrame:
    """The finished transfer row (reference T8–T10): one ``select`` of the
    decoded fields, one of the fields derived from them — the same two
    projections whole-stage codegen has always fused, so ``from_``/``to_``
    are computed once per row, not once per use in the classification.

    Ingest contract: ``address`` and the decoded from_/to_ are canonical
    lowercase "0x"+40 hex (topic_to_address lowers; sources lower addresses
    on ingest, reference normalizes at the CLI, ``core/click.py:58-66``), so
    the mint/burn classification compares them directly instead of routing
    through ``classify_transfer``'s re-normalization — keeps the generated
    code comfortably inside whole-stage codegen limits.
    """
    return df.selectExpr(
        "lower(address) AS collection_id",
        f"'{spec}' AS specification",
        "block_number",
        "transaction_index",
        "log_index",
        "transaction_hash",
        f"{_VERSION} AS attribute_version",
        f"{topic_to_address_sql(_topic(from_topic))} AS from_",
        f"{topic_to_address_sql(_topic(to_topic))} AS to_",
        f"{token} AS token_id_hex",
        f"{quantity_hex} AS quantity_hex",
        f"{batch_index} AS batch_index",
    ).selectExpr(
        "collection_id",
        "specification",
        "block_number",
        "transaction_index",
        "log_index",
        "transaction_hash",
        "attribute_version",
        "lpad(lower(hex(attribute_version)), 40, '0') AS attribute_version_hex",
        "from_",
        "to_",
        "token_id_hex",
        "quantity_hex",
        f"{hex_to_dec_sql('quantity_hex')} AS quantity",
        f"{transaction_type_sql('from_', 'to_', 'collection_id')} AS transaction_type",
        "batch_index",
    )


def decode_erc721_transfers(logs: DataFrame) -> DataFrame:
    """ERC-721 Transfer logs → one transfer row each (reference T8)."""
    return _transfer_row(
        logs.filter(_family_filter(ERC721_TRANSFER_TOPIC, 4)),
        SPEC_ERC721,
        2,
        3,
        normalize_hex_sql(_topic(4)),
        f"'{_ONE_HEX}'",
    )


def decode_erc1155_single_transfers(logs: DataFrame) -> DataFrame:
    """ERC-1155 TransferSingle logs → one transfer row each (reference T9)."""
    return _transfer_row(
        logs.filter(_family_filter(ERC1155_TRANSFER_SINGLE_TOPIC, 4)),
        SPEC_ERC1155,
        3,
        4,
        normalize_hex_sql(word_sql("data", 0)),
        normalize_hex_sql(word_sql("data", 1)),
    )


def decode_erc1155_batch_transfers(logs: DataFrame) -> DataFrame:
    """ERC-1155 TransferBatch logs → one transfer row per (id, value) pair.

    The reference zips the two decoded arrays in a Python loop
    (``nft/evm/transformers.py:231-253``); here it's ``arrays_zip`` +
    ``posexplode`` so a single log fans out inside the JVM.  The reference
    assigns every element of a batch the same per-log attribute_version; we
    preserve that and keep a separate ``batch_index`` column for the J2
    reconciliation key (which adds token_id for 1155 batch items,
    ``verify.py:810-817``).
    """
    ids, values = decode_uint256_array_sql("data", 0), decode_uint256_array_sql("data", 1)
    exploded = logs.filter(_family_filter(ERC1155_TRANSFER_BATCH_TOPIC, 4)).selectExpr(
        "address",
        "block_number",
        "transaction_index",
        "log_index",
        "transaction_hash",
        "topics",
        f"posexplode(arrays_zip({ids}, {values})) AS (batch_index, pair)",
    )
    return _transfer_row(
        exploded,
        SPEC_ERC1155,
        3,
        4,
        normalize_hex_sql("pair.`0`"),
        normalize_hex_sql("pair.`1`"),
        "batch_index",
    )


def _not_removed(logs: DataFrame) -> str | None:
    """Reorg guard: a websocket subscription can redeliver a log with
    ``removed=true`` when its block is orphaned — such logs must never
    reach the folds.  Batch ``eth_getLogs`` over canonical history always
    carries ``removed=false``, so this predicate prunes nothing there (and
    pushes to the scan).  Tolerates frames without the column (None)."""
    return "NOT coalesce(removed, false)" if "removed" in logs.columns else None


def decode_token_transfers(logs: DataFrame) -> DataFrame:
    """All three transfer families from one logs scan, unioned.

    Callers should ``.cache()`` the logs DataFrame (or rely on the shared
    parquet scan) — the three branches share identical pushed filters on
    ``topics`` size so Catalyst prunes non-transfer rows early.
    """
    guard = _not_removed(logs)
    if guard is not None:
        logs = logs.filter(guard)
    return (
        decode_erc721_transfers(logs)
        .unionByName(decode_erc1155_single_transfers(logs))
        .unionByName(decode_erc1155_batch_transfers(logs))
    )


def decode_uri_updates(logs: DataFrame) -> DataFrame:
    """ERC-1155 URI events → metadata-URL updates (reference T11).

    ``{id}`` is substituted with the decimal token id exactly as the
    reference does (``nft/evm/transformers.py:365``); if the id overflows
    Decimal(38,0) the substitution is skipped (URI kept verbatim) in line
    with the engine-wide clamp-to-null policy.
    """
    cond = _family_filter(ERC1155_URI_TOPIC, 2)
    guard = _not_removed(logs)
    if guard is not None:
        cond = f"{guard} AND {cond}"
    token = normalize_hex_sql(_topic(2))
    uri = decode_string_sql("data", 0)
    token_dec = f"CAST({hex_to_dec_sql(token)} AS STRING)"
    return logs.filter(cond).selectExpr(
        "address AS collection_id",
        "block_number",
        "transaction_index",
        "log_index",
        f"{_VERSION} AS attribute_version",
        f"{attribute_version_hex_sql('block_number', 'transaction_index', 'log_index')} AS attribute_version_hex",
        f"{token} AS token_id_hex",
        # an id that overflowed to NULL replaces '{id}' by itself
        f"replace({uri}, '{{id}}', coalesce({token_dec}, '{{id}}')) AS metadata_url",
    )
