"""Seeded synthetic chain and its independent oracle.

Pure Python: the generator emits bronze ``logs``/``blocks`` rows (ERC-721
mint/transfer/burn with consistent ownership, ERC-1155 single, batch and
URI events, ERC-20 decoys) over Zipf-skewed collections, and keeps its own
ledger of every decoded token movement.  :meth:`Chain.expected` folds that
ledger up to a block height into the state the silver store must hold —
token quantities, original/current owners and per-account balances —
without touching Spark or the engine's fold code.

Only the ABI encoders come from ``sources.chainfix``; the ownership rules
and the fold are written here from the ERC specifications.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from block_crawler_spark.sources.chainfix import (
    ZERO,
    enc_string,
    enc_uint,
    enc_uint_array_pair,
    topic_addr,
    topic_uint,
)
from block_crawler_spark.schemas import (
    ERC721_TRANSFER_TOPIC,
    ERC1155_TRANSFER_BATCH_TOPIC,
    ERC1155_TRANSFER_SINGLE_TOPIC,
    ERC1155_URI_TOPIC,
)

BLOCKCHAIN = "ethereum-mainnet"
GENESIS_TS = 1_600_000_000
BLOCK_SECONDS = 12

LOG_ARROW = pa.schema(
    [
        pa.field("block_number", pa.int64(), False),
        pa.field("transaction_index", pa.int32(), False),
        pa.field("log_index", pa.int32(), False),
        pa.field("transaction_hash", pa.string()),
        pa.field("address", pa.string(), False),
        pa.field("topics", pa.list_(pa.string()), False),
        pa.field("data", pa.string()),
        pa.field("removed", pa.bool_()),
    ]
)
BLOCK_ARROW = pa.schema(
    [
        pa.field("number", pa.int64(), False),
        pa.field("hash", pa.string(), False),
        pa.field("parent_hash", pa.string()),
        pa.field("miner", pa.string()),
        pa.field("timestamp", pa.int64(), False),
        pa.field("gas_limit", pa.int64()),
        pa.field("gas_used", pa.int64()),
        pa.field("size", pa.int64()),
        pa.field("difficulty", pa.int64()),
        pa.field("transaction_hashes", pa.list_(pa.string())),
    ]
)


def _addr(prefix: int, i: int) -> str:
    return "0x" + f"{prefix:08x}{i:032x}"


def token_hex(token_id: int) -> str:
    return "0x" + f"{token_id:064x}"


class _Pool:
    """Insertion-ordered set with O(1) add, remove and seeded choice."""

    def __init__(self) -> None:
        self.items: list = []
        self.pos: dict = {}

    def add(self, x) -> None:
        if x not in self.pos:
            self.pos[x] = len(self.items)
            self.items.append(x)

    def remove(self, x) -> None:
        i = self.pos.pop(x)
        last = self.items.pop()
        if i < len(self.items):
            self.items[i] = last
            self.pos[last] = i

    def choice(self, rng: random.Random):
        return self.items[rng.randrange(len(self.items))] if self.items else None


@dataclass
class Move:
    """One decoded token movement, as the ledger records it."""

    block: int
    collection: str
    token_id: int
    frm: str
    to: str
    qty: int
    erc721: bool


@dataclass
class Chain:
    """A generated chain: bronze rows plus the movement ledger."""

    logs: list[dict] = field(default_factory=list)
    blocks: list[dict] = field(default_factory=list)
    moves: list[Move] = field(default_factory=list)

    @property
    def height(self) -> int:
        return self.blocks[-1]["number"]

    def write(self, out_dir: str, files: int = 4) -> tuple[str, str]:
        """Write ``logs``/``blocks`` as parquet directories of ``files``
        files each; returns their paths."""
        paths = []
        for name, rows, schema in (("logs", self.logs, LOG_ARROW), ("blocks", self.blocks, BLOCK_ARROW)):
            path = f"{out_dir}/{name}"
            step = max(1, -(-len(rows) // files))
            os.makedirs(path, exist_ok=True)
            for i in range(0, len(rows), step):
                table = pa.Table.from_pylist(rows[i : i + step], schema=schema)
                pq.write_table(table, f"{path}/part-{i // step:03d}.parquet")
            paths.append(path)
        return paths[0], paths[1]

    def expected(self, max_block: int | None = None) -> tuple[dict, dict]:
        """Fold the ledger up to ``max_block`` (inclusive).

        Returns ``(tokens, owners)``:

        * ``tokens[(collection, token_hex)] = (quantity, original_owner,
          current_owner)`` — quantity is minted minus burned; the original
          owner is the first mint's recipient; the current owner (ERC-721
          only, else None) is the last mint or transfer recipient;
        * ``owners[(account, collection, token_hex)] = balance`` for every
          non-zero balance.
        """
        tokens: dict[tuple[str, str], list] = {}
        owners: dict[tuple[str, str, str], int] = {}
        for m in self.moves:
            if max_block is not None and m.block > max_block:
                break
            key = (m.collection, token_hex(m.token_id))
            st = tokens.setdefault(key, [0, None, None])
            if m.frm == ZERO:
                st[0] += m.qty
                if st[1] is None:
                    st[1] = m.to
            elif m.to == ZERO:
                st[0] -= m.qty
            if m.erc721 and m.to != ZERO:
                st[2] = m.to
            for acct, delta in ((m.to, m.qty), (m.frm, -m.qty)):
                if acct == ZERO:
                    continue
                k = (acct, key[0], key[1])
                bal = owners.get(k, 0) + delta
                if bal:
                    owners[k] = bal
                else:
                    owners.pop(k, None)
        return {k: tuple(v) for k, v in tokens.items()}, owners


class ChainGenerator:
    """Zipf-skewed NFT traffic with consistent ownership.

    Every transfer moves a token (or an ERC-1155 amount) its sender really
    holds, so the fold the engine computes has one right answer.
    """

    def __init__(
        self,
        seed: int,
        n721: int = 24,
        n1155: int = 8,
        n_accounts: int = 400,
        zipf_s: float = 1.1,
        logs_per_block: int = 20,
    ) -> None:
        self.rng = random.Random(seed)
        self.c721 = [_addr(0x721, i) for i in range(n721)]
        self.c1155 = [_addr(0x1155, i) for i in range(n1155)]
        self.erc20 = [_addr(0x20, i) for i in range(4)]
        self.accounts = [_addr(0xACC, i) for i in range(n_accounts)]
        self.w721 = [1.0 / (i + 1) ** zipf_s for i in range(n721)]
        self.w1155 = [1.0 / (i + 1) ** zipf_s for i in range(n1155)]
        self.logs_per_block = logs_per_block
        self.owner_of: dict[tuple[str, int], str] = {}  # live ERC-721 tokens
        self.live: dict[str, _Pool] = {c: _Pool() for c in self.c721}
        self.holders: dict[str, _Pool] = {c: _Pool() for c in self.c1155}
        self.burned: dict[str, list[int]] = {}  # ERC-721 ids free for re-mint
        self.next_id: dict[str, int] = {}
        self.holdings: dict[tuple[str, str], dict[int, int]] = {}  # (coll, acct) -> id -> qty
        self.minted1155: dict[str, list[int]] = {}
        self.chain = Chain()
        self.block = 0
        self.pos = 0  # log position inside the block

    # -- bronze row emission ----------------------------------------------
    def _emit(self, address: str, topics: list[str], data: str) -> None:
        b, i = self.block, self.pos
        self.pos += 1
        tx, li = divmod(i, 3)
        self.chain.logs.append(
            {
                "block_number": b,
                "transaction_index": tx,
                "log_index": i,
                "transaction_hash": "0x" + f"{(b << 24) | (tx << 8):064x}",
                "address": address,
                "topics": topics,
                "data": data,
                "removed": False,
            }
        )

    def _move(self, coll: str, tid: int, frm: str, to: str, qty: int, erc721: bool) -> None:
        self.chain.moves.append(Move(self.block, coll, tid, frm, to, qty, erc721))

    def _close_block(self) -> None:
        b = self.block
        self.chain.blocks.append(
            {
                "number": b,
                "hash": "0x" + f"{b:064x}",
                "parent_hash": "0x" + f"{b - 1:064x}",
                "miner": _addr(0x999, 0),
                "timestamp": GENESIS_TS + BLOCK_SECONDS * b,
                "gas_limit": 30_000_000,
                "gas_used": 1_000_000 + self.pos,
                "size": 5_000,
                "difficulty": 1,
                "transaction_hashes": [],
            }
        )
        self.block += 1
        self.pos = 0

    # -- event kinds -------------------------------------------------------
    def _erc721(self) -> None:
        rng = self.rng
        coll = rng.choices(self.c721, self.w721)[0]
        live = self.live[coll]
        r = rng.random()
        if live.items and r < 0.62:
            tid = live.choice(rng)
            frm = self.owner_of[(coll, tid)]
            to = rng.choice(self.accounts)
            while to == frm:
                to = rng.choice(self.accounts)
            self.owner_of[(coll, tid)] = to
        elif live.items and r < 0.72:
            tid = live.choice(rng)
            frm, to = self.owner_of.pop((coll, tid)), ZERO
            live.remove(tid)
            self.burned.setdefault(coll, []).append(tid)
        else:
            free = self.burned.get(coll)
            if free and rng.random() < 0.3:
                tid = free.pop(rng.randrange(len(free)))
            elif rng.random() < 0.03 and (coll, big := (1 << 255) + rng.randrange(1 << 32)) not in self.owner_of:
                tid = big  # uint256 beyond Decimal(38,0)
            else:
                tid = self.next_id.get(coll, 1)
                self.next_id[coll] = tid + 1
            frm, to = ZERO, rng.choice(self.accounts)
            self.owner_of[(coll, tid)] = to
            live.add(tid)
        self._emit(coll, [ERC721_TRANSFER_TOPIC, topic_addr(frm), topic_addr(to), topic_uint(tid)], "0x")
        self._move(coll, tid, frm, to, 1, True)

    def _erc1155_single(self) -> None:
        rng = self.rng
        coll = rng.choices(self.c1155, self.w1155)[0]
        op = rng.choice(self.accounts)
        holder, ids = self._holder(coll)
        r = rng.random()
        if holder is not None and r < 0.55:
            tid = rng.choice(sorted(ids))
            qty = rng.randint(1, ids[tid])
            frm, to = holder, rng.choice(self.accounts)
            if to == frm:
                to = ZERO
        elif holder is not None and r < 0.65:
            tid = rng.choice(sorted(ids))
            qty = ids[tid]  # burn the whole holding: balance nets to zero
            frm, to = holder, ZERO
        else:
            minted = self.minted1155.setdefault(coll, [])
            if minted and rng.random() < 0.5:
                tid = rng.choice(minted)
            else:
                tid = 1000 + len(minted)
                minted.append(tid)
            frm, to, qty = ZERO, rng.choice(self.accounts), rng.randint(1, 100)
        self._credit(coll, frm, to, tid, qty)
        self._emit(
            coll,
            [ERC1155_TRANSFER_SINGLE_TOPIC, topic_addr(op), topic_addr(frm), topic_addr(to)],
            "0x" + enc_uint(tid) + enc_uint(qty),
        )
        self._move(coll, tid, frm, to, qty, False)

    def _erc1155_batch(self) -> None:
        rng = self.rng
        coll = rng.choices(self.c1155, self.w1155)[0]
        op = rng.choice(self.accounts)
        holder, held = self._holder(coll)
        items: list[tuple[int, int]] = []
        if holder is not None and rng.random() < 0.5:
            frm, to = holder, rng.choice(self.accounts)
            if to == frm:
                to = ZERO
            avail = dict(held)
            for tid in rng.sample(sorted(avail), min(len(avail), rng.randint(1, 3))):
                # the same id twice in one batch, each half of the amount
                q = avail[tid]
                if q >= 2 and rng.random() < 0.3:
                    items += [(tid, q // 2), (tid, q // 2)]
                else:
                    items.append((tid, rng.randint(1, q)))
        else:
            frm, to = ZERO, rng.choice(self.accounts)
            minted = self.minted1155.setdefault(coll, [])
            for _ in range(rng.randint(2, 4)):
                tid = 1000 + len(minted)
                minted.append(tid)
                items.append((tid, rng.randint(1, 50)))
            items.append((items[0][0], 1))  # same id twice in one batch
        for tid, qty in items:
            self._credit(coll, frm, to, tid, qty)
            self._move(coll, tid, frm, to, qty, False)
        self._emit(
            coll,
            [ERC1155_TRANSFER_BATCH_TOPIC, topic_addr(op), topic_addr(frm), topic_addr(to)],
            enc_uint_array_pair([t for t, _ in items], [q for _, q in items]),
        )

    def _erc1155_uri(self) -> None:
        coll = self.rng.choices(self.c1155, self.w1155)[0]
        minted = self.minted1155.get(coll)
        if not minted:
            return self._erc20_decoy()
        tid = self.rng.choice(minted)
        self._emit(coll, [ERC1155_URI_TOPIC, topic_uint(tid)], enc_string(f"ipfs://meta/{self.block}/{{id}}.json"))

    def _erc20_decoy(self) -> None:
        rng = self.rng
        frm, to = rng.choice(self.accounts), rng.choice(self.accounts)
        self._emit(
            rng.choice(self.erc20),
            [ERC721_TRANSFER_TOPIC, topic_addr(frm), topic_addr(to)],
            "0x" + enc_uint(rng.randrange(1, 10**18)),
        )

    def _holder(self, coll: str) -> tuple[str | None, dict[int, int]]:
        acct = self.holders[coll].choice(self.rng)
        if acct is None:
            return None, {}
        return acct, self.holdings[(coll, acct)]

    def _credit(self, coll: str, frm: str, to: str, tid: int, qty: int) -> None:
        for acct, delta in ((frm, -qty), (to, qty)):
            if acct == ZERO:
                continue
            h = self.holdings.setdefault((coll, acct), {})
            bal = h.get(tid, 0) + delta
            if bal:
                h[tid] = bal
            else:
                h.pop(tid, None)
            if h:
                self.holders[coll].add(acct)
            elif acct in self.holders[coll].pos:
                self.holders[coll].remove(acct)

    # -- generation ----------------------------------------------------------
    def generate(self, n_logs: int) -> Chain:
        """Append about ``n_logs`` logs (whole blocks) to the chain."""
        kinds = (self._erc721, self._erc1155_single, self._erc1155_batch, self._erc1155_uri, self._erc20_decoy)
        weights = (0.55, 0.2, 0.08, 0.05, 0.12)
        target = len(self.chain.logs) + n_logs
        while len(self.chain.logs) < target:
            for _ in range(self.logs_per_block):
                self.rng.choices(kinds, weights)[0]()
            self._close_block()
        return self.chain
