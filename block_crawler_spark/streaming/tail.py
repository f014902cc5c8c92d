"""Continuous ingestion — the `nft tail` lifecycle (reference ST1–ST6).

The reference polls chain height every ``process_interval`` seconds and
processes one block at a time behind a ``trail_blocks`` confirmation lag,
persisting ``last_block_id`` after each block (``nft/bin/tail.py:146-192``).

Spark-first shape: a ``foreachBatch``-style micro-batch driver — each tick
computes the batch range ``[last+1, height − trail]``, runs the **same batch
crawl DAG** (``plans.crawl``) over that slice of bronze, and applies the
version-guarded merges.  Every sink is idempotent: transfers append with a
dedup key (K6), tokens merge version-guarded (K2–K5), and owners are
REBUILT for the batch's touched tokens from the committed transfers table
(round-2 fix, ADVICE r1 — additive delta re-application on retry would
double-count).  At-least-once delivery + idempotent sinks = effectively-
once.  Progress lives in the ``crawler_config`` control table (ST3);
``seed`` overwrites it (ST6).

A ``ChainSource`` abstracts where bronze comes from: fixtures/parquet
offline, the RPC reader (sources.rpc) live — the tail logic is identical.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.crawl import crawl_plan
from .store import SilverStore


class ChainSource(Protocol):
    def height(self) -> int: ...

    def logs(self, start_block: int, end_block: int) -> DataFrame: ...

    def blocks(self, start_block: int, end_block: int) -> DataFrame: ...


@dataclass
class TableChainSource:
    """Offline source: bronze logs/blocks tables filtered per batch range.

    The block-range predicate reaches the parquet scan (partition pruning at
    scale if bronze is partitioned by block bucket).
    """

    logs_df: DataFrame
    blocks_df: DataFrame

    def height(self) -> int:
        row = self.blocks_df.agg(F.max("number")).collect()[0]
        return row[0] if row[0] is not None else -1

    def logs(self, start_block: int, end_block: int) -> DataFrame:
        return self.logs_df.filter(F.col("block_number").between(start_block, end_block))

    def blocks(self, start_block: int, end_block: int) -> DataFrame:
        return self.blocks_df.filter(F.col("number").between(start_block, end_block))


@dataclass
class TailRunner:
    store: SilverStore
    source: ChainSource
    blockchain: str = "ethereum-mainnet"
    trail_blocks: int = 1  # reference default, tail.py:34-39
    process_interval: float = 10.0  # reference default, tail.py:41-47
    stats: "object | None" = None  # streaming.stats.StatsService (optional)

    def run_once(self) -> tuple[int, int] | None:
        """One micro-batch: returns the processed (start, end) or None if
        caught up."""
        dv, last = self.store.get_config(self.blockchain)
        target = self.source.height() - self.trail_blocks
        start = (last + 1) if last is not None else 0
        if target < start:
            return None

        logs = self.source.logs(start, target)
        blocks = self.source.blocks(start, target)
        # the batch's cached decode is released once the batch has committed
        with crawl_plan(self.store.spark, logs, blocks, blockchain=self.blockchain, data_version=dv) as silver:
            # the retry-safe sink sequence lives in ONE place — see its docstring
            self.store.apply_silver(silver, dv, blockchains=[self.blockchain])
            self.store.set_config(self.blockchain, dv, target)
        if self.stats is not None:
            # reference ticker fields (core/stats.py counters): committed
            # parquet row counts are metadata-cheap reads
            self.stats.increment("batches")
            self.stats.increment("blocks", target - start + 1)
            for table, key in (("token_transfers", "transfer_rows"), ("tokens", "token_rows"), ("owners", "owner_rows")):
                snap = self.store.read(table).count()
                self.stats.increment(key, snap - self.stats.get_count(key))
        return (start, target)

    def run(self, max_batches: int | None = None, sleep: bool = False) -> int:
        """Poll loop (ST1).  ``max_batches`` bounds test runs."""
        done = 0
        while max_batches is None or done < max_batches:
            processed = self.run_once()
            if processed is None:
                if not sleep:
                    break
                time.sleep(self.process_interval)
                continue
            done += 1
        return done


def seed(store: SilverStore, blockchain: str, last_block_id: int) -> None:
    """ST6 — set the resume point manually (reference ``nft/bin/seed.py``)."""
    dv, _ = store.get_config(blockchain)
    store.set_config(blockchain, dv, last_block_id)
