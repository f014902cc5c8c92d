"""Parquet-backed silver store with version-guarded merge semantics.

The reference's sink is DynamoDB with conditional writes (K1–K13); here the
same semantics run against plain parquet tables via ``operators.merge``.
On a transactional table format the merge functions map 1:1 onto ``MERGE
INTO`` (conditions documented per function in ``operators.merge``); the
parquet fallback rewrites the table — fine for silver-sized entity state.

Every version is written ``partitionBy("blockchain")`` — and the three
entity tables that grow with chain history (``tokens``,
``token_transfers``, ``owners``) carry a second partition level,
``cbucket = pmod(xxhash64(collection_id), n_buckets)``, so a merge that
declares its touched collections rewrites ONLY the touched buckets.  A
merge that declares its touched blockchains (all crawl/tail/CLI paths do —
they run per-chain, mirroring the reference's per-blockchain write budget,
``nft/bin/load.py:232-233``) rewrites ONLY those partition trees; with
bucket info (``apply_silver`` derives it from the batch's touched keys for
free) the per-merge rewrite shrinks further from O(chain) to O(touched
collection buckets) — the tail path's micro-batches touch a handful of
collections, so steady-state merge cost is bounded by batch size, not
corpus size.  Untouched ``blockchain=X`` trees and untouched
``cbucket=K`` subtrees are hard-linked file-by-file from the previous
version into the new one (same inode — zero data movement, byte-identical;
on an object store this becomes a metadata copy).  A store created before
the bucketed layout migrates transparently: the first pruned merge over a
non-bucketed version rewrites that table fully into the new layout, and
every later merge prunes.

The READ side is bounded the same way (round 7 — this was the last
O(history) step in the tail path): :meth:`read` takes optional
``blockchains=``/``buckets=`` filters applied to the partition columns
BEFORE normalization drops them, so Spark statically prunes the scan
(``PartitionFilters`` on ``blockchain`` and ``cbucket``).  The rebuild
scans (token/owner state recomputed from committed transfers) always prune
— they semi-join against the batch's touched keys, every transfer of a
touched key lives in that key's partitions; the existing-side merge reads
prune via :meth:`_read_for_merge` only when the same layout probe says the
write will prune too.  Steady-state tail cost is therefore O(touched
collection buckets) for reads AND writes.

Per-batch materialization (:meth:`apply_silver`): the batch's touched
token keys are derived ONCE and cached — the touched-buckets collect
materializes them, and the token and owner rebuilds' semi-joins (history to
recompute) and anti-joins (rows kept as they are) read that copy instead of
re-running a distinct over the batch — then unpersisted before the call
returns.  The decoded batch itself is cached by ``plans.crawl`` and
released by the caller once the batch has committed (``SilverTables`` is a
context manager).  The token rebuild takes a narrow metadata frame
(specification and URI rows per key) rather than a folded token table, and
folds it with the committed transfers in one group-by.  A table with no
committed version reads as an empty local relation, so Catalyst prunes
every merge against it (a fresh store's first load plans no existing-side
scan), and :meth:`get_config` answers a fresh store without a Spark job.

Durability (round-2, ADVICE r1 store.py:67): each rewrite lands in a fresh
``v-N`` directory under the table path, then a one-line ``_CURRENT`` pointer
file is flipped via ``os.replace`` (atomic on POSIX).  A crash or executor
loss at ANY point leaves the previous complete version readable — the
mini single-writer equivalent of a transactional table format's snapshot
commit.  Because the new version is written *beside* the files being read,
the read-modify-write needs no lineage break (no localCheckpoint, no
executor-memory copy of the table).  Superseded versions are pruned only
after the pointer flip succeeds.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..functions.sqlexpr import sql_str
from ..operators import merge as M
from ..schemas import (
    COLLECTION_SCHEMA,
    CRAWLER_CONFIG_SCHEMA,
    OWNER_SCHEMA,
    TOKEN_SCHEMA,
    TOKEN_TRANSFER_SCHEMA,
)

_SCHEMAS = {
    "collections": COLLECTION_SCHEMA,
    "tokens": TOKEN_SCHEMA,
    "token_transfers": TOKEN_TRANSFER_SCHEMA,
    "owners": OWNER_SCHEMA,
    "crawler_config": CRAWLER_CONFIG_SCHEMA,
}

KEYS = {
    "collections": ["blockchain", "collection_id"],
    "tokens": ["blockchain", "collection_id", "token_id_hex"],
    "token_transfers": ["blockchain", "collection_id", "attribute_version_hex", "token_id_hex", "batch_index"],
    "owners": ["blockchain", "account", "collection_id", "token_id_hex"],
    "crawler_config": ["blockchain"],
}

# history-sized tables get the collection-bucket partition level; collections
# and crawler_config stay blockchain-only (small, and bucketing them would
# just multiply file count)
_BUCKETED = frozenset({"tokens", "token_transfers", "owners"})


def _in_sql(col: str, values: list[str]) -> str:
    """``col IN (values)`` as SQL text (FALSE for no values): one JVM call
    per filter, however many values."""
    return f"{col} IN ({', '.join(values)})" if values else "FALSE"


@dataclass
class SilverStore:
    spark: SparkSession
    root: str
    n_buckets: int = 16

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _bucket_sql(self) -> str:
        """The collection-bucket partition value — a pure function of
        collection_id, so rows re-bucket identically on every rewrite."""
        return f"CAST(pmod(xxhash64(coalesce(collection_id, '')), {int(self.n_buckets)}) AS INT)"

    def _bucket_expr(self):
        return F.expr(self._bucket_sql())

    def touched_buckets(self, touched_keys: DataFrame) -> list[int]:
        """Distinct cbucket values of a touched-keys frame — at most
        ``n_buckets`` ints, collected once per batch and shared by all three
        entity-table merges."""
        return sorted(
            r["b"] for r in touched_keys.select(self._bucket_expr().alias("b")).distinct().collect()
        )

    def _current_version(self, table: str) -> str | None:
        ptr = os.path.join(self._path(table), "_CURRENT")
        try:
            with open(ptr) as f:
                v = f.read().strip()
            return v or None
        except OSError:
            return None

    def _prune_capability(self, table: str) -> tuple[bool, bool]:
        """(blockchain_prunable, bucket_prunable) of the CURRENT version —
        the single layout probe shared by :meth:`overwrite`'s write pruning
        and the merge paths' read pruning, so an existing-side read never
        prunes unless the write that follows prunes identically (a
        migration full-rewrite fed by a pruned read would drop the
        unscanned partitions' rows).

        * no current version → (False, False) — nothing to prune;
        * current version has bare ``*.parquet`` files (pre-partitioned
          layout) → (False, False) — its rows carry no partition dirs, a
          pruned rewrite would silently lose them;
        * bucketed table whose ``blockchain=X`` trees lack ``cbucket=``
          subtrees (pre-bucketed layout) → (False, False) — mixed directory
          depths would break partition discovery, so overwrite rewrites
          fully once;
        * otherwise (partitioned, and bucketed where applicable, or a
          committed empty table) → prunable.
        """
        cur = self._current_version(table)
        if cur is None:
            return False, False
        cur_path = os.path.join(self._path(table), cur)
        try:
            entries = os.listdir(cur_path)
        except OSError:
            return False, False
        part_dirs = [d for d in entries if d.startswith("blockchain=")]
        if not part_dirs and any(n.endswith(".parquet") for n in entries):
            return False, False
        bucketed = table in _BUCKETED
        if bucketed and part_dirs:
            cur_is_bucketed = all(
                any(s.startswith("cbucket=") for s in os.listdir(os.path.join(cur_path, d)))
                for d in part_dirs
            )
            if not cur_is_bucketed:
                return False, False
        return True, bucketed

    def _empty(self, table: str) -> DataFrame:
        """The canonical empty table as an empty local relation (``LIMIT
        0``): Catalyst prunes every join and union against it, so a merge
        into a fresh table plans no scan of it and runs no job for it."""
        fields = [(f.name, f.dataType.simpleString()) for f in _SCHEMAS[table].fields]
        if table == "token_transfers":
            # silver transfers carry the 1155 batch disambiguator
            fields.append(("batch_index", "int"))
        cols = ", ".join(f"CAST(NULL AS {t}) AS `{n}`" for n, t in fields)
        return self.spark.sql(f"SELECT {cols} LIMIT 0")

    def read(
        self,
        table: str,
        blockchains: Sequence[str] | None = None,
        buckets: Sequence[int] | None = None,
    ) -> DataFrame:
        """Scan the current version.  ``blockchains``/``buckets`` filter on
        the PARTITION columns before normalization drops them, so Spark
        statically prunes the scan to the named ``blockchain=X`` /
        ``cbucket=K`` trees (``PartitionFilters`` in the plan) — the read
        half of the O(touched) merge story (the write half is
        :meth:`overwrite`'s hard-link pruning).  Callers that prune must
        guarantee the filter is semantically safe: either the consumer
        filters to keys inside those partitions anyway (the rebuilds'
        semi-joins against touched keys), or the dropped rows would be
        hard-linked rather than rewritten (:meth:`_read_for_merge`)."""
        cur = self._current_version(table)
        if cur is None:
            return self._empty(table)
        try:
            df = self.spark.read.parquet(os.path.join(self._path(table), cur))
        except AnalysisException:
            # a committed empty partitioned write has no data files at all
            # (partitionBy emits nothing for zero rows) → canonical empty
            return self._empty(table)
        cols = df.columns
        if blockchains is not None and "blockchain" in cols:
            df = df.filter(_in_sql("blockchain", [sql_str(str(b)) for b in blockchains]))
        if buckets is not None and "cbucket" in cols:
            df = df.filter(_in_sql("cbucket", [str(int(b)) for b in buckets]))
        # normalize: partition discovery appends `blockchain` (and, on the
        # bucketed tables, `cbucket`) last and type-infers them; restore
        # declared column order, pin blockchain to string, drop the derived
        # bucket column (it is recomputed from collection_id on every write)
        ordered = [f.name for f in _SCHEMAS[table].fields if f.name in cols]
        extras = [c for c in cols if c not in ordered and c != "cbucket"]  # e.g. batch_index
        return df.selectExpr(
            *["CAST(blockchain AS STRING) AS blockchain" if c == "blockchain" else f"`{c}`" for c in ordered + extras]
        )

    def _read_for_merge(
        self,
        table: str,
        blockchains: Sequence[str] | None,
        buckets: Sequence[int] | None,
    ) -> DataFrame:
        """Existing-side read for a merge: pruned to the touched partitions
        exactly when the overwrite that follows will prune them (untouched
        partitions hard-link, so their rows never need computing); a full
        scan otherwise (first write, or a layout-migration full rewrite,
        where every existing row must flow into the new version)."""
        prune_ok, bucket_ok = self._prune_capability(table)
        prune = blockchains is not None and prune_ok
        return self.read(
            table,
            blockchains=blockchains if prune else None,
            buckets=buckets if (prune and bucket_ok and buckets is not None) else None,
        )

    @staticmethod
    def _link_tree(src: str, dst: str) -> None:
        """Recreate ``src`` under ``dst`` hard-linking every file (same
        inode — byte-identical, no data copied); falls back to a real copy
        on filesystems without links (or across devices)."""
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            out = os.path.join(dst, rel) if rel != "." else dst
            os.makedirs(out, exist_ok=True)
            for name in files:
                s, d = os.path.join(root, name), os.path.join(out, name)
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)

    def overwrite(
        self,
        table: str,
        df: DataFrame,
        touched_blockchains: Sequence[str] | None = None,
        touched_buckets: Sequence[int] | None = None,
    ) -> None:
        """Snapshot-commit rewrite: write ``v-N+1`` beside the current
        version, flip ``_CURRENT`` atomically, prune superseded versions.

        With ``touched_blockchains`` the rewrite is partition-pruned:
        only those blockchains' rows are computed and written; every other
        ``blockchain=X`` tree is hard-linked from the current version
        (dynamic-partition-overwrite semantics on the snapshot layout).  On
        the bucketed tables, ``touched_buckets`` (cbucket values of the
        batch's touched collections — :meth:`touched_buckets`) prunes one
        level deeper: within a touched blockchain only the touched
        ``cbucket=K`` subtrees are rewritten, the rest hard-link.  A touched
        partition that ends the merge with zero rows has its directory
        dropped — correct delete semantics.  ``None`` (or a current version
        predating the partitioned layout) rewrites fully; a current version
        predating the BUCKETED layout triggers a one-time full rewrite of
        the touched table into the new layout (mixed directory depths would
        break partition discovery).

        Retention is one commit deep: ``v-N`` (the version current until
        this flip) survives until the NEXT overwrite, so a concurrent
        reader — or a lazily-evaluated DataFrame handle taken before the
        flip — can still scan its files; only ``v-N-1`` and older are
        deleted now.  The same grace window object stores and table
        formats give their snapshot readers.  Pruning old versions never
        invalidates linked files: links share inodes, so data survives
        until its last referencing version is deleted.
        """
        base = self._path(table)
        os.makedirs(base, exist_ok=True)
        cur = self._current_version(table)
        nxt = f"v-{(int(cur.split('-')[1]) if cur else 0) + 1}"
        cur_path = os.path.join(base, cur) if cur else None
        # a pre-partitioned-layout version has bare part files → must rewrite
        # fully or its unpartitioned rows would be silently dropped
        cur_partition_dirs = (
            [d for d in os.listdir(cur_path) if d.startswith("blockchain=")] if cur_path else []
        )
        # ONE layout probe decides both write pruning here and read pruning
        # in _read_for_merge — they must never diverge (a pruned read feeding
        # a full rewrite would drop the unscanned partitions' rows)
        prune_ok, bucket_ok = self._prune_capability(table)
        prune = touched_blockchains is not None and prune_ok
        bucketed = table in _BUCKETED
        bucket_prune = prune and bucket_ok and touched_buckets is not None
        out = df
        if prune:
            out = df.filter(_in_sql("blockchain", [sql_str(str(b)) for b in touched_blockchains]))
            if bucket_prune:
                out = out.filter(_in_sql(self._bucket_sql(), [str(int(b)) for b in touched_buckets]))
        # The plan may read the current version's files; they stay in place
        # until after the pointer flip, so no lineage break is needed.
        part_cols = ["blockchain", "cbucket"] if bucketed else ["blockchain"]
        if bucketed:
            out = out.withColumn("cbucket", self._bucket_expr())
        out.write.mode("overwrite").partitionBy(*part_cols).parquet(os.path.join(base, nxt))
        if prune:
            touched = set(touched_blockchains)
            tb = {int(b) for b in touched_buckets} if bucket_prune else None
            for d in cur_partition_dirs:
                if unquote(d.split("=", 1)[1]) not in touched:
                    self._link_tree(os.path.join(cur_path, d), os.path.join(base, nxt, d))
                elif tb is not None:
                    for s in os.listdir(os.path.join(cur_path, d)):
                        if s.startswith("cbucket=") and int(unquote(s.split("=", 1)[1])) not in tb:
                            self._link_tree(
                                os.path.join(cur_path, d, s), os.path.join(base, nxt, d, s)
                            )
        tmp = os.path.join(base, "_CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(nxt)
        os.replace(tmp, os.path.join(base, "_CURRENT"))  # atomic commit point
        for d in os.listdir(base):
            if d.startswith("v-") and d not in (nxt, cur):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)

    # -- merge operations (K1-K9) ------------------------------------------
    def upsert_collections(self, updates: DataFrame, blockchains: Sequence[str] | None = None) -> None:
        self.overwrite(
            "collections",
            M.versioned_upsert(
                self._read_for_merge("collections", blockchains, None), updates, KEYS["collections"]
            ),
            touched_blockchains=blockchains,
        )

    def upsert_tokens(
        self,
        updates: DataFrame,
        blockchains: Sequence[str] | None = None,
        buckets: Sequence[int] | None = None,
    ) -> None:
        """Per-field merge (K2+K3+K4+K5) — see ``merge.token_state_merge``.

        NOT retry-safe: the K4 additive quantity double-counts if the same
        batch is applied twice.  The crawl/tail paths use
        :meth:`rebuild_tokens` instead; this remains the field-merge API pin
        for callers that guarantee exactly-once batch delivery.
        """
        existing = self._read_for_merge("tokens", blockchains, buckets)
        if "specification" not in existing.columns:
            existing = existing.withColumn("specification", F.lit(None).cast("string"))
        self.overwrite(
            "tokens",
            M.token_state_merge(existing, updates),
            touched_blockchains=blockchains,
            touched_buckets=buckets,
        )

    def rebuild_tokens(
        self,
        batch_meta: DataFrame,
        touched_keys: DataFrame,
        blockchains: Sequence[str] | None = None,
        buckets: Sequence[int] | None = None,
    ) -> None:
        """Idempotent tokens update (the retry-safe A1 path, parallel to
        :meth:`rebuild_owners`): replace every token row of the touched keys
        with state recomputed from the idempotent ``token_transfers`` table.
        A retried batch — or a bulk crawl re-run over the same bronze —
        rewrites the same values instead of re-adding additive quantities.

        ``folds.token_state_from_silver`` folds the touched keys' committed
        transfers together with their metadata rows — the stored ones plus
        ``batch_meta`` (keys, ``specification``, ``metadata_url``,
        ``metadata_url_version_hex``, ``data_version``; any number of rows
        per key — the crawl plan's ``SilverTables.token_meta``).
        """
        from ..operators.folds import token_state_from_silver

        keys = ["blockchain", "collection_id", "token_id_hex"]
        existing = self._read_for_merge("tokens", blockchains, buckets)
        if "specification" not in existing.columns:
            existing = existing.withColumn("specification", F.lit(None).cast("string"))
        kept = existing.join(touched_keys, keys, "left_anti")
        meta_cols = ["specification", "metadata_url", "metadata_url_version_hex", "data_version"]
        meta = existing.join(touched_keys, keys, "left_semi").select(*keys, *meta_cols).unionByName(
            batch_meta.select(*keys, *meta_cols)
        )
        # ALWAYS safe to prune this scan (no capability gate): the fold
        # semi-joins against touched_keys, and every transfer of a touched
        # key lives in that key's blockchain partition and cbucket (a pure
        # function of collection_id) — on a pre-bucketed layout read()
        # simply skips the missing partition filter
        rebuilt = token_state_from_silver(
            self.read("token_transfers", blockchains=blockchains, buckets=buckets), meta, touched_keys
        )
        self.overwrite(
            "tokens",
            kept.unionByName(rebuilt, allowMissingColumns=True),
            touched_blockchains=blockchains,
            touched_buckets=buckets,
        )

    def apply_silver(
        self, silver, data_version: int, blockchains: Sequence[str] | None = None
    ) -> None:
        """The retry-safe sink sequence for one crawl/tail/stream batch —
        THE single definition of the idempotence contract (it lived in three
        call sites before the round-4 review):

        1. commit transfers first (keyed idempotent append) — the rebuilds
           below read the COMMITTED table;
        2. derive the batch's touched token keys;
        3. rebuild tokens, then owners, for those keys from committed
           history — pure functions of the transfers table, so any retry
           (task, stage, foreachBatch checkpoint recovery, full re-crawl)
           rewrites identical values.

        ``silver`` is a ``plans.crawl.SilverTables``-shaped object (its
        ``token_transfers`` and ``token_meta`` are read); config
        (last_block_id) commits stay with the caller, AFTER this returns.
        """
        from ..operators.folds import owner_balances_from_silver

        # the batch's touched keys, derived ONCE and cached: the bucket
        # collect below materializes them, and every anti/semi join of the
        # rebuilds reads that copy instead of re-running a distinct over the
        # batch
        touched = silver.token_transfers.select("blockchain", "collection_id", "token_id_hex").distinct().cache()
        try:
            # one tiny job (≤ n_buckets rows to the driver) turns every
            # rewrite below from O(touched chain) into O(touched collection
            # buckets)
            buckets = self.touched_buckets(touched) if blockchains is not None else None
            self.append_transfers(silver.token_transfers, blockchains=blockchains, buckets=buckets)
            self.rebuild_tokens(silver.token_meta, touched, blockchains=blockchains, buckets=buckets)
            balances = owner_balances_from_silver(
                self.read("token_transfers", blockchains=blockchains, buckets=buckets), touched
            )
            self.rebuild_owners(
                balances.withColumn("data_version", F.lit(data_version)),
                touched,
                blockchains=blockchains,
                buckets=buckets,
            )
        finally:
            touched.unpersist()

    def append_transfers(
        self,
        updates: DataFrame,
        blockchains: Sequence[str] | None = None,
        buckets: Sequence[int] | None = None,
    ) -> None:
        self.overwrite(
            "token_transfers",
            M.idempotent_append(
                self._read_for_merge("token_transfers", blockchains, buckets),
                updates,
                KEYS["token_transfers"],
            ),
            touched_blockchains=blockchains,
            touched_buckets=buckets,
        )

    def merge_owner_deltas(
        self,
        deltas: DataFrame,
        blockchains: Sequence[str] | None = None,
        buckets: Sequence[int] | None = None,
    ) -> None:
        """K7/K8: additive balance merge, zero balances dropped.

        NOT retry-safe on its own: re-applying the same batch of deltas
        double-counts (ADVICE r1).  The crawl/tail paths use
        :meth:`rebuild_owners` instead; this remains the K7 additive-merge
        API pin for callers that guarantee exactly-once delta delivery.
        """
        self.overwrite(
            "owners",
            M.additive_upsert(
                self._read_for_merge("owners", blockchains, buckets),
                deltas,
                KEYS["owners"],
                drop_zero=True,
            ),
            touched_blockchains=blockchains,
            touched_buckets=buckets,
        )

    def rebuild_owners(
        self,
        balances: DataFrame,
        touched_keys: DataFrame,
        blockchains: Sequence[str] | None = None,
        buckets: Sequence[int] | None = None,
    ) -> None:
        """Idempotent owners update (the retry-safe K7 path): replace every
        owner row of the touched token keys with balances recomputed from the
        idempotent ``token_transfers`` table.  A retried batch rewrites the
        same values instead of re-adding deltas."""
        existing = self._read_for_merge("owners", blockchains, buckets)
        kept = existing.join(touched_keys, ["blockchain", "collection_id", "token_id_hex"], "left_anti")
        self.overwrite(
            "owners",
            kept.unionByName(balances, allowMissingColumns=True),
            touched_blockchains=blockchains,
            touched_buckets=buckets,
        )

    def rewind(self, blockchain: str, to_block: int) -> None:
        """Reorg REPAIR (beyond the reference, which only *avoids* reorgs
        via the trail-blocks lag, ``nft/bin/tail.py:34-39``): drop every
        transfer of ``blockchain`` above ``to_block`` and rebuild
        tokens/owners for the affected keys from the surviving committed
        history — then a re-crawl/tail from ``to_block + 1`` ingests the
        canonical branch.  Pure reuse of the idempotent rebuild machinery:
        a token whose every transfer was orphaned (mint itself rewound)
        disappears; balances re-derive exactly; an untouched blockchain's
        partitions are untouched (pruned rewrite).

        Metadata caveat: ``specification``/``metadata_url`` survive the
        rewind (they merge from existing rows and are not block-attributed)
        — a URI observed only on the orphaned branch persists until the
        canonical branch overwrites it under K3's version rule.

        ``last_block_id`` is clamped to ``to_block`` so the next tail
        resumes at the fork point.
        """
        keys = ["blockchain", "collection_id", "token_id_hex"]
        # kept must retain other blockchains' rows iff the overwrite below
        # will NOT hard-link them — the shared capability probe decides both
        transfers = self._read_for_merge("token_transfers", [blockchain], None)
        mine = F.col("blockchain") == blockchain
        touched = transfers.filter(mine & (F.col("block_id") > to_block)).select(*keys).distinct()
        # collect the touched buckets BEFORE the transfers overwrite: every
        # row the rewind drops or rebuilds belongs to a touched key, so
        # untouched buckets stay linkable
        buckets = self.touched_buckets(touched)
        kept = transfers.filter(~mine | (F.col("block_id") <= to_block))
        self.overwrite("token_transfers", kept, touched_blockchains=[blockchain], touched_buckets=buckets)
        # `touched` still scans the pre-rewind version's files — the
        # one-commit retention window exists exactly for handles like this
        existing_tokens = self.read("tokens")
        if "specification" not in existing_tokens.columns:
            # the canonical empty table (fresh store / reset) lacks the
            # probe-derived column, same guard rebuild_tokens applies
            existing_tokens = existing_tokens.withColumn(
                "specification", F.lit(None).cast("string")
            )
        no_batch = existing_tokens.select(
            *keys, "specification", "metadata_url", "metadata_url_version_hex", "data_version"
        ).limit(0)
        self.rebuild_tokens(no_batch, touched, blockchains=[blockchain], buckets=buckets)
        from ..operators.folds import owner_balances_from_silver

        dv, last = self.get_config(blockchain)
        balances = owner_balances_from_silver(
            self.read("token_transfers", blockchains=[blockchain], buckets=buckets), touched
        )
        self.rebuild_owners(
            balances.withColumn("data_version", F.lit(dv)),
            touched,
            blockchains=[blockchain],
            buckets=buckets,
        )
        if last is not None and last > to_block:
            self.set_config(blockchain, dv, to_block)

    # -- control table (K12) -----------------------------------------------
    def get_config(self, blockchain: str) -> tuple[int, int | None]:
        """(data_version, last_block_id) — data_version starts at 1."""
        if self._current_version("crawler_config") is None:
            return 1, None  # nothing committed yet: answered without a Spark job
        # partition-level prune (blockchains=) + the row filter for the
        # pre-partitioned-layout case where blockchain is a data column
        rows = (
            self.read("crawler_config", blockchains=[blockchain])
            .filter(F.col("blockchain") == blockchain)
            .collect()
        )
        if not rows:
            return 1, None
        return rows[0]["data_version"], rows[0]["last_block_id"]

    def set_config(self, blockchain: str, data_version: int, last_block_id: int | None) -> None:
        # a literal row, not createDataFrame: scanning a Python-side RDD
        # starts Python workers, ~2 s per call on a cold pool
        last = "NULL" if last_block_id is None else int(last_block_id)
        updates = self.spark.sql(
            f"SELECT {sql_str(blockchain)} AS blockchain, CAST({int(data_version)} AS BIGINT) AS data_version, "
            f"CAST({last} AS BIGINT) AS last_block_id"
        )
        existing = self.read("crawler_config").filter(F.col("blockchain") != blockchain)
        self.overwrite(
            "crawler_config",
            existing.unionByName(updates),
            touched_blockchains=[blockchain],
        )

    def increment_data_version(self, blockchain: str) -> int:
        """Atomic-enough for a single-writer driver: the reference's
        ``data_version + 1`` run-epoch bump (``shared.py:153-184``)."""
        dv, last = self.get_config(blockchain)
        new = dv + 1
        self.set_config(blockchain, new, last)
        return new

    def reset(self) -> None:
        """K13 — drop all tables."""
        import shutil

        if os.path.exists(self.root):
            shutil.rmtree(self.root)
