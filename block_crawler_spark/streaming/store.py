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
on an object store this becomes a metadata copy).

Every table has ONE declared stored schema (:data:`STORED_SCHEMAS`) and one
layout.  :meth:`overwrite` projects each write onto that schema and
:meth:`read` scans each committed version with it (``spark.read.schema``),
so a read never runs a schema-inference job and writes and reads agree by
construction.  ``read``'s optional ``blockchains=``/``buckets=`` filters
land on the partition columns, so Spark statically prunes the scan
(``PartitionFilters`` on ``blockchain`` and ``cbucket``).  Every merge reads
the existing side with the same pruning its rewrite uses — untouched
partitions hard-link, so their rows never need computing — and the
rebuild scans (token/owner state recomputed from committed transfers)
prune the same way: they semi-join against the batch's touched keys, and
every transfer of a touched key lives in that key's partitions.
Steady-state tail cost is therefore O(touched collection buckets) for
reads AND writes.  A current version that is not in this layout (bare
part files, or ``blockchain=`` trees without ``cbucket=`` subtrees on a
bucketed table) is rejected with an error when it is resolved, by reads
and writes alike: reading it with the declared partition columns would
miss rows, and a pruned rewrite over it would drop them.

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
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..functions.sqlexpr import sql_str
from ..operators import merge as M
from ..schemas import (
    COLLECTION_SCHEMA,
    CRAWLER_CONFIG_SCHEMA,
    OWNER_SCHEMA,
    TOKEN_SCHEMA,
    TOKEN_TRANSFER_SCHEMA,
)

# The stored columns of every table, in read order: the entity schemas, plus
# the tokens' probe-derived specification and the transfers' ERC-1155 batch
# disambiguator.  Every write is projected onto these and every read scans
# with them.
STORED_SCHEMAS = {
    "collections": COLLECTION_SCHEMA,
    "tokens": StructType([*TOKEN_SCHEMA.fields, StructField("specification", StringType(), True)]),
    "token_transfers": StructType([*TOKEN_TRANSFER_SCHEMA.fields, StructField("batch_index", IntegerType(), True)]),
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
        """The committed version's directory name (None before the first
        commit).  Raises when that version is not in the store's layout —
        bare part files, or ``blockchain=`` trees without ``cbucket=``
        subtrees on a bucketed table: a read with the declared partition
        columns would miss its rows, and a pruned rewrite would drop them."""
        ptr = os.path.join(self._path(table), "_CURRENT")
        try:
            with open(ptr) as f:
                v = f.read().strip()
        except OSError:
            return None
        if not v:
            return None
        path = os.path.join(self._path(table), v)
        entries = os.listdir(path)
        trees = [os.path.join(path, d) for d in entries if d.startswith("blockchain=")]
        if any(n.endswith(".parquet") for n in entries) or (
            table in _BUCKETED
            and not all(any(s.startswith("cbucket=") for s in os.listdir(t)) for t in trees)
        ):
            raise RuntimeError(f"{path}: version is not in the silver store's partitioned layout")
        return v

    def _empty(self, table: str) -> DataFrame:
        """The canonical empty table as an empty local relation (``LIMIT
        0``): Catalyst prunes every join and union against it, so a merge
        into a fresh table plans no scan of it and runs no job for it."""
        cols = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`" for f in STORED_SCHEMAS[table].fields
        )
        return self.spark.sql(f"SELECT {cols} LIMIT 0")

    def read(
        self,
        table: str,
        blockchains: Sequence[str] | None = None,
        buckets: Sequence[int] | None = None,
    ) -> DataFrame:
        """Scan the current version with the declared schema (no inference
        job).  ``blockchains``/``buckets`` filter on the PARTITION columns,
        so Spark statically prunes the scan to the named ``blockchain=X`` /
        ``cbucket=K`` trees (``PartitionFilters`` in the plan) — the read
        half of the O(touched) merge story (the write half is
        :meth:`overwrite`'s hard-link pruning).  Callers that prune must
        guarantee the filter is semantically safe: either the consumer
        filters to keys inside those partitions anyway (the rebuilds'
        semi-joins against touched keys), or the dropped rows are
        hard-linked rather than rewritten (a merge's existing side, read
        with the pruning its overwrite uses).  ``buckets`` applies to the
        bucketed tables only."""
        cur = self._current_version(table)
        if cur is None:
            return self._empty(table)
        schema = STORED_SCHEMAS[table]
        if table in _BUCKETED:
            # declared rather than discovered, so the bucket filter resolves
            # on a committed empty version too (partitionBy writes no
            # directories for zero rows)
            schema = StructType([*schema.fields, StructField("cbucket", IntegerType(), True)])
        df = self.spark.read.schema(schema).parquet(os.path.join(self._path(table), cur))
        if blockchains is not None:
            df = df.filter(_in_sql("blockchain", [sql_str(str(b)) for b in blockchains]))
        if buckets is not None:
            df = df.filter(_in_sql("cbucket", [str(int(b)) for b in buckets]))
        return df.select(*STORED_SCHEMAS[table].names)

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
        dropped — correct delete semantics.  ``None`` rewrites fully.  Every
        write is projected (and cast) onto the table's declared schema.

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
        bucketed = table in _BUCKETED
        prune = touched_blockchains is not None
        bucket_prune = prune and bucketed and touched_buckets is not None
        cols = [f"CAST(`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`" for f in STORED_SCHEMAS[table].fields]
        part_cols = ["blockchain", "cbucket"] if bucketed else ["blockchain"]
        if bucketed:
            cols.append(f"{self._bucket_sql()} AS cbucket")
        out = df.selectExpr(*cols)
        if prune:
            out = out.filter(_in_sql("blockchain", [sql_str(str(b)) for b in touched_blockchains]))
            if bucket_prune:
                out = out.filter(_in_sql("cbucket", [str(int(b)) for b in touched_buckets]))
        # The plan may read the current version's files; they stay in place
        # until after the pointer flip, so no lineage break is needed.
        out.write.mode("overwrite").partitionBy(*part_cols).parquet(os.path.join(base, nxt))
        if prune and cur is not None:
            cur_path = os.path.join(base, cur)
            touched = set(touched_blockchains)
            tb = {int(b) for b in touched_buckets} if bucket_prune else None
            for d in os.listdir(cur_path):
                if not d.startswith("blockchain="):
                    continue
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
                self.read("collections", blockchains=blockchains), updates, KEYS["collections"]
            ),
            touched_blockchains=blockchains,
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
        existing = self.read("tokens", blockchains=blockchains, buckets=buckets)
        kept = existing.join(touched_keys, keys, "left_anti")
        meta_cols = ["specification", "metadata_url", "metadata_url_version_hex", "data_version"]
        meta = existing.join(touched_keys, keys, "left_semi").select(*keys, *meta_cols).unionByName(
            batch_meta.select(*keys, *meta_cols)
        )
        # safe to prune this scan: the fold semi-joins against
        # touched_keys, and every transfer of a touched key lives in that
        # key's blockchain partition and cbucket (a pure function of
        # collection_id)
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
                self.read("token_transfers", blockchains=blockchains, buckets=buckets),
                updates,
                KEYS["token_transfers"],
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
        existing = self.read("owners", blockchains=blockchains, buckets=buckets)
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
        # other blockchains' trees hard-link in the overwrite below, so only
        # this chain's transfers are read
        transfers = self.read("token_transfers", blockchains=[blockchain])
        touched = transfers.filter(F.col("block_id") > to_block).select(*keys).distinct()
        # collect the touched buckets BEFORE the transfers overwrite: every
        # row the rewind drops or rebuilds belongs to a touched key, so
        # untouched buckets stay linkable
        buckets = self.touched_buckets(touched)
        kept = transfers.filter(F.col("block_id") <= to_block)
        self.overwrite("token_transfers", kept, touched_blockchains=[blockchain], touched_buckets=buckets)
        # `touched` still scans the pre-rewind version's files — the
        # one-commit retention window exists exactly for handles like this
        self.rebuild_tokens(self._empty("tokens"), touched, blockchains=[blockchain], buckets=buckets)
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
        rows = self.read("crawler_config", blockchains=[blockchain]).collect()
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
        # every other blockchain's tree hard-links into the new version
        self.overwrite("crawler_config", updates, touched_blockchains=[blockchain])

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
