"""SilverStore snapshot-commit durability (round-2, ADVICE r1 store.py:67).

The store's overwrite must be crash-safe: a failure at any point before the
atomic ``_CURRENT`` pointer flip leaves the previous complete version
readable; stale version dirs and torn pointer temp files never corrupt a
read.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.streaming.store import SilverStore


def _mk(spark, tmp_path):
    return SilverStore(spark, str(tmp_path / "silver"))


def _cfg(spark, blockchain, dv, last):
    from block_crawler_spark.schemas import CRAWLER_CONFIG_SCHEMA

    return spark.createDataFrame([(blockchain, dv, last)], CRAWLER_CONFIG_SCHEMA)


def test_overwrite_versions_and_prunes(spark, tmp_path):
    """Retention is one commit deep: the just-superseded version survives
    until the NEXT overwrite (grace window for concurrent readers); older
    versions are pruned."""
    store = _mk(spark, tmp_path)
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 10))
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 20))
    base = store._path("crawler_config")
    versions = sorted(d for d in os.listdir(base) if d.startswith("v-"))
    assert versions == ["v-1", "v-2"], "previous version kept one commit for in-flight readers"
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 30))
    versions = sorted(d for d in os.listdir(base) if d.startswith("v-"))
    assert versions == ["v-2", "v-3"], "v-1 pruned once two commits behind"
    assert store.get_config("a") == (1, 30)


def test_reader_handle_survives_one_overwrite(spark, tmp_path):
    """A lazily-evaluated DataFrame handle taken before an overwrite must
    still scan afterwards — its files live until the next commit."""
    store = _mk(spark, tmp_path)
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 10))
    held = store.read("crawler_config")  # plan pinned to v-1 files
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 20))
    rows = held.collect()  # v-1 still on disk → no FileNotFound
    assert rows[0]["last_block_id"] == 10
    assert store.get_config("a") == (1, 20)


def test_read_survives_torn_write(spark, tmp_path):
    """A crashed write = a stray v-dir and/or a _CURRENT.tmp, but no pointer
    flip.  Reads must keep returning the last committed version."""
    store = _mk(spark, tmp_path)
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 10))
    base = store._path("crawler_config")
    # simulate: next version partially written, crash before pointer flip
    os.makedirs(os.path.join(base, "v-2"), exist_ok=True)
    with open(os.path.join(base, "v-2", "part-garbage.parquet"), "wb") as f:
        f.write(b"\x00not parquet")
    with open(os.path.join(base, "_CURRENT.tmp"), "w") as f:
        f.write("v-2")
    assert store.get_config("a") == (1, 10)
    # and the NEXT successful overwrite commits cleanly past the debris
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 30))
    assert store.get_config("a") == (1, 30)


def test_read_modify_write_same_table(spark, tmp_path):
    """The new version is written beside the files being read — a merge that
    reads the current version needs no lineage break."""
    store = _mk(spark, tmp_path)
    store.overwrite("crawler_config", _cfg(spark, "a", 1, 1))
    for i in range(2, 5):
        cur = store.read("crawler_config")  # lazy read of committed version
        nxt = cur.withColumn("last_block_id", F.col("last_block_id") + 1)
        store.overwrite("crawler_config", nxt)  # executes the read mid-write
    assert store.get_config("a") == (1, 4)


def _transfer_row(bc, owner="0xowner1", collection="0xc"):
    return (bc, collection, "00" * 19 + "05", "0x" + "07".rjust(64, "0"), 1_600_000_000, 5,
            "0xabc", 0, 0, "mint", "0x" + "0" * 40, owner, "0x" + "1".rjust(64, "0"), 1)


def _transfers(spark, rows):
    from block_crawler_spark.schemas import TOKEN_TRANSFER_SCHEMA

    return spark.createDataFrame(rows, TOKEN_TRANSFER_SCHEMA).withColumn(
        "batch_index", F.lit(0).cast("int")
    )


def _partition_files(base_dir, cur, part):
    """{relative path: sha256} of every file under <base>/<cur>/blockchain=<part>."""
    return _file_hashes(os.path.join(base_dir, cur, f"blockchain={part}"))


def _file_hashes(root):
    """{relative path: sha256} of every file under ``root``."""
    import hashlib

    out = {}
    for r, _d, files in os.walk(root):
        for n in files:
            p = os.path.join(r, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_partition_pruned_merge_leaves_untouched_blockchain_byte_identical(spark, tmp_path):
    """A merge that declares its touched blockchains rewrites only those
    partition trees; the other chain's files are carried into the new
    version byte-identical (hard links), and reads see both chains."""
    store = _mk(spark, tmp_path)
    store.append_transfers(_transfers(spark, [_transfer_row("chain-a"), _transfer_row("chain-b")]))
    base = store._path("token_transfers")
    before = _partition_files(base, store._current_version("token_transfers"), "chain-b")
    assert before, "seed must have written a chain-b partition dir"

    upd = _transfers(spark, [_transfer_row("chain-a", owner="0xowner2")]).withColumn(
        "attribute_version_hex", F.lit("0x" + "2".rjust(64, "0"))
    )
    store.append_transfers(upd, blockchains=["chain-a"])

    after = _partition_files(base, store._current_version("token_transfers"), "chain-b")
    assert after == before, "untouched blockchain partition must be byte-identical"
    got = store.read("token_transfers")
    assert got.filter(F.col("blockchain") == "chain-a").count() == 2
    assert got.filter(F.col("blockchain") == "chain-b").count() == 1


@pytest.mark.parametrize("partition_by", [[], ["blockchain"]], ids=["bare_parquet", "blockchain_only"])
def test_version_outside_the_layout_is_rejected(spark, tmp_path, partition_by):
    """A current version not in the store's layout — bare part files, or a
    bucketed table partitioned by blockchain only — fails reads and writes
    loudly: nothing is migrated or partially read, ``_CURRENT`` still names
    it and its files are untouched."""
    store = _mk(spark, tmp_path)
    df = _transfers(spark, [_transfer_row("chain-a"), _transfer_row("chain-b")])
    base = store._path("token_transfers")
    v1 = os.path.join(base, "v-1")
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(v1)
    with open(os.path.join(base, "_CURRENT"), "w") as f:
        f.write("v-1")
    before = _file_hashes(v1)

    upd = _transfers(spark, [_transfer_row("chain-a", owner="0xowner2")]).withColumn(
        "attribute_version_hex", F.lit("0x" + "2".rjust(64, "0"))
    )
    with pytest.raises(RuntimeError, match="layout"):
        store.read("token_transfers")
    with pytest.raises(RuntimeError, match="layout"):
        store.append_transfers(upd, blockchains=["chain-a"])
    with pytest.raises(RuntimeError, match="layout"):
        store.overwrite("token_transfers", upd, touched_blockchains=["chain-a"])
    with open(os.path.join(base, "_CURRENT")) as f:
        assert f.read().strip() == "v-1"
    assert sorted(d for d in os.listdir(base) if d.startswith("v-")) == ["v-1"]
    assert _file_hashes(v1) == before


def _two_collections_in_distinct_buckets(store, spark):
    """Pick two collection ids that land in different cbuckets (pure function
    of the id — deterministic across runs)."""
    cands = [f"0xc{i:02d}" for i in range(40)]
    df = spark.createDataFrame([(c,) for c in cands], "collection_id string")
    rows = df.select("collection_id", store._bucket_expr().alias("b")).collect()
    first = rows[0]
    other = next(r for r in rows[1:] if r["b"] != first["b"])
    return (first["collection_id"], first["b"]), (other["collection_id"], other["b"])


def _bucket_inodes(base_dir, cur, chain, bucket):
    root = os.path.join(base_dir, cur, f"blockchain={chain}", f"cbucket={bucket}")
    out = {}
    for r, _d, files in os.walk(root):
        for n in files:
            p = os.path.join(r, n)
            out[os.path.relpath(p, root)] = os.stat(p).st_ino
    return out


def test_bucket_pruned_merge_leaves_untouched_bucket_hard_linked(spark, tmp_path):
    """Within a TOUCHED blockchain, a merge that declares its touched
    collection buckets rewrites only those cbucket subtrees: the other
    collection's bucket is carried into the new version as hard links (same
    inode — byte-identical without copying), and reads see both."""
    store = _mk(spark, tmp_path)
    (col_x, b_x), (col_y, b_y) = _two_collections_in_distinct_buckets(store, spark)
    seed = _transfers(
        spark, [_transfer_row("chain-a", collection=col_x), _transfer_row("chain-a", collection=col_y)]
    )
    store.append_transfers(seed)
    base = store._path("token_transfers")
    before = _bucket_inodes(base, store._current_version("token_transfers"), "chain-a", b_y)
    assert before, "seed must have written col_y's bucket dir"

    upd = _transfers(spark, [_transfer_row("chain-a", owner="0xowner2", collection=col_x)]).withColumn(
        "attribute_version_hex", F.lit("0x" + "2".rjust(64, "0"))
    )
    buckets = store.touched_buckets(upd.select("blockchain", "collection_id", "token_id_hex").distinct())
    assert buckets == sorted({b_x})
    store.append_transfers(upd, blockchains=["chain-a"], buckets=buckets)

    after = _bucket_inodes(base, store._current_version("token_transfers"), "chain-a", b_y)
    assert after == before, "untouched bucket inside the touched blockchain must be hard-linked"
    got = store.read("token_transfers")
    assert got.filter(F.col("collection_id") == col_x).count() == 2
    assert got.filter(F.col("collection_id") == col_y).count() == 1
    assert "cbucket" not in got.columns


def test_apply_silver_bucket_prunes_all_three_tables(spark, tmp_path):
    """The crawl/tail sink sequence derives touched buckets from the batch:
    a batch touching only col_x leaves col_y's bucket hard-linked in
    transfers, tokens AND owners."""
    from types import SimpleNamespace

    store = _mk(spark, tmp_path)
    (col_x, b_x), (col_y, b_y) = _two_collections_in_distinct_buckets(store, spark)

    def silver_for(col, vhex="0x" + "1".rjust(64, "0")):
        tr = _transfers(spark, [_transfer_row("chain-a", collection=col)]).withColumn(
            "attribute_version_hex", F.lit(vhex)
        )
        toks = spark.createDataFrame(
            [("chain-a", col, "0x" + "07".rjust(64, "0"), "erc721", None, None, 1)],
            "blockchain string, collection_id string, token_id_hex string, specification string, "
            "metadata_url string, metadata_url_version_hex string, data_version long",
        )
        return SimpleNamespace(token_transfers=tr, token_meta=toks)

    store.apply_silver(silver_for(col_x), 1, blockchains=["chain-a"])
    store.apply_silver(silver_for(col_y), 1, blockchains=["chain-a"])
    snaps = {
        t: _bucket_inodes(store._path(t), store._current_version(t), "chain-a", b_y)
        for t in ("token_transfers", "tokens", "owners")
    }
    assert all(snaps.values()), "col_y must have bucket dirs in all three tables"

    store.apply_silver(silver_for(col_x, vhex="0x" + "2".rjust(64, "0")), 1, blockchains=["chain-a"])
    for t, before in snaps.items():
        after = _bucket_inodes(store._path(t), store._current_version(t), "chain-a", b_y)
        assert after == before, f"{t}: col_y bucket must be untouched (hard-linked)"
    assert store.read("owners").filter(F.col("collection_id") == col_y).count() == 1


def test_empty_partitioned_write_reads_back_empty(spark, tmp_path):
    """partitionBy writes no data files for zero rows; a committed empty
    version must read back as the canonical empty table, not error."""
    store = _mk(spark, tmp_path)
    store.append_transfers(_transfers(spark, []))
    got = store.read("token_transfers")
    assert got.count() == 0
    assert "batch_index" in got.columns
    assert store.read("token_transfers", blockchains=["chain-a"], buckets=[0]).count() == 0


def test_rebuild_tokens_keeps_metadata_across_epochs(spark, tmp_path):
    """K3 parity in the rebuild path: a higher-data_version batch with NO
    URI event must not clobber existing metadata_url to NULL."""
    from pyspark.sql import functions as F

    from block_crawler_spark.schemas import TOKEN_TRANSFER_SCHEMA

    store = _mk(spark, tmp_path)
    keys = ["blockchain", "collection_id", "token_id_hex"]
    tr = spark.createDataFrame(
        [("bc", "0xc", "00" * 19 + "05", "0x" + "07".rjust(64, "0"), 1_600_000_000, 5,
          "0xabc", 0, 0, "mint", "0x" + "0" * 40, "0xowner1", "0x" + "1".rjust(64, "0"), 1)],
        TOKEN_TRANSFER_SCHEMA,
    ).withColumn("batch_index", F.lit(0).cast("int"))
    store.append_transfers(tr)
    touched = tr.select(*keys).distinct()

    def tok(dv, url, vhex):
        return spark.createDataFrame(
            [("bc", "0xc", "0x" + "07".rjust(64, "0"), "erc721", url, vhex, dv)],
            "blockchain string, collection_id string, token_id_hex string, specification string, "
            "metadata_url string, metadata_url_version_hex string, data_version long",
        )

    store.rebuild_tokens(tok(1, "ipfs://x", "0" * 39 + "5"), touched)
    assert store.read("tokens").collect()[0]["metadata_url"] == "ipfs://x"
    # epoch 2 batch carries no URI data → metadata must survive
    store.rebuild_tokens(tok(2, None, None), touched)
    row = store.read("tokens").collect()[0]
    assert row["metadata_url"] == "ipfs://x"
    assert row["data_version"] == 2


def test_read_prunes_partitions_statically(spark, tmp_path):
    """read(blockchains=, buckets=) filters on the PARTITION columns, so the
    declared-schema scan carries PartitionFilters on blockchain AND cbucket — the tail path's per-batch token/owner rebuilds
    scan only touched subtrees, not the whole transfers history."""
    store = _mk(spark, tmp_path)
    (col_x, b_x), (col_y, b_y) = _two_collections_in_distinct_buckets(store, spark)
    seed = _transfers(
        spark,
        [_transfer_row("chain-a", collection=col_x), _transfer_row("chain-b", collection=col_y)],
    )
    store.append_transfers(seed)
    pruned = store.read("token_transfers", blockchains=["chain-a"], buckets=[b_x])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    tail = plan.split("PartitionFilters", 1)[1][:400]
    assert "blockchain" in tail, plan
    assert "cbucket" in tail, plan
    rows = pruned.collect()
    assert {(r["blockchain"], r["collection_id"]) for r in rows} == {("chain-a", col_x)}
    assert "cbucket" not in pruned.columns


def test_apply_silver_results_identical_with_and_without_read_pruning(spark, tmp_path):
    """End-to-end: the pruned-read tail path produces byte-for-byte the same
    silver state as the unpruned path (blockchains=None disables all
    pruning) for a multi-chain, multi-bucket history."""
    from types import SimpleNamespace

    def silver_for(bc, col, owner, vhex):
        tr = _transfers(spark, [_transfer_row(bc, owner=owner, collection=col)]).withColumn(
            "attribute_version_hex", F.lit(vhex)
        )
        toks = spark.createDataFrame(
            [(bc, col, "0x" + "07".rjust(64, "0"), "erc721", None, None, 1)],
            "blockchain string, collection_id string, token_id_hex string, specification string, "
            "metadata_url string, metadata_url_version_hex string, data_version long",
        )
        return SimpleNamespace(token_transfers=tr, token_meta=toks)

    pruned_store = SilverStore(spark, str(tmp_path / "pruned"))
    full_store = SilverStore(spark, str(tmp_path / "full"))
    (col_x, _bx), (col_y, _by) = _two_collections_in_distinct_buckets(pruned_store, spark)
    batches = [
        ("chain-a", col_x, "0xo1", "0x" + "1".rjust(64, "0")),
        ("chain-b", col_y, "0xo2", "0x" + "1".rjust(64, "0")),
        ("chain-a", col_y, "0xo3", "0x" + "2".rjust(64, "0")),
        ("chain-a", col_x, "0xo4", "0x" + "3".rjust(64, "0")),
    ]
    for bc, col, owner, vhex in batches:
        pruned_store.apply_silver(silver_for(bc, col, owner, vhex), 1, blockchains=[bc])
        full_store.apply_silver(silver_for(bc, col, owner, vhex), 1, blockchains=None)
    for t in ("token_transfers", "tokens", "owners"):
        a = sorted(map(str, pruned_store.read(t).collect()))
        b = sorted(map(str, full_store.read(t).collect()))
        assert a == b, f"{t}: pruned-read path diverged from full-read path"
