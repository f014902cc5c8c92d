"""Per-batch fixed cost of the tail/load path: guards against regressions.

Every ``nft load``/``nft tail`` batch pays these costs whatever its size:
building the crawl plan on the driver (one py4j round trip per JVM call),
the store's control-table probe, and the cached batch frames it must
release.  The checks below are deterministic counts, not timings.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark.sql.types import IntegerType, StringType

from block_crawler_spark.plans.crawl import crawl_plan
from block_crawler_spark.schemas import COLLECTION_SCHEMA, LOG_SCHEMA, TOKEN_TRANSFER_SCHEMA
from block_crawler_spark.sources.chainfix import standard_scenario
from block_crawler_spark.streaming.store import _BUCKETED, STORED_SCHEMAS, SilverStore
from block_crawler_spark.streaming.tail import TableChainSource, TailRunner

_BLOCKS_DDL = (
    "number long, hash string, parent_hash string, miner string, timestamp long, "
    "gas_limit long, gas_used long, size long, difficulty long, transaction_hashes array<string>"
)

# building crawl_plan over the fixture chain takes ~300 round trips; the
# node-by-node Column builders it replaced took ~10,000
_CRAWL_PLAN_ROUND_TRIPS_MAX = 600


def _bronze(spark):
    fb = standard_scenario()
    return fb, spark.createDataFrame(fb.rows, LOG_SCHEMA), spark.createDataFrame(fb.blocks(), _BLOCKS_DDL)


def test_crawl_plan_builds_in_few_jvm_round_trips(spark, monkeypatch):
    _fb, logs, blocks = _bronze(spark)
    client = spark.sparkContext._gateway._gateway_client
    sent = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return sent(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    silver = crawl_plan(spark, logs, blocks, blockchain="testnet")
    monkeypatch.undo()
    silver.release()
    assert len(calls) <= _CRAWL_PLAN_ROUND_TRIPS_MAX, f"{len(calls)} py4j round trips"


def test_get_config_on_a_fresh_store_runs_no_job(spark, tmp_path):
    store = SilverStore(spark, str(tmp_path / "silver"))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    assert store.get_config("testnet") == (1, None)
    assert not set(tracker.getJobIdsForGroup(None)) - before, "get_config ran a Spark job"


def _jobs_run_by(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    fn()
    return set(tracker.getJobIdsForGroup(None)) - before


@pytest.fixture(scope="module")
def committed_store(spark, tmp_path_factory):
    """A store with a committed version of all five tables: two stubbed
    apply_silver batches (two collections, two tokens), one collections
    upsert and one config commit."""
    store = SilverStore(spark, str(tmp_path_factory.mktemp("committed") / "silver"))
    for n, collection in enumerate(["0xc1", "0xc2"], start=1):
        transfers = spark.createDataFrame(
            [("testnet", collection, f"{n:040x}", "0x" + "07".rjust(64, "0"), 1_600_000_000, n, "0xabc",
              0, 0, "mint", "0x" + "0" * 40, "0xowner", "0x" + "1".rjust(64, "0"), 1)],
            TOKEN_TRANSFER_SCHEMA,
        ).selectExpr("*", "0 AS batch_index")
        meta = spark.createDataFrame(
            [("testnet", collection, "0x" + "07".rjust(64, "0"), "ERC-721", None, None, 1)],
            "blockchain string, collection_id string, token_id_hex string, specification string, "
            "metadata_url string, metadata_url_version_hex string, data_version long",
        )
        store.apply_silver(SimpleNamespace(token_transfers=transfers, token_meta=meta), 1, blockchains=["testnet"])
    collection = ("testnet", "0xc1", None, None, "n", "n", "N", None, "ERC-721", 1, 1_600_000_000, 1)
    store.upsert_collections(spark.createDataFrame([collection], COLLECTION_SCHEMA), blockchains=["testnet"])
    store.set_config("testnet", 1, 2)
    return store


def test_reading_a_committed_table_runs_no_job(spark, committed_store):
    """The store declares every table's schema, so a read plans its scan
    without a schema-inference job."""
    for table in STORED_SCHEMAS:
        assert committed_store._current_version(table) is not None, table
        assert not _jobs_run_by(spark, lambda: committed_store.read(table)), f"read({table!r}) ran a Spark job"


def test_committed_parquet_schema_is_the_declared_schema(spark, committed_store):
    """Every write is projected onto the declared schema: the files of each
    committed version hold exactly the declared columns and types, with the
    partition columns as directories."""
    for table, declared in STORED_SCHEMAS.items():
        path = os.path.join(committed_store._path(table), committed_store._current_version(table))
        on_disk = [(f.name, f.dataType) for f in spark.read.parquet(path).schema.fields]
        partitions = [("blockchain", StringType())] + ([("cbucket", IntegerType())] if table in _BUCKETED else [])
        want = [(f.name, f.dataType) for f in declared.fields if f.name != "blockchain"] + partitions
        assert on_disk == want, table


def test_tail_batches_leave_no_cached_frames(spark, tmp_path):
    """crawl_plan caches the decoded batch and apply_silver caches the
    touched keys; both are released once the batch commits, so a long-running
    tail pins nothing in the CacheManager."""
    fb, logs, blocks = _bronze(spark)
    top = max(b["number"] for b in fb.blocks())
    source = TableChainSource(logs, blocks)
    heights = iter([top - 3, top])
    source.height = lambda: next(heights)
    runner = TailRunner(SilverStore(spark, str(tmp_path / "silver")), source, blockchain="testnet", trail_blocks=0)
    cm = spark._jsparkSession.sharedState().cacheManager()
    # start from a provably empty cache (another test may have left entries)
    spark.catalog.clearCache()
    assert runner.run_once() is not None
    assert runner.run_once() is not None
    assert cm.isEmpty(), "a tail batch left a DataFrame cached"
