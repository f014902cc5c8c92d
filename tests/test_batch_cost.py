"""Per-batch fixed cost of the tail/load path: guards against regressions.

Every ``nft load``/``nft tail`` batch pays these costs whatever its size:
building the crawl plan on the driver (one py4j round trip per JVM call),
the store's control-table probe, and the cached batch frames it must
release.  The checks below are deterministic counts, not timings.
"""

from __future__ import annotations

from block_crawler_spark.plans.crawl import crawl_plan
from block_crawler_spark.schemas import LOG_SCHEMA
from block_crawler_spark.sources.chainfix import standard_scenario
from block_crawler_spark.streaming.store import SilverStore
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
