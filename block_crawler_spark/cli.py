"""Command-line lifecycle — the reference's ``nft``/``evm`` CLI re-expressed.

    python -m block_crawler_spark crawl  --logs DIR --blocks DIR --silver DIR [--blockchain X]
    python -m block_crawler_spark load   --logs DIR --blocks DIR --silver DIR --height N
                                         [--increment-data-version]
    python -m block_crawler_spark force-load --silver DIR --collection 0x… --tx 0x…
                                         [--rpc URL | --fixture] [--spec ERC-721]
    python -m block_crawler_spark tail   --logs DIR --blocks DIR --silver DIR [--trail-blocks N] [--once]
    python -m block_crawler_spark verify --logs DIR --silver DIR
    python -m block_crawler_spark rewind --silver DIR --blockchain X --to-block N
    python -m block_crawler_spark query  'SELECT ...' [--silver DIR] [--logs DIR] [--blocks DIR]
    python -m block_crawler_spark curate --documents DIR --out DIR [--quality-min PPM]
                                         [--shards N] [--seq-len N]
    python -m block_crawler_spark ingest --source DIR --corpus DIR [--near-dup] [--compact]
    python -m block_crawler_spark seed   --silver DIR --last-block N
    python -m block_crawler_spark reset  --silver DIR
    python -m block_crawler_spark function-digest 'transfer(address,uint256)' [--topic]

Maps to the reference commands (``nft crawl/load/force/tail/seed/verify``,
``reset-db``, ``evm function-digest`` — ``nft/bin/nft.py:118-137``,
``evm/bin.py:18-35``).  Bronze inputs are parquet directories; the live-RPC
path constructs a transport and uses ``sources.rpc`` fetch stages instead
(see streaming.tail.ChainSource).
"""

from __future__ import annotations

import argparse
import json
import signal as _signal
import sys

from pyspark.errors import StreamingQueryException


class GracefulStop:
    """SIGINT/SIGTERM → a flag checked between chunk jobs, so an operator's
    Ctrl-C during a long backfill stops at the next chunk boundary with the
    finished chunks' progress committed (reference SignalManager semantics,
    ``core/bus.py:185-236`` checked at ``nft/bin/crawl.py:188-195``).  The
    FIRST signal requests a graceful stop; a second one falls through to the
    previous handler (default: hard exit) so a wedged job stays killable.
    Context manager; restores prior handlers on exit."""

    def __init__(self) -> None:
        self.interrupted = False
        self._prev: dict[int, object] = {}

    def _handle(self, signum, frame):
        if self.interrupted:  # second signal: escalate to the old handler
            prev = self._prev.get(signum)
            if callable(prev):
                prev(signum, frame)
                return
            _signal.signal(signum, prev or _signal.SIG_DFL)
            _signal.raise_signal(signum)
            return
        self.interrupted = True

    def __enter__(self) -> "GracefulStop":
        for s in (_signal.SIGINT, _signal.SIGTERM):
            try:
                self._prev[s] = _signal.signal(s, self._handle)
            except ValueError:  # non-main thread (e.g. under some test runners)
                pass
        return self

    def __exit__(self, *exc) -> None:
        for s, prev in self._prev.items():
            # signal() returns None for handlers installed outside Python;
            # restoring None raises TypeError — normalize to SIG_DFL
            _signal.signal(s, prev if prev is not None else _signal.SIG_DFL)


def _spark(app: str):
    from .session import get_spark

    s = get_spark(app)
    s.sparkContext.setLogLevel("ERROR")
    return s


def _bulk_crawl(
    spark,
    store,
    logs,
    blocks,
    blockchain: str,
    data_version: int,
    height: int | None,
    chunk_size: int | None = None,
    signals=None,
    restart: bool = False,
    stats=None,
):
    """Shared crawl/load body: run the one-pass plan over bronze (optionally
    clipped to ``height``), apply the idempotent sinks, commit progress.

    ``chunk_size`` splits the block range into sequential chunk jobs with a
    progress commit after each (the reference's ``block_chunk_size`` loop,
    ``nft/bin/crawl.py:180-200``); between chunks ``signals.interrupted``
    is checked, so SIGINT/SIGTERM stops cleanly with ``last_block_id`` at
    the last finished chunk — a re-run resumes from there (the sinks are
    idempotent, so overlap would be harmless anyway).  ``restart=True``
    ignores the stored resume point and reprocesses from the bronze range's
    start — the fresh-epoch reload semantics ``--increment-data-version``
    implies (round-5 review: resume-from-config silently made a fresh-epoch
    chunked reload a no-op).  ``None`` keeps the single-pass plan: one
    shuffle over all of bronze beats N small jobs whenever no incremental
    progress marker is needed.
    """
    from pyspark.sql import functions as F

    from .plans.crawl import crawl_plan

    if height is not None:
        logs = logs.filter(F.col("block_number") <= height)
        blocks = blocks.filter(F.col("number") <= height)
    # ONE min/max aggregation serves the resume clamp, the top probe, and
    # the ticker — round-8 advice: the non-chunked path previously ran a
    # second blocks.agg(min) job purely for telemetry.  Skipped entirely on
    # the one configuration that needs neither bound (explicit height,
    # single-pass, no ticker): that path used to run zero agg jobs and
    # must keep running zero (round-8 review)
    if height is not None and chunk_size is None and stats is None:
        bottom, top = 0, height
    else:
        lohi = blocks.agg(
            F.min("number").alias("lo"), F.max("number").alias("hi")
        ).collect()[0]
        bottom = lohi["lo"] if lohi["lo"] is not None else 0
        top = height if height is not None else lohi["hi"]

    def tick(lo, hi):
        # driver-observable ticker facts per committed chunk (the reference's
        # 60 s stats writer runs during bulk loads too, shared.py:187-305;
        # executor-side volumes live in the Spark UI — see streaming/stats.py).
        # height_span is the chunk's block-height extent, NOT a processed-row
        # count: bronze may be sparse inside the range, and counting actual
        # rows would cost an extra Spark job per chunk (round-8 advice — the
        # old name "blocks" overcounted on sparse bronze)
        if stats is not None and hi is not None:
            stats.increment("chunks")
            stats.increment("height_span", hi - (lo or 0) + 1)

    if chunk_size is None:
        with crawl_plan(spark, logs, blocks, blockchain=blockchain, data_version=data_version) as silver:
            # the retry-safe sink sequence lives in ONE place — see its docstring
            store.apply_silver(silver, data_version, blockchains=[blockchain])
            store.set_config(blockchain, data_version, top)
        if stats is not None and top is not None:
            # span from where the bronze actually starts — high-block
            # bronze (18M+) must not report an ~18M span for a 1k-block load
            # (same clamp the chunked path applies below)
            tick(bottom, top)
        return top

    if top is None:  # empty bronze: nothing to chunk over
        return None
    # clamp the start to the bronze range: without this, a fresh store over
    # high-block bronze (say blocks 18M+) would grind through millions of
    # empty chunk jobs from block 0 (round-5 review)
    _dv, last = store.get_config(blockchain)
    lo = bottom if restart or last is None else last + 1
    lo = max(lo, bottom)
    done = lo - 1
    while lo <= top:
        if signals is not None and signals.interrupted:
            break
        hi = min(lo + chunk_size - 1, top)
        chunk_logs = logs.filter(F.col("block_number").between(lo, hi))
        chunk_blocks = blocks.filter(F.col("number").between(lo, hi))
        with crawl_plan(
            spark, chunk_logs, chunk_blocks, blockchain=blockchain, data_version=data_version
        ) as silver:
            store.apply_silver(silver, data_version, blockchains=[blockchain])
            store.set_config(blockchain, data_version, hi)  # commit BEFORE the next chunk
        tick(lo, hi)
        done = hi
        lo = hi + 1
    return done


def _make_ticker(args):
    """StatsService + started ticker per --stats-interval (the reference
    runs its 60 s writer for bulk loads as well as the tail,
    shared.py:187-305); (None, None) when disabled."""
    if getattr(args, "stats_interval", 0) <= 0:
        return None, None
    from .streaming.stats import StatsService, StatsTicker

    stats = StatsService()
    ticker = StatsTicker(stats, interval=args.stats_interval)
    ticker.start()
    return stats, ticker


def cmd_crawl(args) -> int:
    from .streaming.store import SilverStore

    spark = _spark("crawl")
    logs = spark.read.parquet(args.logs)
    blocks = spark.read.parquet(args.blocks)
    store = SilverStore(spark, args.silver)
    dv, _ = store.get_config(args.blockchain)
    stats, ticker = _make_ticker(args)
    try:
        with GracefulStop() as stop:
            top = _bulk_crawl(
                spark, store, logs, blocks, args.blockchain, dv, height=None,
                chunk_size=args.chunk_size, signals=stop, stats=stats,
            )
    finally:
        if ticker is not None:
            ticker.stop(final_line=True)
    out = {"crawled_to": top, "transfers": store.read("token_transfers").count()}
    if stop.interrupted:
        out["interrupted"] = True  # progress committed at the last finished chunk
    print(json.dumps(out))
    return 0


def cmd_load(args) -> int:
    """Bulk backfill to a FIXED height (reference ``nft load``,
    ``nft/bin/load.py:202-280``).

    The reference discovers collections in reverse from HEIGHT and replays
    each collection's history with its own RPC scan; the Spark plan is the
    superseded-by-design one-pass form (SURVEY §3.2): decode everything once,
    fold by token key — same silver, one shuffle.  ``--height`` pins the
    upper block bound so a concurrent tail can take over exactly at
    HEIGHT+1; ``--increment-data-version`` starts a fresh run epoch first
    (the reference's ``increment-data-version`` flag, load.py:232-240).
    """
    from .streaming.store import SilverStore

    spark = _spark("load")
    logs = spark.read.parquet(args.logs)
    blocks = spark.read.parquet(args.blocks)
    store = SilverStore(spark, args.silver)
    dv, _ = store.get_config(args.blockchain)
    if args.increment_data_version:
        dv = store.increment_data_version(args.blockchain)
    stats, ticker = _make_ticker(args)
    try:
        with GracefulStop() as stop:
            top = _bulk_crawl(
                spark, store, logs, blocks, args.blockchain, dv, height=args.height,
                chunk_size=args.chunk_size, signals=stop,
                restart=args.increment_data_version, stats=stats,
            )
    finally:
        if ticker is not None:
            ticker.stop(final_line=True)
    out = {
        "loaded_to": top,
        "data_version": dv,
        "transfers": store.read("token_transfers").count(),
    }
    if stop.interrupted:
        out["interrupted"] = True
    print(json.dumps(out))
    return 0


def cmd_force_load(args) -> int:
    """T13 — manual collection bootstrap (reference ``nft force``,
    ``nft/bin/force.py``): fetch the creation receipt + block, probe the
    contract, upsert one collections row."""
    from .plans.crawl import force_load_collection
    from .streaming.store import SilverStore

    spark = _spark("force-load")
    if args.fixture:
        from .sources.datasource import _make_transport

        transport = _make_transport({"mode": "fixture", "seed": str(args.seed)})
    else:
        from .sources.rpc import HttpRpcTransport

        if not args.rpc:
            print(json.dumps({"error": "one of --rpc or --fixture is required"}))
            return 2
        transport = HttpRpcTransport(endpoints=tuple(args.rpc))
    store = SilverStore(spark, args.silver)
    dv, _ = store.get_config(args.blockchain)
    row = force_load_collection(
        spark,
        transport,
        collection_id=args.collection,
        creation_tx_hash=args.tx,
        blockchain=args.blockchain,
        data_version=dv,
        default_specification=args.spec,
    )
    store.upsert_collections(row, blockchains=[args.blockchain])
    out = row.collect()[0].asDict()
    print(json.dumps({"collection": out["collection_id"], "specification": out["specification"]}))
    return 0


def cmd_tail(args) -> int:
    from .streaming.store import SilverStore
    from .streaming.tail import TableChainSource, TailRunner

    spark = _spark("tail")
    store = SilverStore(spark, args.silver)
    src = TableChainSource(spark.read.parquet(args.logs), spark.read.parquet(args.blocks))
    stats, ticker = _make_ticker(args)
    runner = TailRunner(store, src, blockchain=args.blockchain, trail_blocks=args.trail_blocks,
                        process_interval=args.process_interval, stats=stats)
    try:
        n = runner.run(max_batches=1 if args.once else None, sleep=not args.once)
    finally:
        if ticker is not None:
            ticker.stop(final_line=True)
    print(json.dumps({"batches": n, "config": store.get_config(args.blockchain)}))
    return 0


def cmd_verify(args) -> int:
    from .operators.verify import (
        reconcile_balances,
        reconcile_tokens,
        reconcile_transfers,
        verify_chain_continuity,
    )
    from .streaming.store import SilverStore

    spark = _spark("verify")
    logs = spark.read.parquet(args.logs)
    store = SilverStore(spark, args.silver)
    reports = {
        "transfers": reconcile_transfers(logs, store.read("token_transfers")).count(),
        "tokens": reconcile_tokens(logs, store.read("tokens")).count(),
        "balances": reconcile_balances(logs, store.read("owners")).count(),
    }
    if getattr(args, "blocks", None):
        reports["continuity"] = verify_chain_continuity(spark.read.parquet(args.blocks)).count()
    print(json.dumps({"errors": reports, "clean": all(v == 0 for v in reports.values())}))
    return 0 if all(v == 0 for v in reports.values()) else 1


def cmd_seed(args) -> int:
    from .streaming.store import SilverStore
    from .streaming.tail import seed

    store = SilverStore(_spark("seed"), args.silver)
    seed(store, args.blockchain, args.last_block)
    print(json.dumps({"config": store.get_config(args.blockchain)}))
    return 0


def cmd_reset(args) -> int:
    from .streaming.store import SilverStore

    SilverStore(_spark("reset"), args.silver).reset()
    print(json.dumps({"reset": args.silver}))
    return 0


def cmd_rewind(args) -> int:
    """Reorg repair: rewind silver to --to-block (drop orphaned-branch
    transfers, rebuild affected tokens/owners, clamp last_block_id) so the
    next crawl/tail re-ingests the canonical branch from the fork point.
    See SilverStore.rewind — the capability the reference lacks (it only
    avoids reorgs via the trail lag)."""
    from .streaming.store import SilverStore

    spark = _spark("rewind")
    store = SilverStore(spark, args.silver)
    store.rewind(args.blockchain, args.to_block)
    print(json.dumps({
        "rewound_to": args.to_block,
        "config": store.get_config(args.blockchain),
        "transfers": store.read("token_transfers").count(),
    }))
    return 0


def cmd_query(args) -> int:
    """Ad-hoc Spark SQL over the engine's tables — the capability the
    reference never had (no SQL parser, SURVEY §0) and the reason to be
    Spark-native.  Bronze dirs register as ``logs``/``blocks`` views, the
    silver store's five tables under their own names; the statement runs
    through the same Catalyst planning as every registry query.

    Results: ``--save DIR`` writes parquet distributed (no driver
    materialization — the 100 TB path); otherwise the first ``--limit``
    rows print as JSON lines (a deliberate driver-side cap, never an
    unbounded collect).
    """
    from .streaming.store import SilverStore

    spark = _spark("query")
    if args.logs:
        spark.read.parquet(args.logs).createOrReplaceTempView("logs")
    if args.blocks:
        spark.read.parquet(args.blocks).createOrReplaceTempView("blocks")
    if args.silver:
        store = SilverStore(spark, args.silver)
        for t in ("collections", "tokens", "token_transfers", "owners", "crawler_config"):
            store.read(t).createOrReplaceTempView(t)
    df = spark.sql(args.sql)
    if args.save:
        df.write.mode("overwrite").parquet(args.save)
        print(json.dumps({"saved": args.save}))
        return 0
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_curate(args) -> int:
    """Run the full training-data curation pipeline (quality → exact dedup →
    MinHash near-dup → decontaminate → mixture sample → sequence packing)
    over a documents table and write the model-ready output:

        OUT/docs/      curated documents + (n_tok, bin_id, cum) partitioned
                       by pack shard — the training-shard layout
        OUT/manifest/  one row per (shard, bin): counts, token sums and the
                       order-sensitive md5 digest of the bin's doc sequence

    Everything stays distributed (two parquet writes, no driver collect);
    the printed JSON line carries only count aggregates."""
    from pyspark.sql import functions as F

    from .plans.pack_ops import PACK_SHARDS, SEQ_LEN_TOK
    from .plans.pipeline import manifest_from_packed, packed_docs

    spark = _spark("curate")
    per = packed_docs(
        spark,
        args.documents,
        # None → the data-driven budget cut (doc_quality_budget_cut's
        # cut_ppm broadcast into the quality stage — round 8)
        quality_min=args.quality_min,
        shards=args.shards if args.shards is not None else PACK_SHARDS,
        seq_len=args.seq_len if args.seq_len is not None else SEQ_LEN_TOK,
        sampling=args.sampling,
    )
    docs_out = f"{args.out}/docs"
    per.write.mode("overwrite").partitionBy("shard").parquet(docs_out)
    # explicit schema: a run where zero documents survive leaves a dir with
    # no part files, and schema inference would fail instead of yielding the
    # legitimate docs_kept=0 summary
    written = spark.read.schema(per.schema).parquet(docs_out)
    manifest_from_packed(written).write.mode("overwrite").parquet(f"{args.out}/manifest")
    manifest = spark.read.parquet(f"{args.out}/manifest")
    n_in = spark.read.parquet(f"{args.documents}/documents.parquet").count()
    kept, bins, tok = (
        manifest.agg(F.sum("n_docs"), F.count("*"), F.sum("tok_sum")).first()
    )
    print(
        json.dumps(
            {
                "docs_in": n_in,
                "docs_kept": int(kept or 0),
                "bins": int(bins),
                "tokens_packed": int(tok or 0),
                "out": args.out,
            }
        )
    )
    return 0


def cmd_ingest(args) -> int:
    """Drain a document drop-directory into the deduplicated streaming
    corpus (one availableNow pass): exact-fingerprint blocking always,
    MinHash near-dup blocking with --near-dup.  Checkpointed — re-runs pick
    up only new files, and a replayed micro-batch is a no-op."""
    from .streaming.corpus import CorpusIngestStore

    spark = _spark("ingest")
    stats, ticker = _make_ticker(args)
    store = CorpusIngestStore(
        spark,
        args.corpus,
        near_dup=args.near_dup,
        jaccard_threshold=args.jaccard_threshold,
        quality_min_ppm=args.quality_min,
        stats=stats,
    )
    ck = args.checkpoint or f"{args.corpus}/_checkpoint"
    before = store.corpus().count()
    query = store.start_stream(args.source, ck, max_files_per_trigger=args.max_files_per_trigger)
    try:
        try:
            finished = query.awaitTermination(args.timeout)
        except StreamingQueryException as e:
            # a failed drain keeps the CLI's JSON-line error contract (same
            # shape as the timeout path) instead of dying with a raw
            # traceback; the checkpoint makes a re-run resume from the
            # failed micro-batch
            print(json.dumps({"error": f"ingest stream failed: {e.desc if hasattr(e, 'desc') else e}",
                              "corpus": args.corpus}), file=sys.stderr)
            return 1
        if not finished:
            # a still-running drain must NOT be compacted under (the store's
            # compact-between-batches contract) or reported as complete
            try:
                query.stop()
            except StreamingQueryException:
                pass  # the query raced into a failure between awaitTermination and stop
            print(json.dumps({"error": "ingest drain exceeded --timeout; stopped mid-drain "
                                       "(checkpointed — re-run to resume)", "corpus": args.corpus}),
                  file=sys.stderr)
            return 1
    finally:
        if ticker is not None:
            ticker.stop(final_line=True)
    folded = store.compact() if args.compact else 0
    total = store.corpus().count()
    print(
        json.dumps(
            {
                "corpus": args.corpus,
                "docs_admitted": total - before,
                "docs_total": total,
                "near_dup": args.near_dup,
                "compacted_dirs": folded,
            }
        )
    )
    return 0


def cmd_function_digest(args) -> int:
    from .functions.keccak import event_topic, function_selector

    out = event_topic(args.signature) if args.topic else function_selector(args.signature)
    print(out)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="block_crawler_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, blocks=True):
        sp.add_argument("--logs", required=True)
        if blocks:
            sp.add_argument("--blocks", required=True)
        sp.add_argument("--silver", required=True)
        sp.add_argument("--blockchain", default="ethereum-mainnet")

    def chunked(sp):
        sp.add_argument("--chunk-size", type=int, default=None,
                        help="process in sequential block chunks with a progress commit after "
                             "each (reference block_chunk_size); SIGINT/SIGTERM stops at the "
                             "next chunk boundary and a re-run resumes from the committed point")
        sp.add_argument("--stats-interval", type=float, default=60.0,
                        help="seconds between STATS lines (reference 60 s ticker, "
                             "shared.py:187-305 runs it for bulk loads too); 0 disables")

    sp = sub.add_parser("crawl"); common(sp); chunked(sp); sp.set_defaults(fn=cmd_crawl)
    sp = sub.add_parser("load"); common(sp); chunked(sp)
    sp.add_argument("--height", type=int, required=True, help="fixed upper block bound (LastBlockFloor)")
    sp.add_argument("--increment-data-version", action="store_true",
                    help="start a fresh run epoch before loading (reference load.py:232-240)")
    sp.set_defaults(fn=cmd_load)
    sp = sub.add_parser("force-load")
    sp.add_argument("--silver", required=True)
    sp.add_argument("--blockchain", default="ethereum-mainnet")
    sp.add_argument("--collection", required=True, help="contract address to bootstrap")
    sp.add_argument("--tx", required=True, help="creation transaction hash")
    sp.add_argument("--rpc", action="append", help="JSON-RPC endpoint (repeatable)")
    sp.add_argument("--fixture", action="store_true", help="use the offline fixture chain")
    sp.add_argument("--seed", type=int, default=42)
    sp.add_argument("--spec", default=None, help="fallback specification when ERC-165 probes answer nothing")
    sp.set_defaults(fn=cmd_force_load)
    sp = sub.add_parser("tail"); common(sp)
    sp.add_argument("--trail-blocks", type=int, default=1)
    sp.add_argument("--process-interval", type=float, default=10.0)
    sp.add_argument("--once", action="store_true")
    sp.add_argument("--stats-interval", type=float, default=60.0,
                    help="seconds between STATS lines (reference 60 s ticker); 0 disables")
    sp.set_defaults(fn=cmd_tail)
    sp = sub.add_parser("verify"); common(sp, blocks=False)
    sp.add_argument("--blocks", help="optional blocks bronze: adds the chain-continuity check")
    sp.set_defaults(fn=cmd_verify)
    sp = sub.add_parser("seed")
    sp.add_argument("--silver", required=True)
    sp.add_argument("--blockchain", default="ethereum-mainnet")
    sp.add_argument("--last-block", type=int, required=True)
    sp.set_defaults(fn=cmd_seed)
    sp = sub.add_parser("reset")
    sp.add_argument("--silver", required=True)
    sp.set_defaults(fn=cmd_reset)
    sp = sub.add_parser("rewind")
    sp.add_argument("--silver", required=True)
    sp.add_argument("--blockchain", default="ethereum-mainnet")
    sp.add_argument("--to-block", type=int, required=True,
                    help="fork point: every transfer above this block is dropped and affected state rebuilt")
    sp.set_defaults(fn=cmd_rewind)
    sp = sub.add_parser("query")
    sp.add_argument("sql", help="Spark SQL over views: logs, blocks, collections, tokens, token_transfers, owners, crawler_config")
    sp.add_argument("--silver", help="silver store root; registers the five entity tables")
    sp.add_argument("--logs", help="bronze logs parquet dir -> view `logs`")
    sp.add_argument("--blocks", help="bronze blocks parquet dir -> view `blocks`")
    sp.add_argument("--limit", type=int, default=1000, help="max rows printed (JSON lines); use --save for full results")
    sp.add_argument("--save", help="write full result as parquet to DIR instead of printing")
    sp.set_defaults(fn=cmd_query)
    sp = sub.add_parser("curate")
    sp.add_argument("--documents", required=True,
                    help="directory containing documents.parquet (sf-dir layout)")
    sp.add_argument("--out", required=True, help="output root: writes docs/ (shard-partitioned) and manifest/")
    # defaults None → resolved to the pack_ops/pipeline constants inside
    # cmd_curate, so the CLI tracks the registry queries' parameters without
    # importing pyspark at argparse time
    sp.add_argument("--quality-min", type=int, default=None,
                    help="explicit quality_ppm floor; omit for the data-driven budget cut "
                         "(doc_quality_budget_cut: the threshold keeping the best third of tokens)")
    sp.add_argument("--shards", type=int, default=None,
                    help="pack shard count — size so one shard's tokens fit an executor at your scale "
                         "(default: pack_ops.PACK_SHARDS)")
    sp.add_argument("--seq-len", type=int, default=None,
                    help="tokens per packed training sequence (default: pack_ops.SEQ_LEN_TOK)")
    sp.add_argument("--sampling", choices=("stratified", "mixture"), default="stratified",
                    help="'stratified' = fixed per-source rates; 'mixture' = rates derived from "
                         "the token-budget mixture plan (doc_mixture_plan)")
    sp.set_defaults(fn=cmd_curate)
    sp = sub.add_parser("ingest")
    sp.add_argument("--source", required=True, help="drop directory of documents parquet files (streamed)")
    sp.add_argument("--corpus", required=True, help="corpus store root")
    sp.add_argument("--near-dup", action="store_true",
                    help="also block MinHash near-duplicates of admitted docs (exact-Jaccard verified)")
    sp.add_argument("--jaccard-threshold", type=float, default=0.5)
    sp.add_argument("--quality-min", type=int, default=None,
                    help="reject documents below this quality_ppm at ingest (same formula as doc_quality_ppm)")
    sp.add_argument("--compact", action="store_true", help="fold batch dirs into one snapshot after the drain")
    sp.add_argument("--checkpoint", default=None, help="stream checkpoint dir (default: CORPUS/_checkpoint)")
    sp.add_argument("--timeout", type=int, default=600, help="max seconds to wait for the drain")
    sp.add_argument("--stats-interval", type=float, default=0.0,
                    help="print a STATS line with corpus.* admission counters every N seconds "
                         "(0 = off; counters cost one extra small count job per micro-batch)")
    sp.add_argument("--max-files-per-trigger", type=int, default=None,
                    help="backfill throttle: bound each micro-batch to N source files so a "
                         "corpus-scale drop drains as many small batches (replay unit stays "
                         "O(batch), the broadcast fast path stays on)")
    sp.set_defaults(fn=cmd_ingest)
    sp = sub.add_parser("function-digest")
    sp.add_argument("signature")
    sp.add_argument("--topic", action="store_true", help="emit the 32-byte event topic instead of the 4-byte selector")
    sp.set_defaults(fn=cmd_function_digest)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
