"""The benchmark's workloads, driving the engine only through public calls.

``chain_backfill`` — the chain-ETL operator's path.  A seeded chain is
bulk-loaded into an empty silver store by one ``TailRunner.run_once`` (a
tail started on an empty store catches up the whole history: get_config →
``crawl_plan`` → ``apply_silver`` → set_config), then ``nft verify``'s
transfer reconcile runs against the store.  Checked against the
generator's own ledger.

``analytics_ingest`` — the analyst's and the corpus curator's path on the
same engine.  Seeded TPC-H-like tables are generated and the fact table is
compacted into a fresh bronze cache; a seeded order of registry queries
runs cold, the memoised one again warm; the documents go through
``CorpusIngestStore.ingest_batch`` in two micro-batches carrying a seeded
share of exact re-sends.  Checked against DuckDB and a Python fingerprint
set.

Each workload measures a fixed list of engine calls (a pass); another pass
on fresh state runs only while it fits in ``--seconds``, and every
reported time is the median over passes.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from statistics import median

from counters import SparkCounters, current_version, parquet_rows, walk
from spans import Tracer

SETUP_REPS = 3


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    metrics: dict  # name -> (value, unit), the set BENCHMARK.json declares
    report: dict  # name -> (value, unit), every metric the run measured


@dataclass
class Bench:
    """One run: the Spark session, the tracer and the op/check ledger."""

    args: object
    run_dir: str
    attempted: int = 0
    failed: int = 0
    checks_ok: bool = True
    report: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.tiny = self.args.size == "tiny"
        self.tracer = Tracer(self.args.trace == 1)
        self.overhead_s = 0.0

    # -- session ---------------------------------------------------------
    def start(self) -> float:
        t = time.perf_counter()
        from block_crawler_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.counters = SparkCounters(self.spark)
        if self.tracer.enabled:
            self.tracer.counters = self._timed_snapshot
        return time.perf_counter() - t

    def _timed_snapshot(self) -> dict:
        t = time.perf_counter()
        snap = self.counters.snapshot()
        self.overhead_s += time.perf_counter() - t
        return snap

    def peak_rss_mb(self) -> float:
        """VmHWM of this Python process plus the JVM, in MiB."""
        total = 0
        for pid in ("self", str(self.jvm_pid)):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024.0

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- ledger ----------------------------------------------------------
    def op(self, name: str, fn, *args, **kwargs):
        """Run one engine op: (result or None, seconds, ok).  An exception
        is counted as a failed op and the run goes on."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn(*args, **kwargs)
            return out, time.perf_counter() - t, True
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None, time.perf_counter() - t, False

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.checks_ok = False
            print(f"perfbench: CHECK FAILED {name}: {detail}", file=sys.stderr)

    def put(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (float(value), unit)

    def span_total(self, name: str, key: str = "s") -> float:
        return float(self.tracer.totals(name).get(key, 0))


def _repeat(bench: Bench, t_start: float, body) -> list:
    """Run ``body(i)`` once, then again while another pass as long as the
    last one still fits in ``--seconds``: a run measures for at most
    ``--seconds``, or one pass when a pass is longer.  Spark counters are
    read around the passes for the per-layer ``spark.*`` metrics."""
    before, out, t = bench.counters.snapshot(), [], t_start
    while True:
        out.append(body(len(out)))
        now = time.perf_counter()
        out[-1]["pass_s"] = now - t
        if now - t_start + (now - t) > bench.args.seconds:
            bench.pass_counters = (before, bench.counters.snapshot(), now - t_start)
            bench.put("pass_s", median([p["pass_s"] for p in out]), "s")
            bench.put("passes", len(out), "count")
            return out
        t = now


# ---------------------------------------------------------------------------
# chain_backfill
# ---------------------------------------------------------------------------

STORE_METHODS = (
    "apply_silver",
    "append_transfers",
    "rebuild_tokens",
    "rebuild_owners",
    "touched_buckets",
    "overwrite",
    "get_config",
    "set_config",
)
ENTITY_TABLES = ("token_transfers", "tokens", "owners")


def _traced_store(bench: Bench, store) -> None:
    """Spans around the store's methods; in traced mode each apply_silver
    span also gets the committed files written vs hard-linked, and bytes
    (walked after the span closes, and counted as tracing overhead)."""
    if not bench.tracer.enabled:
        return
    touched = store.touched_buckets

    def touched_buckets(keys):
        out = touched(keys)
        bench.tracer.spans[-1].attrs["buckets_touched_share"] = len(out) / store.n_buckets
        return out

    store.touched_buckets = touched_buckets
    for m in STORE_METHODS:
        bench.tracer.wrap(store, m, f"streaming.store.{m}")
    traced_apply = store.apply_silver

    def apply_silver(*a, **k):
        t = time.perf_counter()
        rows_before = _table_rows(store, "token_transfers")
        bench.overhead_s += time.perf_counter() - t
        traced_apply(*a, **k)
        t = time.perf_counter()
        fs = [walk(current_version(os.path.join(store.root, name)) or "") for name in ENTITY_TABLES]
        rows_after = _table_rows(store, "token_transfers")
        row_bytes = fs[0]["bytes"] / rows_after if rows_after else 0.0
        new_rows = rows_after - rows_before
        sp = [x for x in bench.tracer.spans if x.name == "streaming.store.apply_silver"][-1]
        sp.attrs.update(
            files=sum(f["files"] for f in fs),
            linked_files=sum(f["linked_files"] for f in fs),
            new_bytes=sum(f["new_bytes"] for f in fs),
            new_transfer_rows=new_rows,
            new_transfer_bytes=new_rows * row_bytes,
        )
        bench.overhead_s += time.perf_counter() - t

    store.apply_silver = apply_silver


def _table_rows(store, table: str) -> int:
    cur = current_version(os.path.join(store.root, table))
    return parquet_rows(cur) if cur else 0


def chain_backfill(bench: Bench) -> None:
    from chaingen import BLOCKCHAIN, ChainGenerator

    import block_crawler_spark.streaming.tail as tail_mod
    from block_crawler_spark.operators import verify
    from block_crawler_spark.streaming.store import SilverStore

    n_logs = 60 if bench.tiny else 300
    spark, seed = bench.spark, bench.args.seed

    # set-up, repeated: generate the chain and write its bronze
    setup = []
    for i in range(SETUP_REPS):
        t = time.perf_counter()
        with bench.tracer.span("setup.generate_chain"):
            chain = ChainGenerator(seed).generate(n_logs)
            logs_path, blocks_path = chain.write(os.path.join(bench.run_dir, f"bronze-{i}"))
        setup.append(time.perf_counter() - t)

    # plans.crawl is reached through the tail module's import of it
    crawl = tail_mod.crawl_plan
    if bench.tracer.enabled:
        def crawl_plan(*a, **k):
            with bench.tracer.span("plans.crawl.crawl_plan"):
                return crawl(*a, **k)

        tail_mod.crawl_plan = crawl_plan

    t_start = time.perf_counter()

    def one_pass(i: int) -> dict:
        logs = spark.read.parquet(logs_path)
        blocks = spark.read.parquet(blocks_path)
        store = SilverStore(spark, os.path.join(bench.run_dir, f"silver-{i}"))
        _traced_store(bench, store)
        source = tail_mod.TableChainSource(logs, blocks)
        runner = tail_mod.TailRunner(store, source, blockchain=BLOCKCHAIN, trail_blocks=0)
        done, load_s, ok = bench.op("streaming.tail.run_once", runner.run_once)
        bench.check("backfill_range", ok and done == (0, chain.height), f"run_once returned {done}")
        if ok and done:
            bench.put("blocks_per_batch", done[1] - done[0] + 1, "count")
        if bench.args.fault == "corrupt_silver" and ok:
            _corrupt_one_token(store)
        # nft verify's transfer reconcile: the transfers table is the one the
        # ledger check below does not cover (tokens and owners it does)
        n, verify_s, _ = bench.op(
            "operators.verify.reconcile_transfers",
            lambda: verify.reconcile_transfers(logs, store.read("token_transfers")).count(),
        )
        return {"store": store, "load_s": load_s, "verify_s": verify_s, "reports": {"transfers": n}}

    passes = _repeat(bench, t_start, one_pass)

    # correctness, outside the timed ops: every pass against the ledger
    want_tokens, want_owners = chain.expected()
    for i, p in enumerate(passes):
        for name, n in p["reports"].items():
            bench.check(f"pass{i}.reconcile_{name}", n == 0, f"{n} discrepancy rows")
        _check_silver(bench, p["store"], want_tokens, want_owners, f"pass{i}")

    load_s = median([p["load_s"] for p in passes])
    verify_s = median([p["verify_s"] for p in passes])
    bench.put("backfill_s", load_s, "s")
    bench.put("backfill_events_per_s", len(chain.logs) / load_s, "events/s")
    bench.put("verify_s", verify_s, "s")
    bench.setup_samples = setup


def _corrupt_one_token(store) -> None:
    """Self-test fault: rewrite the tokens table with one quantity off by one."""
    from pyspark.sql import functions as F

    tokens = store.read("tokens")
    victim = tokens.orderBy("collection_id", "token_id_hex").limit(1).collect()[0]
    hit = (F.col("collection_id") == victim["collection_id"]) & (F.col("token_id_hex") == victim["token_id_hex"])
    bad = tokens.withColumn("quantity", F.when(hit, F.col("quantity") + 1).otherwise(F.col("quantity")))
    store.overwrite("tokens", bad.localCheckpoint())


def _int(q):
    """Decimal quantity → int; NULL (uint256 overflow) stays None."""
    return None if q is None else int(q)


def _check_silver(bench: Bench, store, want_tokens: dict, want_owners: dict, tag: str) -> None:
    tok = store.read("tokens").select("collection_id", "token_id_hex", "quantity", "original_owner", "current_owner")
    got_tokens = {
        (r.collection_id, r.token_id_hex): (_int(r.quantity), r.original_owner, r.current_owner)
        for r in tok.toPandas().itertuples()
    }
    own = store.read("owners").select("account", "collection_id", "token_id_hex", "quantity")
    got_owners = {
        (r.account, r.collection_id, r.token_id_hex): _int(r.quantity) for r in own.toPandas().itertuples()
    }
    for what, got, want in (("tokens", got_tokens, want_tokens), ("owners", got_owners, want_owners)):
        diff = {k for k in got.keys() | want.keys() if got.get(k) != want.get(k)}
        sample = sorted(diff)[:3]
        bench.check(
            f"{tag}.silver_{what}",
            not diff,
            f"{len(diff)} of {len(want)} rows differ, e.g. "
            + "; ".join(f"{k}: got {got.get(k)} want {want.get(k)}" for k in sample),
        )


# ---------------------------------------------------------------------------
# analytics_ingest
# ---------------------------------------------------------------------------

# five plans modules (a cold query costs ~2-5 s here, so the mix is cut to
# fit a run); emb_pq_trained_topk is a memoised family
MIX = (
    ("tpch", "tpch_q5_local_supplier"),
    ("events_ops", "evt_window_hourly"),
    ("nft_ops", "nft_token_state_from_lineitem"),
    ("embed_ops", "emb_pq_trained_topk"),
    ("text_ops", "doc_quality_ppm"),
)
MEMOISED = ("emb_pq_trained_topk",)
DOC_DDL = "doc_id long, text string, lang string, source string, n_chars long"


def _fingerprint(text: str) -> str:
    """Independent form of the corpus gate's key: md5 of the lowercased,
    trimmed, whitespace-collapsed text."""
    return hashlib.md5(re.sub(r"\s+", " ", text.strip(" ").lower()).encode()).hexdigest()


def analytics_ingest(bench: Bench) -> None:
    import pyarrow.parquet as pq
    import tablegen

    from block_crawler_spark.plans.registry import all_queries
    from block_crawler_spark.sources import tables
    from block_crawler_spark.streaming.corpus import CorpusIngestStore

    spark, seed = bench.spark, bench.args.seed
    scale, n_docs, batch_docs = (0.05, 80, 40) if bench.tiny else (0.3, 200, 100)

    # set-up, repeated: generate the tables, compact the fact table into
    # the fresh cache (the small tables are read raw by the queries)
    setup, sf = [], None
    for i in range(SETUP_REPS):
        t = time.perf_counter()
        with bench.tracer.span("setup.generate_tables"):
            sf = tablegen.generate(os.path.join(bench.run_dir, f"sf-{i}"), seed, scale, n_docs)
        with bench.tracer.span("sources.tables.load_table"):
            tables.load_table(spark, sf, "lineitem")
        setup.append(time.perf_counter() - t)
    bench.setup_samples = setup

    queries = all_queries()
    order = list(MIX)
    random.Random(seed).shuffle(order)
    t_start = time.perf_counter()

    def run_pass(members) -> tuple[float, dict, dict]:
        t0, outs, secs = time.perf_counter(), {}, {}
        for module, name in members:
            df, b, ok = bench.op(f"plans.{module}.build", queries[name][0], spark, sf)
            if ok:
                outs[name], e, _ = bench.op(f"plans.{module}.exec", df.toPandas)
                secs[name] = b + e
        return time.perf_counter() - t0, outs, secs

    def ingest(i: int) -> dict:
        docs = pq.read_table(os.path.join(sf, "documents.parquet")).to_pylist()
        rng = random.Random(seed * 7919 + i)
        rng.shuffle(docs)
        batches = [docs[j : j + batch_docs] for j in range(0, len(docs), batch_docs)]
        # a seeded share of exact re-sends: earlier texts under fresh ids
        resent, next_id = [], 10**9
        for b in range(1, len(batches)):
            earlier = [d for bb in batches[:b] for d in bb]
            for d in rng.sample(earlier, max(1, len(batches[b]) // 8)):
                resent.append(dict(d, doc_id=next_id))
                batches[b].append(resent[-1])
                next_id += 1
        store = CorpusIngestStore(spark, os.path.join(bench.run_dir, f"corpus-{i}"))
        times, t0 = [], time.perf_counter()
        for b, rows in enumerate(batches):
            df = spark.createDataFrame(rows, DOC_DDL)
            _, s, _ = bench.op("streaming.corpus.ingest_batch", store.ingest_batch, df, b)
            times.append(s)
        wall = time.perf_counter() - t0
        return {"store": store, "batches": batches, "resent": resent, "times": times, "wall": wall}

    def one_pass(i: int) -> dict:
        # the session (and with it every session memo) is new in each run,
        # so the first pass is cold
        cold_s, cold, cold_q = run_pass(order)
        # the memoised members again, now with warm session memos
        warm_s, warm, warm_q = run_pass([m for m in order if m[1] in MEMOISED])
        memo_extra = sum(cold_q.get(n, 0.0) - warm_q.get(n, 0.0) for n in MEMOISED)
        return {"cold_s": cold_s, "warm_s": warm_s, "cold": cold, "warm": warm, "memo_extra": memo_extra,
                "ingest": ingest(i)}

    passes = _repeat(bench, t_start, one_pass)

    # correctness, outside the timed passes
    oracle = _duckdb_oracle(sf, queries, [n for _, n in MIX])
    for i, p in enumerate(passes):
        for _, name in MIX:
            c = p["cold"].get(name)
            bench.check(f"pass{i}.{name}.ran", c is not None)
            if c is None:
                continue
            hc = _frame_hash(c)
            if name in MEMOISED:
                w = p["warm"].get(name)
                bench.check(f"pass{i}.{name}.cold_eq_warm", w is not None and _frame_hash(w) == hc)
            if name in oracle:
                bench.check(f"pass{i}.{name}.oracle", hc == oracle[name], f"spark {hc} duckdb {oracle[name]}")
        _check_corpus(bench, p["ingest"], f"pass{i}")

    ing = [p["ingest"] for p in passes]
    n_in = sum(len(b) for b in ing[0]["batches"])
    docs_per_s = median([n_in / x["wall"] for x in ing])
    bench.put("ingest_s", median([x["wall"] for x in ing]), "s")
    bench.put("mix_cold_s", median([p["cold_s"] for p in passes]), "s")
    bench.put("ingest_docs_per_s", docs_per_s, "docs/s")
    bench.put("memo_cold_extra_s", median([p["memo_extra"] for p in passes]), "s")
    bench.corpus_passes = ing


def _check_corpus(bench: Bench, ing: dict, tag: str) -> None:
    import pandas as pd

    admitted = ing["store"].corpus().select("doc_id", "text").toPandas()
    if bench.args.fault == "admit_duplicate" and len(admitted):
        dup = admitted.iloc[[0]].copy()
        dup["doc_id"] = -1
        admitted = pd.concat([admitted, dup], ignore_index=True)
    ids = set(int(x) for x in admitted["doc_id"])
    fps = [_fingerprint(t) for t in admitted["text"]]
    bench.check(f"{tag}.corpus_unique_fp", len(fps) == len(set(fps)), f"{len(fps) - len(set(fps))} duplicates")
    leaked = [d["doc_id"] for d in ing["resent"] if d["doc_id"] in ids]
    bench.check(f"{tag}.corpus_resends_blocked", not leaked, f"{len(leaked)} re-sends admitted")
    bench.check(f"{tag}.corpus_nonempty", len(ids) > 0)


def _norm(v) -> str:
    import math
    from decimal import Decimal

    import numpy as np

    if v is None:
        return "<NULL>"
    if isinstance(v, (float, np.floating)):
        return "<NULL>" if math.isnan(v) else repr(float(v))
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, np.bool_):
        return str(bool(v))
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, np.ndarray):
        return "[" + ",".join(_norm(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _frame_hash(pdf) -> str:
    """Order-insensitive hash of a pandas frame: columns by name, rows
    stringified and sorted (the registry's oracle comparison)."""
    cols = sorted(pdf.columns)
    lines = sorted(
        "|".join(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.md5()
    h.update(("|".join(cols) + "\n").encode())
    for line in lines:
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def _duckdb_oracle(sf: str, queries: dict, names: list[str]) -> dict:
    import duckdb

    from block_crawler_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        return {n: _frame_hash(con.sql(queries[n][1]).df()) for n in names if queries[n][1] is not None}
    finally:
        con.close()


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
)


def run(args, run_dir: str) -> Result:
    bench = Bench(args, run_dir)
    start_s = bench.start()
    try:
        {"chain_backfill": chain_backfill, "analytics_ingest": analytics_ingest}[args.workload](bench)
        spill = bench.counters.spill_bytes()
        bench.put("setup_s", start_s + median(bench.setup_samples), "s")
        bench.put("peak_rss_mb", bench.peak_rss_mb(), "MB")
        bench.put("failed_share", bench.failed / max(1, bench.attempted), "ratio")
        layer = _layer_metrics(bench, start_s, spill)
        if bench.tracer.enabled:
            bench.tracer.write(os.path.join(run_dir, "spans.jsonl"))
            if args.spans:
                shutil.copy(os.path.join(run_dir, "spans.jsonl"), args.spans)
    finally:
        bench.stop()
    if args.trace:
        bench.report.update(layer)
        metrics = layer
    else:
        metrics = {k: bench.report[k] for k, _ in END_TO_END}
    return Result(bench.checks_ok and bench.failed == 0, bench.attempted, bench.failed, metrics, bench.report)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, with its unit; the same list on every
    workload (a layer a workload does not reach reads 0)."""
    names = [
        ("session.start_s", "s"),
        ("process.peak_rss_mb", "MB"),
        ("sources.tables.load_table.s", "s"),
        ("plans.crawl.crawl_plan.s", "s"),
        ("streaming.tail.run_once.s", "s"),
        ("streaming.tail.blocks_per_batch", "count"),
        ("streaming.store.apply_silver.s", "s"),
        ("streaming.store.apply_silver.jobs", "count"),
    ]
    names += [(f"streaming.store.{m}.s", "s") for m in STORE_METHODS[1:]]
    names += [
        ("streaming.store.files_linked_share", "ratio"),
        ("streaming.store.buckets_touched_share", "ratio"),
        ("streaming.store.write_amplification", "ratio"),
    ]
    names += [("operators.verify.reconcile_transfers.s", "s")]
    for module, _ in sorted(MIX):
        names += [(f"plans.{module}.build_s", "s"), (f"plans.{module}.exec_s", "s")]
    names += [
        ("plans.embed_ops.memo_cold_extra_s", "s"),
        ("streaming.corpus.ingest_batch.s", "s"),
        ("streaming.corpus.batch_s_growth", "s/batch"),
        ("streaming.corpus.admit_share", "ratio"),
        ("streaming.corpus.index_bytes_per_doc", "B/doc"),
        ("spark.jobs", "count"),
        ("spark.tasks", "count"),
        ("spark.shuffle_write_bytes", "bytes"),
        ("spark.spill_bytes", "bytes"),
        ("spark.executor_busy_share", "ratio"),
        ("trace.pass_s", "s"),
        ("trace.overhead_s", "s"),
    ]
    return names


def _layer_metrics(bench: Bench, start_s: float, spill: int) -> dict:
    tr = bench.tracer
    v: dict[str, float] = {"session.start_s": start_s, "process.peak_rss_mb": bench.report["peak_rss_mb"][0]}
    if tr.enabled:
        passes = max(1, int(bench.report["passes"][0]))
        per_pass = lambda name, key="s": bench.span_total(name, key) / passes  # noqa: E731
        v["sources.tables.load_table.s"] = bench.span_total("sources.tables.load_table") / SETUP_REPS
        v["plans.crawl.crawl_plan.s"] = per_pass("plans.crawl.crawl_plan")
        v["streaming.tail.run_once.s"] = per_pass("streaming.tail.run_once")
        v["streaming.store.apply_silver.jobs"] = per_pass("streaming.store.apply_silver", "jobs")
        for m in STORE_METHODS:
            v[f"streaming.store.{m}.s"] = per_pass(f"streaming.store.{m}")
        v["operators.verify.reconcile_transfers.s"] = per_pass("operators.verify.reconcile_transfers")
        for module, name in MIX:
            calls = 2 if name in MEMOISED else 1  # cold, then warm
            v[f"plans.{module}.build_s"] = per_pass(f"plans.{module}.build") / calls
            v[f"plans.{module}.exec_s"] = per_pass(f"plans.{module}.exec") / calls
        v["streaming.tail.blocks_per_batch"] = bench.report.get("blocks_per_batch", (0.0, ""))[0]
        _store_ratios(bench, v)
        v["plans.embed_ops.memo_cold_extra_s"] = bench.report.get("memo_cold_extra_s", (0.0, ""))[0]
        _corpus_layer(bench, v)
        v["trace.overhead_s"] = bench.overhead_s
    v["trace.pass_s"] = bench.report["pass_s"][0]
    cores = len(os.sched_getaffinity(0))
    before, after, wall = bench.pass_counters
    v["spark.jobs"] = after["jobs"] - before["jobs"]
    v["spark.tasks"] = after["tasks"] - before["tasks"]
    v["spark.shuffle_write_bytes"] = after["shuffle_write_bytes"] - before["shuffle_write_bytes"]
    v["spark.spill_bytes"] = spill
    v["spark.executor_busy_share"] = (after["task_ms"] - before["task_ms"]) / 1000.0 / (wall * cores)
    return {name: (float(v.get(name, 0.0)), unit) for name, unit in per_layer_names()}


def _store_ratios(bench: Bench, v: dict) -> None:
    applies = [s for s in bench.tracer.spans if s.name == "streaming.store.apply_silver" and "files" in s.attrs]
    touched = [s.attrs["buckets_touched_share"] for s in bench.tracer.spans if "buckets_touched_share" in s.attrs]
    if applies:
        files = sum(s.attrs["files"] for s in applies)
        v["streaming.store.files_linked_share"] = sum(s.attrs["linked_files"] for s in applies) / max(1, files)
        new_tb = sum(s.attrs["new_transfer_bytes"] for s in applies)
        v["streaming.store.write_amplification"] = sum(s.attrs["new_bytes"] for s in applies) / max(1.0, new_tb)
    if touched:
        v["streaming.store.buckets_touched_share"] = statistics.mean(touched)


def _corpus_layer(bench: Bench, v: dict) -> None:
    ing = getattr(bench, "corpus_passes", None)
    if not ing:
        return
    times = [t for x in ing for t in x["times"]]
    v["streaming.corpus.ingest_batch.s"] = statistics.mean(times)
    slopes = [statistics.linear_regression(range(len(x["times"])), x["times"]).slope for x in ing]
    v["streaming.corpus.batch_s_growth"] = statistics.mean(slopes)
    last = ing[-1]
    store = last["store"]
    docs_dir = os.path.join(store.root, "docs")
    admitted = parquet_rows(docs_dir)
    offered = sum(len(b) for b in last["batches"])
    v["streaming.corpus.admit_share"] = admitted / offered
    idx = walk(os.path.join(store.root, "index"))["bytes"] + walk(os.path.join(store.root, "bindex"))["bytes"]
    v["streaming.corpus.index_bytes_per_doc"] = idx / max(1, admitted)
