"""The workloads: what one op is, how it is checked, and what the set-up
warms.

- ``QueryWorkload`` (price_queries): an op is one registered query. It
  is built by the ``fn(spark, sf_dir)`` call (span ``operators.build``),
  executed by a noop write of the returned plan (``operators.exec``),
  then the data memos are evicted (``memo.clear_all``) so the next op
  pays its own index builds, as in bench.py.
- ``IngestWorkload``: an op is one cron trigger, driving the layer
  functions in ``jobs/ingest_runner.py``'s order: checkpoint load,
  ``read_paginated_api``, ``clean_agmarknet`` + row key + count,
  ``merge_upsert`` of prices and dead letters, checkpoint save.
  ``run_incremental_ingest`` itself is not called: it raises NameError
  after saving the checkpoint.
- ``RefreshWorkload`` (curation_ops): a refresh cycle, the shape of
  jobs/corpus_refresh.py: one trigger lands a batch, then the curation
  queries run.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from agri_market_data_pipeline_spark import memo
from agri_market_data_pipeline_spark.functions.cleaning import clean_agmarknet
from agri_market_data_pipeline_spark.registry import all_oracles, all_queries
from agri_market_data_pipeline_spark.schemas import AGMARKNET_RAW_SCHEMA, TABLE_NAMES
from agri_market_data_pipeline_spark.sources.checkpoint import OffsetCheckpoint
from agri_market_data_pipeline_spark.sources.paginated_api import read_paginated_api
from agri_market_data_pipeline_spark.sources.sinks import merge_upsert
from agri_market_data_pipeline_spark.tables import load
from perfbench.datagen import AgmarknetFeed, star_schema
from perfbench.trace import Tracer
from tools.selfcheck import canon

PACKAGE = "agri_market_data_pipeline_spark."

# Execution-bound: build share at most ~1/4 per op. Read at scale factor
# PRICE_SF (lineitem has 6e6·SF rows). sql_star_join and
# join_shuffle_equi take about the same time and sit in the middle of
# the mix, so the p50 and p75 of a run fall among their samples rather
# than between two ops' latencies.
PRICE_SF = 0.1
PRICE_OPS = ("agg_price_stats", "scan_parquet", "join_shuffle_equi",
             "win_moving_avg", "sql_star_join")
PRICE_TABLES = ("customer", "events", "lineitem", "nation", "orders", "part",
                "region", "supplier")
# Build-bound: plan construction, eager driver jobs and memo builds are
# more than half of each op. Two of them build data memos.
CURATION_OPS = ("ml_kmeans_silhouette", "dedup_near_minhash", "stream_tumbling_agg")
# Their cost is in plan construction, not in rows: the smallest scale.
CURATION_SF = 0.01
CURATION_TABLES = ("documents", "embeddings", "events")
TRIGGER = "trigger"


def make(name: str, work_dir: str, seed: int, seconds: int):
    """The workload called ``name``. A round runs each of its ops once."""
    if name == "price_queries":
        return QueryWorkload(PRICE_OPS, PRICE_TABLES, PRICE_SF, work_dir, seed)
    if name == "curation_ops":
        return RefreshWorkload(CURATION_OPS, CURATION_TABLES, CURATION_SF, work_dir,
                               seed, IngestWorkload(work_dir, seed, seconds))
    raise ValueError(f"unknown workload {name!r}")


def layer_of(op_id: str) -> str:
    """The module an operator lives in, e.g. ``operators.similarity``."""
    return all_queries()[op_id].__module__.removeprefix(PACKAGE)


class QueryWorkload:
    ingest = None  # the IngestWorkload a refresh cycle also drives

    def __init__(self, op_ids: tuple[str, ...], tables: tuple[str, ...],
                 sf: float, work_dir: str, seed: int):
        self.op_ids = op_ids
        self.modules = {op: layer_of(op) for op in op_ids}
        self.tables = tables
        self.sf_dir = star_schema(os.path.join(work_dir, "sf"), seed, sf)

    def round(self, rng) -> list[str]:
        return [str(op) for op in rng.permutation(self.op_ids)]

    def warm_up(self, rng) -> list[str]:
        """What runs untimed after the check: one round. A query's
        first runs after its cold check are up to 40% slower while the
        JIT compiles."""
        return self.round(rng)

    def exhausted(self) -> bool:
        return False

    def warm(self, spark) -> None:
        """Resolve every table the ops read (footer, schema, plan)."""
        for t in self.tables:
            load(spark, self.sf_dir, t).schema

    def check(self, spark, log) -> set[str]:
        """Run every op once, compare its rows with the DuckDB oracle
        (order-insensitive, columns by name, exact doubles) or, with no
        oracle, require rows. Returns the op ids that failed. This pass
        also warms the JVM, so every timed round starts equally warm."""
        oracles = all_oracles()
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.sf_dir, t + '.parquet')}'")
        bad = set()
        for op in self.op_ids:
            t0 = time.perf_counter()
            try:
                df = all_queries()[op](spark, self.sf_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                memo.clear_all()
                spark.catalog.clearCache()
                if op not in oracles:
                    ok = len(rows) > 0
                else:
                    rel = con.sql(oracles[op])
                    ocols = [d[0] for d in rel.description]
                    ok = canon(rows, cols) == canon(rel.fetchall(), ocols)
            except Exception as exc:  # noqa: BLE001 - reported, counted
                log(f"check {op}: raised {exc!r}")
                bad.add(op)
                continue
            log(f"check {op}: {len(rows)} rows, {'ok' if ok else 'WRONG'}, "
                f"{time.perf_counter() - t0:.2f}s")
            if not ok:
                bad.add(op)
        con.close()
        return bad

    def run(self, spark, tracer, op: str) -> tuple[float, dict]:
        """One op; returns its latency (build + exec) and the number of
        data-memo entries it built."""
        fn, mod = all_queries()[op], self.modules[op]
        with tracer.span("op") as sp:
            with tracer.span(f"operators.build:{mod}"):
                df = fn(spark, self.sf_dir)
            with tracer.span(f"operators.exec:{mod}"):
                df.write.format("noop").mode("overwrite").save()
            latency = sp.child_s
            # Data memos are empty when an op starts, so what they hold
            # now is what this op built.
            built = sum(len(c) for c in memo._REGISTRY)
            with tracer.span("memo.clear_all"):
                memo.clear_all()
                spark.catalog.clearCache()
        return latency, {"memo_entries_built": built}


# Feed geometry, the reference cron scaled down tenfold in page size:
# a trigger is PAGES_PER_TRIGGER pages (jobs/ingest_runner.py's
# pages_per_run default) of LIMIT rows (its limit is 1,000), and the
# store is preloaded with STORE_TO_BATCH batches' worth of quotations,
# the ratio of the reference's ~1.5M-row crop corpus
# (tools/agmarknet_demo.py) to one 50k-row cron trigger.
LIMIT = 100
PAGES_PER_TRIGGER = 50
STORE_TO_BATCH = 30
PRELOAD_ROWS = STORE_TO_BATCH * PAGES_PER_TRIGGER * LIMIT
PRELOAD_PAGE = 10_000


def keyed(cleaned):
    """jobs/ingest_runner.py's row identity: sha256 over the natural
    key, NULL components replaced by a sentinel before hashing."""
    key_cols = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
        for c in ("State", "District", "Market", "Commodity", "Variety",
                  "Grade", "Arrival_Date")
    ]
    return cleaned.withColumn("row_key", F.sha2(F.concat_ws("\x1f", *key_cols), 256))


def tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class IngestWorkload:
    def __init__(self, work_dir: str, seed: int, seconds: int):
        # one trigger a round (the warm-up round too), a round 7-9 s at
        # HEAD on 3 task threads: the feed outlasts a program several
        # times faster
        self.feed = AgmarknetFeed(
            os.path.join(work_dir, "feed"), seed, limit=LIMIT,
            pages_per_trigger=PAGES_PER_TRIGGER, n_triggers=seconds // 2 + 2,
            preload_rows=PRELOAD_ROWS, preload_page=PRELOAD_PAGE)
        self.store = os.path.join(work_dir, "store")
        # merge_upsert's table lock lives beside the table: the store
        # directory has to exist before the first upsert.
        os.makedirs(self.store)
        self.prices = os.path.join(self.store, "prices")
        self.dead_letters = os.path.join(self.store, "dead_letters")
        self.ckpt = OffsetCheckpoint(os.path.join(self.store, "progress.json"))
        self.fetch = self.feed.fetcher()
        self.triggers = 0

    def preload(self, spark) -> None:
        """Ingest the preload with the trigger's own calls, untimed."""
        self.ingest(spark, Tracer(spark, enabled=False), 0, self.feed.first_offset,
                    self.feed.preload_page)
        self.ckpt.save(self.feed.first_offset)

    def exhausted(self) -> bool:
        return self.ckpt.load() >= self.feed.end_offset

    def run(self, spark, tracer) -> tuple[float, dict]:
        """One trigger; returns its latency and what it moved."""
        before = tree_files(self.store)
        with tracer.span("trigger") as sp:
            start = self.ckpt.load()
            end = min(start + PAGES_PER_TRIGGER * LIMIT, self.feed.end_offset)
            kept, n_dead = self.ingest(spark, tracer, start, end, LIMIT)
            with tracer.span("sources.checkpoint.save"):
                self.ckpt.save(end)
        self.triggers += 1
        after = tree_files(self.store)
        new = [p for p in after if p not in before]
        rows, clean_bytes = (int(s[(s.index >= start) & (s.index < end)].sum())
                             for s in (self.feed.page_rows, self.feed.page_clean_bytes))
        return sp.duration, {
            "trigger_s": sp.duration,
            "dead_pages": n_dead,
            "rows": rows,
            "rows_kept": kept,
            "clean_bytes": clean_bytes,
            "bytes_written": sum(after[p] for p in new),
            "files_written": len(new),
        }

    def ingest(self, spark, tracer, start: int, end: int, limit: int) -> tuple[int, int]:
        """Offsets [start, end) in ``jobs/ingest_runner.py``'s order: fetch,
        clean + row key + count, upsert prices and dead letters. Returns
        the rows kept and the dead pages."""
        with tracer.span("sources.paginated_api.read"):
            records, dead = read_paginated_api(
                spark, self.fetch, start_offset=start, max_offset=end,
                limit=limit, schema=AGMARKNET_RAW_SCHEMA,
                num_partitions=spark.sparkContext.defaultParallelism,
                pace=0.0, throttle_s=0.0)
        with tracer.span("functions.cleaning.clean"):
            batch = keyed(clean_agmarknet(records))
            kept = batch.count()
        with tracer.span("sources.sinks.merge_upsert"):
            merge_upsert(spark, self.prices,
                         batch.withColumnRenamed("_src_offset", "src_offset"),
                         keys=["row_key"], order_col="src_offset")
            n_dead = dead.count()
            if n_dead:
                merge_upsert(spark, self.dead_letters, dead,
                             keys=["offset"], order_col="offset")
        return kept, n_dead

    def space_amp(self) -> float:
        """Store bytes per byte of live rows (as crop-CSV text)."""
        live = self.feed.expected_store(self.ckpt.load())["csv_bytes"].sum()
        return sum(tree_files(self.prices).values()) / live

    def check(self) -> list[str]:
        """The four ingest invariants; returns the ones violated."""
        end = self.ckpt.load()
        feed = self.feed
        table = pq.read_table(self.prices).to_pandas()
        want = feed.expected_store(end)
        got = set(zip(*(table[c] for c in feed.KEY), table["src_offset"],
                      table["Modal_Price"]))
        bad = []
        if table["row_key"].nunique() != len(table):
            bad.append("one row per row_key")
        if got != set(zip(*(want[c] for c in feed.KEY), want["_src_offset"],
                          want["Modal_Price"])):
            bad.append("newest src_offset wins")
        want_end = min(feed.first_offset + self.triggers * PAGES_PER_TRIGGER * LIMIT,
                       feed.end_offset)
        if end != want_end:
            bad.append(f"checkpoint {end} != feed end {want_end}")
        dead = (set(pq.read_table(self.dead_letters)["offset"].to_pylist())
                if os.path.exists(self.dead_letters) else set())
        if dead != {o for o in feed.failing if o < end}:
            bad.append("dead letters != planted failing pages")
        return bad


class RefreshWorkload(QueryWorkload):
    """A refresh cycle: one cron trigger lands a batch of prices, then
    every query runs."""

    def __init__(self, op_ids, tables, sf, work_dir, seed, ingest):
        super().__init__(op_ids, tables, sf, work_dir, seed)
        self.ingest = ingest

    def round(self, rng) -> list[str]:
        return [TRIGGER] + super().round(rng)

    def warm_up(self, rng) -> list[str]:
        """One trigger, the only op the check did not run; it is checked
        with the rest. A whole warm-up round would add about 7 s to every
        run (see RECORD.md)."""
        return [TRIGGER]

    def exhausted(self) -> bool:
        return self.ingest.exhausted()

    def run(self, spark, tracer, item: str) -> tuple[float, dict]:
        if item == TRIGGER:
            return self.ingest.run(spark, tracer)
        return super().run(spark, tracer, item)
