"""The benchmark's workloads.  Each is a closed loop with one client: the
next operation starts only after the previous one finished.

``feed_cycle``     the paper's cron pipeline, cycle after cycle: land a feed
                   batch, SCD1-merge it into the partitioned sink with the
                   ``incremental_scd1`` streaming query (``available_now``
                   restart), run the filter pipeline over the sink, write the
                   regional output table.
``query_catalog``  passes over a fixed list of registered queries, one per
                   ``operators/`` module plus two merges, and the curation
                   pipeline, in a seeded order per pass.
"""

from __future__ import annotations

import os
import pickle
import random
import subprocess
import sys
import time
from datetime import datetime, timedelta

import pyarrow.parquet as pq

import datagen
from harness import (
    CALL_LIMIT_S,
    CallTimeout,
    CheckFailed,
    Harness,
    gmean,
    median,
    session_cpu_s,
    tail,
)

TAIL_PCT = 90


def _dir_bytes(path: str) -> dict[str, tuple[int, int]]:
    """``{file: (size, mtime_ns)}`` of the data files under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(root, fn))
            out[os.path.join(root, fn)] = (st.st_size, st.st_mtime_ns)
    return out


class FeedCycle:
    """``feed_cycle``: set-up writes ten days of history, then each cycle
    lands one batch.  The sink's history grows across the run, so later
    cycles re-merge more history (the whole history is re-read per
    micro-batch) while rewriting only the date partitions the batch touched;
    the filter's 7-day window drops the older part of the history."""

    name = "feed_cycle"
    BATCH_ROWS = 2000  # 75% new links, 20% recent links re-delivered with edits, 5% repeats
    DAYS_BACK = 7
    WARMUP_CYCLES = 6

    def __init__(self, spark, h: Harness, run_dir: str, seed: int):
        from pyspark.sql import types as T

        self.spark, self.h = spark, h
        self.landing = os.path.join(run_dir, "landing")
        self.sink = os.path.join(run_dir, "sink")
        self.ckpt = os.path.join(run_dir, "checkpoint")
        self.out = os.path.join(run_dir, "regional")
        os.makedirs(self.landing)
        self.src = datagen.FeedSource(seed, self.BATCH_ROWS)
        self.schema = T.StructType([
            T.StructField(c, T.TimestampType() if c == "published" else T.StringType())
            for c in datagen.STAGE_SCHEMA.names
        ])
        self.want: dict[str, dict] = {}  # host-side SCD1 fold of every landed batch
        self.plant = ""
        self.cycles: list[float] = []
        self.ingest: list[float] = []
        self.cycles_cpu: list[float] = []
        self.ingest_cpu: list[float] = []

    def setup(self) -> None:
        """Write the backfill into the sink with the engine's partitioned
        writer, as if earlier runs had merged it (one row per link, so the
        merge would keep every row); the first cycle's stream reads it as
        its history."""
        from rss_feed_etl_spark.sources.parquet import write_partitioned

        batch = self.src.backfill()
        path = os.path.join(os.path.dirname(self.landing), "backfill.parquet")
        pq.write_table(batch, path)
        with self.h.span("feed.backfill"):
            write_partitioned(self.spark.read.schema(self.schema).parquet(path), self.sink)
        self._fold(batch)
        self._check_sink()

    def warmup(self) -> None:
        # the JIT keeps speeding cycles up for a few cycles after codegen
        for _ in range(self.WARMUP_CYCLES):
            self.cycle(timed=False)

    def step(self) -> None:
        self.cycle(timed=True)

    def _land(self, batch, name: str) -> int:
        """Write ``batch`` to the landing directory; returns the file's size."""
        landed = os.path.join(self.landing, f"batch-{name}.parquet")
        pq.write_table(batch, landed)
        return os.path.getsize(landed)

    def _fold(self, batch) -> None:
        """Fold ``batch`` into the expected sink: keep-last within the batch,
        then new values win but blank new notes keep the old ones
        (``merge_scd1``'s rules, FIXTURES.md section 6)."""
        for link, row in {r["link"]: r for r in batch.to_pylist()}.items():
            old = self.want.get(link)
            if old is not None and (row["notes"] or "").strip() in ("", "nan"):
                row["notes"] = old["notes"]
            self.want[link] = row

    def _ingest(self):
        """One ``incremental_scd1`` restart until its query terminates;
        returns the query and the call's timings."""
        from rss_feed_etl_spark.streaming.incremental import (
            incremental_scd1,
            read_stage_stream,
        )

        query = None

        def start():
            nonlocal query
            query = incremental_scd1(
                read_stage_stream(self.spark, self.landing, self.schema),
                self.sink, self.ckpt, partitioned=True, available_now=True,
            )
            return query

        def await_query(q):
            if not q.awaitTermination(CALL_LIMIT_S):
                raise CallTimeout(f"incremental_scd1 still running after {CALL_LIMIT_S:.0f} s")

        try:
            _, _, timings = self.h.call("streaming", start, await_query)
        finally:
            if query is not None and query.isActive:
                query.stop()
        if self.h.timed:  # the micro-batches run under the query's own job group
            self.h.timed_groups.append(str(query.runId))
        return query, timings

    def cycle(self, timed: bool) -> None:
        from rss_feed_etl_spark import testdata as td
        from rss_feed_etl_spark.plans.filter_pipeline import run_filter_pipeline
        from rss_feed_etl_spark.sources.parquet import read_table, write_overwrite

        h, spark = self.h, self.spark
        c = self.src.cycles
        as_of = self.src.window_end(c)
        before = _dir_bytes(self.sink) | _dir_bytes(self.out) if h.trace else {}
        with h.op("cycle", f"cycle{c}"), h.span("feed.cycle", cycle=c):
            batch = self.src.next_batch()
            t0, c0 = time.perf_counter(), session_cpu_s()
            with h.span("feed.land"):
                input_bytes = self._land(batch, f"{c:05d}")
            t1, c1 = time.perf_counter(), session_cpu_s()
            query, tm_stream = self._ingest()
            t2, c2 = time.perf_counter(), session_cpu_s()
            _, _, tm_filter = h.call(
                "filter_pipeline",
                lambda: run_filter_pipeline(
                    read_table(spark, self.sink).drop("ingest_date"),
                    as_of=as_of.strftime("%Y-%m-%d %H:%M:%S"), days_back=self.DAYS_BACK,
                    content_cols=["summary"], exclude_keywords=td.EXCLUDE_KEYWORDS,
                ),
                lambda df: write_overwrite(df, self.out),
            )
            t3, c3 = time.perf_counter(), session_cpu_s()
            if timed:
                self.cycles.append(t3 - t0)
                self.ingest.append(t2 - t1)
                self.cycles_cpu.append(c3 - c0)
                self.ingest_cpu.append(c2 - c1)
            if h.trace:
                self._trace_cycle(query, tm_stream, tm_filter, before, input_bytes)
            if self.plant == "sink_duplicate":
                self._plant_duplicate()
            if self.plant == "stale_row":
                self._plant_stale()

            # output checks (untimed), read on the host, not by the engine
            self._fold(batch)
            self._check_sink()
            self._check_filter(as_of)

    def _check_sink(self) -> None:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        sink = ds.dataset(self.sink, format="parquet", partitioning="hive").to_table(
            columns=["link"])
        n, links = sink.num_rows, pc.count_distinct(sink["link"]).as_py()
        if n != links or n != self.src.n_links():
            raise CheckFailed(f"sink has {n} rows / {links} links, "
                              f"expected {self.src.n_links()} links")

    def _check_filter(self, as_of: datetime) -> None:
        """The regional output holds exactly the folded rows published in
        the ``DAYS_BACK`` days before ``as_of`` (the filter has no upper
        bound) with content in ``summary`` and no excluded keyword."""
        import pyarrow.dataset as ds

        from rss_feed_etl_spark import testdata as td

        lo = as_of - timedelta(days=self.DAYS_BACK)
        kws = {col: [k.lower() for k in ks] for col, ks in td.EXCLUDE_KEYWORDS.items()}
        want = {
            link for link, r in self.want.items()
            if r["published"] >= lo
            and (r["summary"] or "").strip() not in ("", "nan")
            and not any(k in (r[col] or "").lower() for col, ks in kws.items() for k in ks)
        }
        got = ds.dataset(self.out, format="parquet").to_table(columns=["link"])["link"].to_pylist()
        extra, missing = set(got) - want, want - set(got)
        if extra or missing or len(got) != len(want):
            stale = sum(self.want[k]["published"] < lo for k in extra if k in self.want)
            raise CheckFailed(
                f"filter output has {len(got)} rows, expected {len(want)}: {len(extra)} "
                f"unexpected ({stale} outside the {self.DAYS_BACK}-day window), "
                f"{len(missing)} missing")

    def _plant_duplicate(self) -> None:
        """Self-test only: copy one sink row into a second file, the wrong
        result a merge that forgets a key would leave behind."""
        part = next(f for f in _dir_bytes(self.sink) if f.endswith(".parquet"))
        pq.write_table(pq.read_table(part).slice(0, 1),
                       os.path.join(os.path.dirname(part), "planted.parquet"))

    def _plant_stale(self) -> None:
        """Self-test only: add the oldest link of the history to the regional
        output, the wrong result a filter that ignores its window would give."""
        import pyarrow as pa

        part = next(f for f in _dir_bytes(self.out) if f.endswith(".parquet"))
        table = pq.read_table(part)
        row = table.slice(0, 1).to_pylist()[0]
        row.update(min(self.want.values(), key=lambda r: r["published"]))
        pq.write_table(pa.Table.from_pylist([row], schema=table.schema),
                       os.path.join(self.out, "planted.parquet"))

    def _trace_cycle(self, query, tm_stream: dict, tm_filter: dict, before: dict,
                     input_bytes: int) -> None:
        h = self.h
        for k, v in tm_filter.items():
            h.sample(f"filter_pipeline.{k}", v)
        progress = list(query.recentProgress)
        h.sample("streaming.batches", len(progress))
        for key in ("addBatch", "queryPlanning", "walCommit", "latestOffset", "commitOffsets"):
            h.sample(f"streaming.{key}_ms", sum(p["durationMs"].get(key, 0) for p in progress))
        t0 = time.perf_counter()
        jm = h.stage_metrics(list(self.spark.sparkContext.statusTracker()
                                  .getJobIdsForGroup(str(query.runId))))
        after = _dir_bytes(self.sink) | _dir_bytes(self.out)
        h.trace_self_s += time.perf_counter() - t0
        h.sample("streaming.run_s", tm_stream["build_s"] + tm_stream["exec_s"])
        for k in ("jobs", "task_cpu_s", "shuffle_write_mb", "spill_mb"):
            h.sample(f"streaming.{k}", jm[k])
        written = [sz for f, (sz, mt) in after.items() if before.get(f, (None, None))[1] != mt]
        h.sample("sources.written_mb", sum(written) / 2**20)
        h.sample("sources.files_written", len(written))
        h.sample("sources.input_mb", input_bytes / 2**20)
        h.sample("sources.sink_mb", sum(sz for f, (sz, _) in after.items()
                                        if f.startswith(self.sink)) / 2**20)

    def finish(self) -> None:
        """The sink must equal the host-side SCD1 fold of every batch."""
        import pandas as pd
        import pyarrow.dataset as ds

        with self.h.op("check", "sink_equals_fold"):
            names = datagen.STAGE_SCHEMA.names
            want = pd.DataFrame(list(self.want.values()), columns=names)
            got = ds.dataset(self.sink, format="parquet", partitioning="hive").to_table(
                columns=names).to_pandas()
            frames = []
            for df in (want, got):
                df["published"] = pd.to_datetime(df["published"]).astype("datetime64[us]")
                frames.append(df.sort_values("link").reset_index(drop=True))
            if len(frames[0]) != len(frames[1]) or not frames[0].equals(frames[1]):
                diff = frames[0].merge(frames[1], how="outer", indicator=True)
                n_bad = int((diff["_merge"] != "both").sum())
                raise CheckFailed(f"sink differs from the SCD1 fold of all batches in {n_bad} rows")

    def metrics(self) -> dict:
        return {
            "iter_cpu_s.gmean": gmean(self.cycles_cpu),
            "op_cpu_s.gmean": gmean(self.ingest_cpu),
            "busy_share": self.h.busy_share(sum(self.cycles)),
        }

    def report(self) -> dict:
        return {
            "feed.cycle_s.p50": (median(self.cycles), "s"),
            "feed.cycle_cpu_s.p50": (median(self.cycles_cpu), "s"),
            f"feed.cycle_s.p{TAIL_PCT}": (tail(self.cycles, TAIL_PCT), "s"),
            "feed.ingest_s.p50": (median(self.ingest), "s"),
            "feed.ingest_cpu_s.p50": (median(self.ingest_cpu), "s"),
            f"feed.ingest_s.p{TAIL_PCT}": (tail(self.ingest, TAIL_PCT), "s"),
            "feed.cycles": (len(self.cycles), "count"),
            "feed.links": (self.src.n_links(), "count"),
        }


# (module, registered query): one per operators/ module the feed workload
# does not reach, plus SCD2 and upsert merges (the feed workload runs the
# SCD1 merge through its streaming query)
CATALOG = [
    ("decision_support", "large_order_customers"),
    ("eventanalytics", "session_paths_top"),
    ("timeseries", "holt_forecast"),
    ("profiling", "mad_outliers"),
    ("sketches", "countmin_estimates"),
    ("graph", "degree_assortativity"),
    ("retrieval", "bm25_search"),
    ("linalg", "embedding_covariance"),
    ("clustering", "silhouette_by_cluster"),
    ("similarity", "int8_ann_topk"),
    ("merges", "scd2_merge"),
    ("merges", "merge_upsert"),
]
CURATION = ("curation", "curation_pipeline")
CATALOG_SF = 0.02
CURATION_BASE_DOCS, CURATION_COPIES = 500, 2
FUNNEL = ["n_raw", "n_quality", "n_exact", "n_near", "n_train", "n_clean"]


class QueryCatalog:
    """``query_catalog``: read-only passes, bound by fixed per-query
    overhead, plus one ``curation_pipeline`` run per pass through the
    text-statistics, dedup, sampling, similarity and packing operators."""

    name = "query_catalog"

    def __init__(self, spark, h: Harness, run_dir: str, seed: int):
        self.spark, self.h = spark, h
        self.data = os.path.join(run_dir, "data")
        self.corpus = os.path.join(run_dir, "corpus")
        self.rng = random.Random(seed)
        self.seed = seed
        self.plant = ""
        self.queries: list[float] = []
        self.passes: list[float] = []
        self.curation: list[float] = []
        self.queries_cpu: list[float] = []
        self.passes_cpu: list[float] = []
        self.curation_rows: list[tuple] | None = None

    def setup(self) -> None:
        from rss_feed_etl_spark import driver_queries
        from rss_feed_etl_spark import testdata as td
        from rss_feed_etl_spark.plans.curation_pipeline import curation_pipeline
        from rss_feed_etl_spark.session import tune_session

        datagen.write_tables(self.data, self.seed, CATALOG_SF)
        datagen.write_corpus(self.corpus, self.seed, CURATION_BASE_DOCS, CURATION_COPIES)
        tune_session(self.spark)
        qs = driver_queries.queries()
        self.fns = {name: qs[name] for _, name in CATALOG}
        docs = td.load_table(self.spark, self.corpus, "documents")
        emb = td.load_table(self.spark, self.corpus, "embeddings")
        # the Gopher stopword rule assumes English prose; the corpus is
        # multilingual word salad, so it is re-thresholded to 0 (the
        # pipeline's documented setting for such corpora)
        self.curate = lambda stages=None: curation_pipeline(
            docs, emb, min_stopwords=0, stage_timings=stages)

    def warmup(self) -> None:
        """First pass, untimed: pays codegen and checks every registered
        query against its DuckDB oracle (columns, rows, canonical values),
        the oracles running in a process of their own while Spark works."""
        from check_parity import canon_frame

        names = [name for _, name in CATALOG]
        out = os.path.join(os.path.dirname(self.data), "oracle.pickle")
        proc = subprocess.Popen([sys.executable, os.path.join(os.path.dirname(__file__),
                                                              "oracle.py"), self.data, out, *names])
        want: dict = {}

        def oracle(name: str):
            if not want:
                if proc.wait(timeout=CALL_LIMIT_S) != 0:
                    raise RuntimeError(f"oracle process exited with {proc.returncode}")
                with open(out, "rb") as f:
                    want.update(pickle.load(f))
            return want[name]

        try:
            for name in names:
                with self.h.op("check", name):
                    got = self.fns[name](self.spark, self.data).toPandas()
                    self.spark.catalog.clearCache()
                    if name == self.plant:
                        got.iloc[0, 0] = None  # self-test: a planted wrong value
                    odf = oracle(name)
                    if sorted(got.columns) != sorted(odf.columns):
                        raise CheckFailed(f"columns {sorted(got.columns)} "
                                          f"!= oracle {sorted(odf.columns)}")
                    if len(got) != len(odf):
                        raise CheckFailed(f"{len(got)} rows, oracle {len(odf)}")
                    if canon_frame(got) != canon_frame(odf):
                        raise CheckFailed("values differ from the DuckDB oracle")
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        with self.h.op("check", CURATION[1]):
            rows = self.curate().collect()
            self.spark.catalog.clearCache()
            self.curation_rows = self._check_funnel(rows)

    def _check_funnel(self, rows) -> list[tuple]:
        """The funnel n_raw >= n_quality >= ... >= n_clean holds per source."""
        for r in rows:
            vals = [r[c] for c in FUNNEL]
            if any(a < b for a, b in zip(vals, vals[1:])):
                raise CheckFailed(f"curation funnel not monotone: {r.asDict()}")
        if not sum(r["n_clean"] for r in rows):
            raise CheckFailed("curation kept no document")
        return sorted(tuple(r) for r in rows)

    def step(self) -> None:
        """One timed pass over the catalog, in a seeded order."""
        order = CATALOG + [CURATION]
        self.rng.shuffle(order)
        total = total_cpu = 0.0
        for module, name in order:
            with self.h.op("query", name):
                c0 = session_cpu_s()
                total += self._timed(module, name)
                self.queries_cpu.append(session_cpu_s() - c0)
                total_cpu += self.queries_cpu[-1]
        self.passes.append(total)
        self.passes_cpu.append(total_cpu)

    def _timed(self, module: str, name: str) -> float:
        h, spark = self.h, self.spark
        if name == CURATION[1]:
            stages: dict = {}
            _, rows, tm = h.call("curation", lambda: self.curate(stages), lambda df: df.collect())
            spark.catalog.clearCache()
            if self._check_funnel(rows) != self.curation_rows:
                raise CheckFailed("curation_pipeline result differs from the first run")
            secs = tm["build_s"] + tm["exec_s"]
            self.curation.append(secs)
            self.queries.append(secs)
            if h.trace:
                for k, v in tm.items():
                    h.sample(f"curation.{k}", v)
                for k, v in stages.items():
                    h.sample(f"curation.{k}_s", v)
                h.sample("curation.s6_pack_scorecard_s", tm["exec_s"])
                h.sample("curation.wall_s", secs)
            return secs
        _, _, tm = h.call(
            f"catalog.{module}", lambda: self.fns[name](spark, self.data),
            lambda df: df.write.mode("overwrite").format("noop").save())
        spark.catalog.clearCache()
        secs = tm["build_s"] + tm["exec_s"]
        self.queries.append(secs)
        if h.trace:
            for k in ("build_s", "exec_s", "jobs", "task_cpu_s"):
                h.sample(f"catalog.{module}.{k}", tm[k])
        return secs

    def finish(self) -> None:
        pass

    def metrics(self) -> dict:
        return {
            "iter_cpu_s.gmean": gmean(self.passes_cpu),
            "op_cpu_s.gmean": gmean(self.queries_cpu),
            "busy_share": self.h.busy_share(sum(self.passes)),
        }

    def report(self) -> dict:
        return {
            "catalog.pass_s.p50": (median(self.passes), "s"),
            "catalog.pass_cpu_s.p50": (median(self.passes_cpu), "s"),
            "catalog.query_s.p50": (median(self.queries), "s"),
            "catalog.query_cpu_s.p50": (median(self.queries_cpu), "s"),
            f"catalog.query_s.p{TAIL_PCT}": (tail(self.queries, TAIL_PCT), "s"),
            "curation.run_s.p50": (median(self.curation), "s"),
            "catalog.passes": (len(self.passes), "count"),
            "catalog.queries": (len(self.queries), "count"),
            "curation.docs": (CURATION_BASE_DOCS * CURATION_COPIES, "count"),
        }


WORKLOADS = {w.name: w for w in (FeedCycle, QueryCatalog)}
