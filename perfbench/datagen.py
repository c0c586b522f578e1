"""Seeded generator for the benchmark's input tables.

Writes the same ten tables as the engine's shipped test data (TPC-H-ish star
schema, an ``events`` stream, a ``documents`` corpus and ``embeddings``), with
the same column names, types and value shapes, so every registered query and
its DuckDB oracle run on them unchanged.  Sizes follow the scale factor:
``sf=0.1`` gives 100k events, 600k line items, 5k documents and 2k
embeddings.  The same seed always gives the same bytes.

Feed batches for the ``feed_cycle`` workload come from :class:`FeedSource`:
event rows mapped onto the stage schema exactly as
``rss_feed_etl_spark.testdata.stage_rows`` maps them, mixed with recent links
re-delivered with changed fields and with repeats within the batch.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6
TPCH_T0 = np.datetime64("1995-01-01", "us")


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    return TPCH_T0 + rng.integers(0, span_days, n).astype("timedelta64[D]")


def events_table(rng: np.random.Generator, n: int, n_users: int, id0: int = 0,
                 t0: np.datetime64 = EVENTS_T0, span_us: int = EVENT_SPAN_US) -> pa.Table:
    """``n`` events in time order, ids from ``id0``, spread over ``span_us``."""
    ts = t0 + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary: 5% near duplicates
    (another document's text plus `` dup``) and a few exact duplicates."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    near = rng.choice(n, size=n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    part_names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(part_names[rng.integers(0, 64, n_part)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(_days(rng, n_ord, 2404)),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts(_days(rng, n_li, 2499)),
        }),
    }


def write_tables(out_dir: str, seed: int, sf: float,
                 groups: tuple[str, ...] = ("tpch", "events", "documents", "embeddings")) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every table of ``groups``
    (``tpch`` is the seven-table star schema).  Each group draws from its
    own child stream of ``seed``, so a group's bytes do not depend on which
    other groups are written."""
    os.makedirs(out_dir, exist_ok=True)
    streams = dict(zip(
        ("tpch", "events", "documents", "embeddings"),
        np.random.SeedSequence(seed).spawn(4),
    ))
    rng = {g: np.random.default_rng(streams[g]) for g in groups}
    tables: dict[str, pa.Table] = {}
    if "tpch" in groups:
        tables.update(tpch_tables(rng["tpch"], sf))
    if "events" in groups:
        tables["events"] = events_table(rng["events"], int(1_000_000 * sf), int(15_000 * sf))
    if "documents" in groups:
        tables["documents"] = documents_table(rng["documents"], int(50_000 * sf))
    if "embeddings" in groups:
        tables["embeddings"] = embeddings_table(rng["embeddings"], int(20_000 * sf))
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_corpus(out_dir: str, seed: int, base_docs: int, copies: int) -> None:
    """A ``copies``-fold documents/embeddings corpus: copy ``k`` suffixes
    every token with ``c<k>`` and rotates every embedding by ``k`` positions
    (as ``bench.py``'s scaled corpus does), so each copy has the base's
    near-duplicate and similarity structure and no cross-copy overlap."""
    os.makedirs(out_dir, exist_ok=True)
    s_docs, s_emb = np.random.SeedSequence([seed, 11]).spawn(2)
    docs = documents_table(np.random.default_rng(s_docs), base_docs)
    emb = embeddings_table(np.random.default_rng(s_emb), base_docs * 2 // 5)
    doc_parts, emb_parts = [], []
    for k in range(copies):
        text = docs["text"].to_pylist()
        if k:
            text = [" ".join(w + f"c{k}" for w in t.split()) for t in text]
        doc_parts.append(pa.table({
            "doc_id": pa.array(docs["doc_id"].to_numpy() + k * 1_000_000),
            "text": pa.array(text),
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }))
        vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
        emb_parts.append(pa.table({
            "vec_id": pa.array(emb["vec_id"].to_numpy() + k * 1_000_000),
            "embedding": pa.array(list(np.roll(vecs, -k, axis=1)), type=pa.list_(pa.float32())),
            "label": emb["label"],
        }))
    pq.write_table(pa.concat_tables(doc_parts), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.concat_tables(emb_parts), os.path.join(out_dir, "embeddings.parquet"))


# --- feed batches ------------------------------------------------------------

STAGE_SCHEMA = pa.schema([
    ("job_title", pa.string()),
    ("link", pa.string()),
    ("entry_title", pa.string()),
    ("published", pa.timestamp("us")),
    ("feed_title", pa.string()),
    ("reader", pa.string()),
    ("time_window", pa.string()),
    ("summary", pa.string()),
    ("notes", pa.string()),
])
FEED_T0 = datetime(2024, 1, 1)
CYCLE_HOURS = 12  # two cron runs a day (BASELINE.md, pipeline schedule)
FEEDS = 14  # BASELINE.md: 14 RSS feeds
BACKFILL_DAYS = 10  # history landed before the first cycle; longer than the 7-day filter window
# Traffic shape of one cycle's batch.  The reference publishes no traffic
# figures, so these shares are unverified guesses with the shape its setup
# implies: a feed reader refreshes every 15 minutes and each refresh serves
# the feed's recent entries (BASELINE.md, ingest cadence), so a run sees
# recent entries again, some of them edited, and one batch can hold the same
# entry twice (FIXTURES.md section 1: duplicates within a batch, keep-last).
RECENT_HOURS = 48  # an entry is still served this long after it was published
REDELIVER_SHARE = 0.2  # recent earlier links served again with edited fields
REPEAT_SHARE = 0.05  # exact repeats of rows already in the batch
FEED_USERS = 1500


class FeedSource:
    """Seeded feed.  :meth:`backfill` gives ``BACKFILL_DAYS`` of history
    (one row per link); batch ``c`` then holds the entries published in
    cycle ``c``'s 12-hour window, re-deliveries of links published in the
    ``RECENT_HOURS`` before that window with edited titles and summaries
    (same ``published``, so they land in the recent partitions of their
    originals), and exact repeats of some of the batch's own rows."""

    def __init__(self, seed: int, batch_rows: int):
        self.rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
        self.n_redeliver = int(batch_rows * REDELIVER_SHARE)
        self.n_repeat = int(batch_rows * REPEAT_SHARE)
        self.n_new = batch_rows - self.n_redeliver - self.n_repeat
        self.cycles = 0
        self.recent: pa.Table | None = None  # first deliveries still served by their feed
        self.next_id = 0

    def window_end(self, cycle: int) -> datetime:
        return FEED_T0 + timedelta(hours=CYCLE_HOURS * (cycle + 1))

    def n_links(self) -> int:
        return self.next_id

    def _new_links(self, n: int, start: datetime, hours: int) -> pa.Table:
        ev = events_table(self.rng, n, FEED_USERS, id0=self.next_id,
                          t0=np.datetime64(start, "us"), span_us=hours * 3600 * 10**6)
        self.next_id += n
        return stage_from_events(ev)

    def _keep_recent(self, tables: list[pa.Table], until: datetime) -> None:
        import pyarrow.compute as pc

        recent = pa.concat_tables(tables)
        cut = pa.scalar(until - timedelta(hours=RECENT_HOURS), type=pa.timestamp("us"))
        self.recent = recent.filter(pc.greater_equal(recent["published"], cut))

    def backfill(self) -> pa.Table:
        """History before the first cycle, at the cycles' rate of new links."""
        days = BACKFILL_DAYS
        table = self._new_links(self.n_new * days * 24 // CYCLE_HOURS,
                                FEED_T0 - timedelta(days=days), days * 24)
        self._keep_recent([table], FEED_T0)
        return table

    def next_batch(self) -> pa.Table:
        c = self.cycles
        new = self._new_links(self.n_new, self.window_end(c - 1), CYCLE_HOURS)
        pick = self.rng.choice(self.recent.num_rows, size=self.n_redeliver, replace=False)
        old = self.recent.take(pa.array(np.sort(pick)))
        edit = self.rng.integers(0, 1000, old.num_rows)
        edited = pa.table({
            **{col: old[col] for col in STAGE_SCHEMA.names},
            "entry_title": pa.array([
                f"{t} rev{e}" for t, e in zip(old["entry_title"].to_pylist(), edit)]),
            "summary": pa.array([f'{{"k": {e}, "rev": {c}}}' for e in edit]),
            "notes": pa.array([""] * old.num_rows),
        }, schema=STAGE_SCHEMA)
        served = pa.concat_tables([new, edited])
        repeats = served.take(pa.array(self.rng.integers(0, served.num_rows, self.n_repeat)))
        batch = pa.concat_tables([served, repeats])
        batch = batch.take(pa.array(self.rng.permutation(batch.num_rows)))
        self._keep_recent([self.recent, new], self.window_end(c))
        self.cycles += 1
        return batch


def stage_from_events(ev: pa.Table) -> pa.Table:
    """``testdata.stage_rows`` on the host: one stage row per event."""
    eid = ev["event_id"].to_numpy()
    uid = ev["user_id"].to_numpy()
    etype = ev["event_type"].to_numpy(zero_copy_only=False)
    value = ev["value"].to_numpy()
    props = ev["props"].to_numpy(zero_copy_only=False)
    summary = np.where(value < 1.0, "", np.where(value < 2.0, "nan", props))
    notes = np.where(uid % 10 == 0, np.char.add("note-", uid.astype(str)), "")
    return pa.table({
        "job_title": pa.array(etype),
        "link": pa.array(np.char.add("e", eid.astype(str))),
        "entry_title": pa.array(np.char.add(np.char.add(etype.astype(str), " "), uid.astype(str))),
        "published": ev["ts"],
        "feed_title": pa.array(np.char.add("feed", (uid % FEEDS).astype(str))),
        "reader": pa.array(["rss.app"] * len(eid)),
        "time_window": pa.array(["15min"] * len(eid)),
        "summary": pa.array(summary.astype(str)),
        "notes": pa.array(notes.astype(str)),
    }, schema=STAGE_SCHEMA)
