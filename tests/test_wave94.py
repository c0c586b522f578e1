"""Wave 94: next-item pairs, IPF raking, vocab coverage curve."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from rss_feed_etl_spark.operators import eventanalytics, sampling, textstats


def _ev(eid, uid, item, minute, etype="view"):
    props = f'{{"k": {item}}}' if item is not None else "{}"
    return Row(
        event_id=eid,
        user_id=uid,
        event_type=etype,
        ts=dt.datetime(2024, 1, 1, 0, minute),
        props=props,
    )


def test_next_item_pairs_order_selfloops_and_nulls(spark):
    rows = [
        _ev(1, 7, 10, 5),          # 10 -> 20 (after reordering by ts)
        _ev(2, 7, 20, 9),          # 20 -> 20 self-transition: dropped
        _ev(3, 7, 20, 12),         # 20 -> 30
        _ev(4, 7, 30, 20),
        _ev(5, 7, None, 15),       # null item: skipped entirely
        _ev(6, 8, 99, 1, "click"),  # wrong event type: ignored
        _ev(7, 8, 1, 2),           # single view: no pair
    ]
    out = eventanalytics.next_item_training_pairs(spark.createDataFrame(rows))
    got = {(r.user_id, r.context_item, r.next_item) for r in out.collect()}
    assert got == {(7, 10, 20), (7, 20, 30)}
    buckets = [r.neg_bucket for r in out.collect()]
    assert all(0 <= b < 1024 for b in buckets)


def test_ipf_weights_balance_marginals(spark):
    # skewed 2x2 grid: source a = 30 docs, source b = 10; en = 32, fr = 8.
    # After raking, per-source weighted totals approach total/2 = 20 and
    # per-lang totals approach 20 as iterations increase.
    rows = (
        [Row(doc_id=i, source="a", lang="en") for i in range(24)]
        + [Row(doc_id=100 + i, source="a", lang="fr") for i in range(6)]
        + [Row(doc_id=200 + i, source="b", lang="en") for i in range(8)]
        + [Row(doc_id=300 + i, source="b", lang="fr") for i in range(2)]
    )
    out = sampling.ipf_source_lang_weights(spark.createDataFrame(rows), iters=3)
    cells = {(r.source, r.lang): r for r in out.collect()}
    assert len(cells) == 4
    src_tot = {
        s: sum(r.cell_weight for (s2, _), r in cells.items() if s2 == s)
        for s in ("a", "b")
    }
    lang_tot = {
        lg: sum(r.cell_weight for (_, l2), r in cells.items() if l2 == lg)
        for lg in ("en", "fr")
    }
    for tot in list(src_tot.values()) + list(lang_tot.values()):
        assert abs(tot - 20.0) < 0.5, (src_tot, lang_tot)
    # doc_weight is the per-document factor
    for key, r in cells.items():
        assert abs(r.doc_weight - r.cell_weight / r.n_docs) < 1e-6, key


def test_vocab_coverage_curve_known_counts(spark):
    # counts: the x4, b x2, c x1, d x1 -> total 8
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="the the b c"), Row(doc_id=2, text="the the b d")]
    )
    out = {
        r.v: r
        for r in textstats.vocab_coverage_curve(docs, vs=(1, 2, 10)).collect()
    }
    assert out[1].covered_occurrences == 4 and out[1].coverage == 0.5
    assert out[2].covered_occurrences == 6 and out[2].coverage == 0.75
    # V beyond vocab size covers everything
    assert out[10].covered_occurrences == 8 and out[10].coverage == 1.0
