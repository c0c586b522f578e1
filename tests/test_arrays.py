"""Token-sequence builders: ``text.tokens``, ``text.shingles``,
``arrays.ngrams`` and ``arrays.ordered_pairs`` each equal, value for
value, the hand-rolled expressions they replaced — for n = 1, 2, 3, n
longer than the text, empty / blank / null text, character bigrams, the
padded short-document shingle, and pairs over buckets of size 0, 1, 2
and 5 with a repeated id.  A guard keeps the hand-rolled tokenizer and
pair expansion from coming back.
"""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from rss_feed_etl_spark.functions.arrays import ngrams, ordered_pairs
from rss_feed_etl_spark.functions.hashing import token_code
from rss_feed_etl_spark.functions.text import shingles, tokens, word_shingles
from rss_feed_etl_spark.operators import textstats

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "  Alpha  beta   GAMMA ",
    "a a a b a a",
    "one",
    "two words",
    "",
    "   ",
    None,
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    )


def _assert_same(df, new, old):
    rows = df.select("doc_id", new.alias("new"), old.alias("old")).orderBy("doc_id").collect()
    assert len(rows) == df.count()
    for r in rows:
        assert r["new"] == r["old"], (r["doc_id"], r["new"], r["old"])


def _zip_slices(toks, n, names):
    # the arrays_zip-of-shifted-slices form (top_bigrams, _bigram_pairs,
    # _trigram_triples, hot_shingles, bpe_merge_candidates)
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(toks, i + 1, cnt).alias(names[i]) for i in range(n)])


def _as_tuples(col, names):
    return F.transform(col, lambda s: F.array(*[s[k] for k in names]))


def test_tokens_equal_inline_split(docs):
    c = F.col("text")
    _assert_same(docs, tokens(c), F.split(F.trim(c), r"\s+"))
    _assert_same(docs, tokens("text"), F.split(F.trim(F.col("text")), r"\s+"))
    # dedup's order-insensitive fingerprint lowered after trimming
    _assert_same(docs, tokens(F.lower(c)), F.split(F.lower(F.trim(c)), r"\s+"))


@pytest.mark.parametrize("n", [1, 2, 3, 12])
def test_ngrams_equal_zipped_slices(docs, n):
    toks = tokens(F.lower(F.col("text")))
    names = [f"w{i}" for i in range(n)]
    abc = ["a", "b", "c"] + [f"x{i}" for i in range(3, n)]
    new = _as_tuples(ngrams(toks, n), names)
    _assert_same(docs, new, _as_tuples(_zip_slices(toks, n, names), names))
    _assert_same(docs, new, _as_tuples(_zip_slices(toks, n, abc), abc[:n]))


@pytest.mark.parametrize("n", [1, 2, 3, 12])
def test_ngrams_match_python_reference(docs, n):
    got = {
        r["doc_id"]: r["g"]
        for r in docs.select("doc_id", _as_tuples(ngrams(tokens("text"), n), [f"w{i}" for i in range(n)]).alias("g")).collect()
    }
    for i, t in enumerate(TEXTS):
        if t is None:
            assert got[i] is None
            continue
        toks = re.split(r"\s+", t.strip(" "))  # Spark split keeps the one '' token of blank text
        assert got[i] == [toks[j : j + n] for j in range(len(toks) - n + 1)], (i, t)


def test_bigram_strings_equal_zip_with(docs):
    # sampling's bigram strings were a zip_with of the two slices
    toks = tokens(F.lower(F.col("text")))
    n2 = F.greatest(F.size(toks) - 1, F.lit(0))
    old = F.zip_with(F.slice(toks, 1, n2), F.slice(toks, 2, n2), lambda x, y: F.concat_ws(" ", x, y))
    new = F.transform(ngrams(toks, 2), lambda s: F.concat_ws(" ", s["w0"], s["w1"]))
    _assert_same(docs, new, old)


def test_char_bigrams_equal_zipped_slices(spark):
    words = spark.createDataFrame(
        [(0, "hello"), (1, "ab"), (2, "a"), (3, "")], "doc_id long, w string"
    )
    chars = F.split(F.col("w"), "")
    names = ["a", "b"]
    _assert_same(
        words,
        _as_tuples(ngrams(chars, 2), ["w0", "w1"]),
        _as_tuples(_zip_slices(chars, 2, names), names),
    )


def test_ngram_rows_equal_old_row_builders(docs):
    def old_rows(n):
        toks = tokens(F.lower(F.col("text")))
        names = ["a", "b", "c"][:n]
        return docs.select(
            F.col("doc_id").alias("id"), F.explode(_zip_slices(toks, n, names)).alias("p")
        ).select("id", *[F.col(f"p.{k}").alias(k) for k in names])

    for n in (2, 3):
        new = textstats._ngram_rows(docs, "doc_id", "text", n)
        assert new.columns == old_rows(n).columns
        assert sorted(new.collect()) == sorted(old_rows(n).collect())


@pytest.mark.parametrize("n", [1, 2, 3, 12])
def test_padded_shingles_equal_sequence_form(docs, n):
    toks = tokens(F.col("text"))
    old = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    _assert_same(docs, shingles(toks, n), old)
    _assert_same(docs, word_shingles("text", n), F.array_distinct(old))
    # winnow_fingerprints hashed each padded gram inside one transform
    old_codes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
        lambda i: token_code(F.array_join(F.slice(toks, i, n), " ")),
    )
    _assert_same(docs, F.transform(shingles(toks, n), token_code), old_codes)


def test_short_document_shingle_is_the_whole_text(docs):
    got = {r["doc_id"]: r["s"] for r in docs.select("doc_id", shingles(tokens("text"), 3).alias("s")).collect()}
    assert got[3] == ["one"]
    assert got[4] == ["two words"]
    assert got[5] == [""] and got[6] == [""]
    assert got[7] == [None]  # null text pads to one null shingle


BUCKETS = [[], [7], [3, 9], [1, 2, 4, 8, 16], [5, 5, 6]]


@pytest.fixture(scope="module")
def buckets(spark):
    return spark.createDataFrame(
        [(i, b) for i, b in enumerate(BUCKETS)], "doc_id long, ids array<long>"
    )


def test_ordered_pairs_equal_flatten_slice(buckets):
    m = F.col("ids")
    old = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.greatest(F.size(m) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    new = ordered_pairs(m, lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")))
    _assert_same(buckets, new, old)


def test_ordered_pairs_match_python_reference(buckets):
    got = {
        r["doc_id"]: [tuple(p) for p in r["p"]]
        for r in buckets.select(
            "doc_id", ordered_pairs(F.col("ids"), lambda x, y: F.array(x, y)).alias("p")
        ).collect()
    }
    for i, b in enumerate(BUCKETS):
        want = [(b[a], b[c]) for a in range(len(b)) for c in range(a + 1, len(b))]
        assert got[i] == want, (i, b)
    assert got[4] == [(5, 5), (5, 6), (5, 6)]  # the repeated id pairs with itself


_PKG = pathlib.Path(__file__).resolve().parent.parent / "rss_feed_etl_spark"
_HOMES = {_PKG / "functions" / "text.py", _PKG / "functions" / "arrays.py"}


def test_no_hand_rolled_tokenizer_or_pair_expansion():
    hits = [
        f"{p.relative_to(_PKG)}:{n}"
        for p in sorted(_PKG.rglob("*.py"))
        if p not in _HOMES
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "F.slice(m, i + 2" in line or "F.split(F.trim(" in line
    ]
    assert hits == []
