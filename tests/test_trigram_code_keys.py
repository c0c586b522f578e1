"""Source MI and JSD key trigrams by a 60-bit md5 code, not by the string.

``source_token_mutual_info`` and ``source_js_divergence_matrix`` count
trigrams under ``md5_bucket(concat_ws(" ", a, b, c))``, and their DuckDB
oracles hash the same way, so parity alone cannot show that two distinct
trigrams never share a code.  The reference below keys trigrams by their
strings in plain Python: equal type counts and equal values pin that the
coded path loses nothing to collisions.
"""

import math
from collections import Counter
from itertools import combinations

from rss_feed_etl_spark.operators import textstats

# Four sources: three share some phrasing, ``d`` shares no trigram with any.
DOCS = [
    ("a", "the quick brown fox jumps over the lazy dog"),
    ("a", "the quick brown fox sleeps under the old tree"),
    ("a", "a lazy dog sleeps under the old tree all day"),
    ("a", "the quick brown fox jumps over the lazy dog again"),
    ("a", "over the lazy dog the fox jumps"),
    ("b", "market prices rose over the lazy dog season"),
    ("b", "market prices fell under the old tree index"),
    ("b", "the quick brown fox jumps over market prices"),
    ("b", "prices rose and prices fell and prices rose"),
    ("b", "market prices rose market prices fell"),
    ("c", "the quick brown fox reads market prices daily"),
    ("c", "a lazy dog reads the news all day"),
    ("c", "the news all day is the news all night"),
    ("c", "under the old tree the news all day"),
    ("c", "short"),
    ("d", "zeta eta theta iota kappa lambda"),
    ("d", "eta theta iota kappa mu nu"),
    ("d", "kappa lambda mu nu xi omicron"),
    ("d", "xi omicron pi rho sigma tau"),
    ("d", "Zeta ETA theta"),
]


def _trigram_counts():
    """source -> Counter of lowercase word-trigram strings."""
    out = {}
    for src, text in DOCS:
        toks = text.lower().split()
        grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        out.setdefault(src, Counter()).update(grams)
    return out


def _df(spark):
    return spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(DOCS)], "doc_id long, source string, text string"
    )


def test_mutual_info_matches_string_keyed_reference(spark):
    counts = _trigram_counts()
    n_s = {s: sum(c.values()) for s, c in counts.items()}
    n_t = Counter()
    for c in counts.values():
        n_t.update(c)
    n_all = sum(n_s.values())
    mi = sum(
        (c / n_all) * math.log(c * n_all / (n_s[s] * n_t[t]))
        for s, cs in counts.items()
        for t, c in cs.items()
    )
    h = -sum((n / n_all) * math.log(n / n_all) for n in n_s.values())

    (row,) = textstats.source_token_mutual_info(_df(spark)).collect()

    assert row["n_tokens"] == n_all
    assert row["n_sources"] == len(counts)
    assert row["n_types"] == len(n_t)
    assert abs(row["mi_nats"] - mi) < 1e-6
    assert abs(row["h_source_nats"] - h) < 1e-6
    assert abs(row["nmi"] - mi / h) < 1e-5


def test_js_divergence_matches_string_keyed_reference(spark):
    counts = _trigram_counts()
    want = {}
    for a, b in combinations(sorted(counts), 2):
        ca, cb = counts[a], counts[b]
        na, nb = sum(ca.values()), sum(cb.values())
        shared = ca.keys() & cb.keys()
        jsd = 0.0
        for t in shared:
            p1, p2 = ca[t] / na, cb[t] / nb
            jsd += (p1 / 2) * math.log(2 * p1 / (p1 + p2))
            jsd += (p2 / 2) * math.log(2 * p2 / (p1 + p2))
        m1 = sum(ca[t] for t in shared) / na
        m2 = sum(cb[t] for t in shared) / nb
        jsd += (math.log(2) / 2) * (2 - m1 - m2)
        want[(a, b)] = (len(shared), jsd)

    got = {
        (r["source_a"], r["source_b"]): (r["n_common_types"], r["jsd_nats"])
        for r in textstats.source_js_divergence_matrix(_df(spark)).collect()
    }

    assert got.keys() == want.keys()
    for pair, (n_common, jsd) in want.items():
        assert got[pair][0] == n_common, pair
        assert abs(got[pair][1] - jsd) < 1e-6, pair
    # the disjoint source is the ln 2 ceiling against every other source
    assert [want[(s, "d")][0] for s in "abc"] == [0, 0, 0]
