"""The bucket-pair primitive behind the banded dedup kernels
(jaccard prefix index, simhash bands, embedding LSH): its output must be
exactly the brute-force C(m, 2) pairs of every bucket."""

from __future__ import annotations

from collections import Counter
from itertools import combinations

import pytest

from raise_featurestore_spark.dataprep.dedup import _bucket_pairs

# (band, key, id, w); ids are inserted out of order within buckets
ROWS = [
    (0, 1, 3, 30), (0, 1, 1, 10), (0, 1, 2, 20),  # 3 pairs
    (0, 2, 4, 40),  # singleton
    (0, 3, 5, 50), (0, 3, 2, 20),  # (2, 5)
    (1, 1, 2, 20), (1, 1, 1, 10),  # (1, 2) again: shares two buckets
    (1, 7, 6, 60),  # singleton
    (1, 8, 9, 90), (1, 8, 9, 90), (1, 8, 8, 80),  # repeated id 9
]


def _brute_force(rows, keep=lambda x, y: True):
    buckets: dict[tuple, list[tuple]] = {}
    for band, key, i, w in rows:
        buckets.setdefault((band, key), []).append((i, w))
    out = Counter()
    for members in buckets.values():
        for x, y in combinations(members, 2):
            if x[0] != y[0] and keep(x, y):
                a, b = sorted((x, y))
                out[a + b] += 1
    return out


def _pairs(df, keep=None):
    got = _bucket_pairs(df, ["band", "key"], ["id", "w"], keep=keep).collect()
    return Counter((r.a.id, r.a.w, r.b.id, r.b.w) for r in got)


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(ROWS, "band int, key int, id long, w long")


def test_bucket_pairs_match_brute_force(frame):
    got = _pairs(frame)
    assert got == _brute_force(ROWS)
    # a pair sharing two buckets appears twice
    assert got[(1, 10, 2, 20)] == 2
    # singleton buckets (ids 4, 6) emit nothing
    assert not any(p[0] in (4, 6) or p[2] in (4, 6) for p in got)
    assert all(a < b for a, _, b, _ in got)


def test_bucket_pairs_keep_drops_pairs(frame):
    got = _pairs(frame, keep="x.w + y.w >= 50")
    assert got == _brute_force(ROWS, keep=lambda x, y: x[1] + y[1] >= 50)
    assert (1, 10, 2, 20) not in got and (2, 20, 3, 30) in got


def test_bucket_pairs_empty_input(spark):
    empty = spark.createDataFrame([], "band int, key int, id long, w long")
    assert _pairs(empty) == Counter()
