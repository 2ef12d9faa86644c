"""Hand-worked tests of the reference computations in ``reference.py``.

Run: ``python3 -m pytest perfbench/test_reference.py -q`` from the repo root.
Every comparison also checks that the expected output with one value
changed does not match, so no comparison can pass vacuously.
"""

from __future__ import annotations

import pandas as pd
import pytest

from perfbench import reference as R


def _matches(actual, expected, perturbed):
    """``actual`` equals ``expected`` and not ``perturbed``, which is
    ``expected`` with one value changed."""
    assert actual == expected
    assert actual != perturbed


def _table(rows):
    return pd.DataFrame(rows, columns=R.CRUD_COLUMNS)


def test_crud_model_reads_and_writes():
    m = R.CrudModel(
        _table([("a", 0, 0, 5, 0), ("b", 0, 1, 7, 0), ("c", 1, 2, 5, 0), ("d", 1, 3, 9, 0)])
    )
    # day 0, value in [5, 6]: only "a"
    _matches(m.query(0, 5, 6), [("a", 0, 0, 5, 0)], [("a", 0, 0, 6, 0)])
    # day 1, seq in [2, 9]: "c" and "d" get cnt += 1
    assert m.increment(1, 2, 9) == 2
    m.append(_table([("e", 1, 4, 5, 0)]))
    _matches(
        m.query(1, 5, 5),
        [("c", 1, 2, 5, 1), ("e", 1, 4, 5, 0)],
        [("c", 1, 2, 5, 0), ("e", 1, 4, 5, 0)],
    )
    _matches(
        m.lookup("d"),
        {"_id": "d", "day": 1, "seq": 3, "value": 9, "cnt": 1},
        {"_id": "d", "day": 1, "seq": 3, "value": 9, "cnt": 2},
    )
    assert m.lookup("zz") is None
    _matches(
        (m.count(), m.sums()),
        (5, {"day": 3, "seq": 10, "value": 31, "cnt": 2}),
        (5, {"day": 3, "seq": 10, "value": 31, "cnt": 3}),
    )
    with pytest.raises(ValueError):
        m.append(_table([("a", 0, 9, 9, 0)]))


def test_enrich_score():
    _matches(R.enrich_score([1, 100], [2, 77]).tolist(), [33, 701], [33, 702])


def test_last_batch_wins():
    b1 = pd.DataFrame({"id": [1, 2, 3], "key": [10, 10, 20], "a": [1, 0, 2], "b": [0, 1, 0]})
    b2 = pd.DataFrame({"id": [4, 5], "key": [20, 30], "a": [3, 0], "b": [0, 2]})
    # scores: b1 -> 7, 13, 14; b2 -> 21, 26
    _matches(
        R.last_batch_wins([b1, b2]),
        {10: (2, 20, 2), 20: (1, 21, 4), 30: (1, 26, 5)},
        {10: (2, 20, 2), 20: (2, 35, 4), 30: (1, 26, 5)},
    )


def test_token_shingles_and_jaccard():
    sh = R.token_shingles("The quick\t brown  FOX jumps ")
    assert sh == {("the", "quick", "brown"), ("quick", "brown", "fox"), ("brown", "fox", "jumps")}
    assert R.token_shingles("two words") == {("two", "words")}
    _matches(
        [R.jaccard(R.token_shingles("a b c d e"), R.token_shingles("a b c d f"))], [0.5], [0.6]
    )
    # 2 shared of 3 + 3 - 2 = 4 distinct -> 0.5; identical -> 1.0
    assert R.jaccard(sh, sh) == 1.0


def test_dedup_survivors():
    _matches(
        R.dedup_survivors(range(1, 8), [(2, 3), (1, 2), (6, 5)]),
        {1: 3, 4: 1, 5: 2, 7: 1},
        {1: 3, 4: 1, 5: 2, 6: 1},
    )


def test_pagerank_exact_two_iterations():
    # worked by hand with scale 1000, d = 0.85: base 150.
    # it 1 (all 1000): csum 1:2000 2:500 3:1500 4:0 -> 1850 575 1425 150
    # it 2: 1->2,1->3: 925; 2->3: 575; 3->1: 1425; 4->1: 150
    #       csum 1:1575 2:925 3:1500 4:0 -> 1488 936 1425 150
    src, dst = [1, 1, 2, 3, 4], [2, 3, 3, 1, 1]
    _matches(
        R.pagerank_exact(src, dst, iterations=2, scale=1000),
        {1: 1488, 2: 936, 3: 1425, 4: 150},
        {1: 1488, 2: 936, 3: 1426, 4: 150},
    )


_G = ([1, 2, 1, 3, 2, 4, 1, 2], [2, 3, 3, 4, 4, 5, 1, 1])  # loop (1,1), dup (2,1)


def test_triangles_nx():
    # simple edges 12 23 13 34 24 45: triangles 123 and 234
    _matches(R.triangles_nx(*_G), (5, 6, 2), (5, 6, 3))


def test_kcore_nx():
    # 5 has degree 1 and is peeled; every other node keeps degree >= 2
    _matches(
        R.kcore_nx(*_G, k=2),
        {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)},
        {(1, 2), (1, 3), (2, 3), (2, 4), (4, 5)},
    )


def test_lpa_sync_two_rounds():
    # round 1: 1->2 (tie 2,3), 2->1, 3->1 (tie), 4->3, 5->4, 6->4
    # round 2: 1->1, 2->1 (tie 1,2), 3->1, 4->4, 5->3 (tie 3,4), 6->3
    src, dst = [1, 1, 2, 3, 4, 4, 5], [2, 3, 3, 4, 5, 6, 6]
    _matches(
        R.lpa_sync(src, dst, rounds=1),
        {1: 2, 2: 1, 3: 1, 4: 3, 5: 4, 6: 4},
        {1: 3, 2: 1, 3: 1, 4: 3, 5: 4, 6: 4},
    )
    _matches(
        R.lpa_sync(src, dst, rounds=2),
        {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3},
        {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 3},
    )
