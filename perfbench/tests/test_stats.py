from __future__ import annotations

import datetime

import pytest

from perfbench import stats


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([5.0], 95) == 5.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    assert stats.beyond(100, 90) == 10
    assert stats.tail(list(range(100)), 90) == 89
    assert stats.tail(list(range(99)), 90) is None
    assert stats.beyond(200, 95) == 10
    assert stats.tail(list(range(200)), 95) == 189
    assert stats.tail(list(range(150)), 95) is None
    assert stats.tail(list(range(20)), 50) == 9


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", None)]
    d = stats.digest(["id", "s", "x"], rows)
    assert d == stats.digest(["id", "s", "x"], list(reversed(rows)))
    assert d == stats.digest(["x", "id", "s"], [(r[2], r[0], r[1]) for r in rows])
    assert d[0] == 2


def test_digest_is_stable_across_engines_value_types():
    import decimal

    a = stats.digest(["v", "t"], [(0.30000000000000004, datetime.datetime(2024, 1, 1)),
                                  (-0.0, datetime.datetime(2024, 1, 2))])
    b = stats.digest(["v", "t"], [(decimal.Decimal("0.3"), datetime.datetime(2024, 1, 1)),
                                  (0.0, datetime.datetime(2024, 1, 2))])
    assert a == b and a[0] == 2


def test_digest_changes_with_values():
    base = stats.digest(["a"], [(1,), (2,)])
    assert stats.digest(["a"], [(1,), (3,)]) != base
    assert stats.digest(["a"], [(1,), (2,), (2,)]) != base
    assert stats.digest(["b"], [(1,), (2,)]) != base
    assert stats.digest(["a"], [(1.0,), (2.0,)]) != base


def test_digest_is_a_fixed_value():
    """Pinned, so a change to the canonical form shows up here."""
    assert stats.digest(["a", "b"], [(1, "x"), (None, 2.5)]) == \
        (2, "a5c82d704af3c391")
