"""Output fingerprints ignore row order and float noise, and catch a
perturbed result."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from perfbench.fingerprint import fingerprint, matches

ROWS = [
    Row(k="a", n=3, x=0.1 + 0.2, d=dt.date(2024, 1, 5), v=[1.5, 2.0]),
    Row(k="b", n=4, x=1e-7 / 3, d=None, v=[]),
    Row(k="c", n=5, x=-0.0, d=dt.date(2024, 2, 1), v=[0.25]),
]


def test_order_insensitive():
    assert fingerprint(ROWS) == fingerprint(list(reversed(ROWS)))


def test_float_noise_below_nine_digits_is_not_a_change():
    noisy = [r.asDict() for r in ROWS]
    noisy[0]["x"] *= 1 + 1e-13
    noisy[2]["x"] = 0.0
    assert fingerprint(Row(**r) for r in noisy) == fingerprint(ROWS)


def test_perturbed_result_counts_as_failed():
    want = fingerprint(ROWS)
    changed = [r.asDict() for r in ROWS]
    changed[1]["n"] = 40
    perturbations = [
        [Row(**r) for r in changed],  # one value changed
        ROWS[:2],  # a row lost
        ROWS + ROWS[:1],  # a row duplicated
        [Row(**{**ROWS[0].asDict(), "x": ROWS[0].x * 1.001}), *ROWS[1:]],  # visible float change
    ]
    assert matches(fingerprint(ROWS), want)
    for rows in perturbations:
        assert not matches(fingerprint(rows), want)


def test_row_count_only_check():
    want = fingerprint(ROWS)
    assert matches({"rows": 3}, want)
    assert not matches({"rows": 2}, want)
