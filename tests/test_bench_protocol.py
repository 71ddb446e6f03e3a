"""bench.py's headline pass selection after a load-triggered rerun."""

from __future__ import annotations

import bench


def _pass(ctl_s: float, total: float, ctl_e: float):
    return ctl_s, {"q": total}, ctl_e


def test_clean_pass_beats_lower_total():
    dirty_fast = _pass(1.0, 10.0, 0.24)
    clean_slow = _pass(0.24, 12.0, 0.25)
    assert bench.choose_pass([dirty_fast, clean_slow]) == (1, "clean_brackets")


def test_lower_total_breaks_ties():
    assert bench.choose_pass([_pass(1.0, 10.0, 1.0), _pass(0.9, 12.0, 2.0)]) == (
        0, "min_total")
    assert bench.choose_pass([_pass(0.2, 13.0, 0.2), _pass(0.2, 12.0, 0.3)]) == (
        1, "clean_brackets")
