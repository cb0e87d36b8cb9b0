"""The driver's correctness gate takes the FIRST ~50 names of the
registry order.  Rounds 5 and 7 both shipped a stale hand-rotated head
that would have re-checked already-green queries; the registry now
derives the order from the CORRECTNESS_r*.json files on disk
(least-recently-checked first), so the window self-rotates.  These tests
pin that property against the actual files in the repo root.
"""

from __future__ import annotations

import glob
import json
import os

from hadoop_coded_wordcount_spark.registry import (
    ORACLES,
    QUERIES,
    _gate_checked_rounds,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _externally_checked() -> set:
    names: set = set()
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        with open(path) as f:
            names.update(json.load(f).keys())
    return names


def test_window_head_fills_with_never_checked_first():
    """Never-checked names must fill the window head before any checked
    name appears (ADVICE r8: a blanket 'no checked names in the first 50'
    would start failing — on a correctly working rotation — once fewer
    than 50 never-checked queries remain)."""
    checked = _externally_checked()
    head = list(QUERIES)[:50]
    first_checked = next(
        (i for i, n in enumerate(head) if n in checked), len(head)
    )
    stale = [n for n in head[first_checked:] if n not in checked]
    assert not stale, (
        "never-checked queries sorted after checked ones in the gate "
        "window: %s" % stale
    )


def test_gate_checked_rounds_reads_driver_files():
    rounds = _gate_checked_rounds()
    checked = _externally_checked()
    assert set(rounds) == checked
    # every name the driver ever checked must still exist in the registry
    missing = checked - set(QUERIES)
    assert not missing, missing


def test_never_checked_names_all_precede_checked_names():
    """Ordering invariant: every never-checked query sorts before every
    externally-checked one, so the backlog drains at the maximum
    50/round rate."""
    checked = _externally_checked()
    seen_checked = False
    for n in QUERIES:
        if n in checked:
            seen_checked = True
        else:
            assert not seen_checked, (
                "never-checked %r sorted after a checked query" % n
            )


def test_oracle_dict_order_mirrors_queries():
    qnames = [n for n in QUERIES if n in ORACLES]
    assert qnames == list(ORACLES)


def test_simulated_future_rounds_drain_the_backlog():
    """Forward simulation of the defect class that stalled rounds 5 and
    7: pretend each coming round's gate file lands (head-50 of the
    derived order, all green) and assert the NEXT derived order presents
    50 fresh never-checked names until the backlog is empty — then keeps
    rotating least-recently-checked-first without repeats inside a
    window."""
    from hadoop_coded_wordcount_spark.registry import _derived_order

    checked = dict(_gate_checked_rounds_snapshot())
    names = list(QUERIES)
    never = [n for n in names if n not in checked]
    rnd = max(checked.values(), default=0)
    while never:
        rnd += 1
        window = _derived_order(names, checked)[:50]
        fresh = [n for n in window if n not in checked]
        assert len(fresh) == min(50, len(never)), (
            rnd,
            len(fresh),
        )
        for n in window:
            checked[n] = rnd
        never = [n for n in names if n not in checked]
    # steady state: the next window re-checks the LEAST recently checked
    # (cohorts may be smaller than a window, so the window can span
    # several oldest rounds — but no name outside the window may be
    # older than any name inside it)
    window = _derived_order(names, checked)[:50]
    in_max = max(checked[n] for n in window)
    out_min = min(checked[n] for n in names if n not in window)
    assert in_max <= out_min


def _gate_checked_rounds_snapshot():
    from hadoop_coded_wordcount_spark.registry import _gate_checked_rounds

    return _gate_checked_rounds()
