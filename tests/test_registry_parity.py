"""Every registry query must hash-match its DuckDB oracle (driver replica).

This is the same gate the driver applies (CORRECTNESS_r{N}.json) run at
sf0.001 for speed; the driver runs sf0.01.
"""

from __future__ import annotations

import pytest

from sparkgraft import registry
from tests.oracle import assert_parity, run_oracle

NAMES = sorted(registry.queries())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    fn = registry.queries()[name]
    sdf = fn(spark, sf_dir)
    oracle = registry.oracles().get(name)
    if oracle is None:
        # rows-only contract: must execute and return a stable schema
        assert sdf.count() >= 0
        return
    assert_parity(sdf, run_oracle(oracle, sf_dir))


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"event_week", "wau"}


def test_registry_contract():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 10


def test_readme_count_matches_registry():
    """README's headline '<N> registered query/oracle pairs' is derived
    from the registry here so it can never drift again (round-6 advice:
    the hand-maintained count lagged by one)."""
    import pathlib
    import re

    text = (pathlib.Path(__file__).parent.parent / "README.md").read_text()
    m = re.search(r"(\d+) registered query/oracle pairs", text)
    assert m, "README headline count sentence missing"
    assert int(m.group(1)) == len(registry.queries())


def test_driver_window_composition():
    """The correctness driver snapshots only the FIRST 50 registered
    queries, so the first 50 names must be exactly the computed window:
    50 distinct lanes ending in the sentinels."""
    names = list(registry.queries())
    assert tuple(names[:50]) == registry.DRIVER_WINDOW
    assert len(set(registry.DRIVER_WINDOW)) == 50
    assert registry.DRIVER_WINDOW[-len(registry.SENTINELS):] == registry.SENTINELS


def test_output_changed_lanes_hold_window_slots():
    """A lane whose output or domain changed after its newest driver proof
    must sit in the window, so the next driver run re-proves it."""
    missing = registry.OUTPUT_CHANGED_SINCE_PROOF - set(registry.DRIVER_WINDOW)
    assert not missing, (
        f"output-changed lanes without a window slot (stale driver rows "
        f"would be silently trusted): {sorted(missing)}"
    )


def test_driver_rows_cumulative_coverage():
    """Every lane without a row in any committed CORRECTNESS_r*.json holds
    a window slot: no lane goes unproven."""
    newest = registry.newest_proof_rounds()
    uncovered = [
        n
        for n in registry.queries()
        if n not in newest and n not in registry.DRIVER_WINDOW
    ]
    assert not uncovered, f"queries with no driver row and no window slot: {uncovered}"


def test_driver_window_drains_the_backlog():
    """The window re-proves the stalest lanes first: no non-sentinel lane
    outside the window has an older newest proof than a re-proof slot
    inside it (a slot that is neither a sentinel, a first proof, nor an
    output-changed lane)."""
    newest = registry.newest_proof_rounds()
    window = set(registry.DRIVER_WINDOW)
    refresh = [
        newest[n]
        for n in window - set(registry.SENTINELS) - registry.OUTPUT_CHANGED_SINCE_PROOF
        if n in newest
    ]
    staler = sorted(
        n
        for n in registry.queries()
        if n not in window and refresh and newest.get(n, 0) < max(refresh)
    )
    assert not staler, (
        f"lanes outside the window with older proofs than r{max(refresh):02d}: "
        f"{staler}"
    )
