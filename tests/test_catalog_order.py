"""Driver-window ordering guards.

A driver's correctness harness may hash only the FIRST 50 entries of
``queries()``, which orders rows by their newest hash-green round in
``CORRECTNESS_r*.json`` (never-verified rows first).  These tests pin
what that rule must deliver: every row stays in the catalog, rows
never verified or about to age past the evidence period sit inside the
window, and re-hashing the window each round re-verifies the whole
catalog within ceil(rows / 50) rounds.
"""

import json
import os

import pytest

import __spark_entry__ as entry_mod
from duckdb_imputation_spark.queries import QUERIES

DRIVER_WINDOW = 50
EVIDENCE_PERIOD = 5  # a row's driver evidence must be refreshed within
# this many rounds (the N-4 line: evidence <= N-5 is stale at round N)

# repo root derived from this file's location, not hardcoded — the test
# must find the CORRECTNESS_r*.json files in any checkout
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _evidence_census() -> "tuple[dict[str, int], int]":
    """(newest green driver round per row, newest correctness round):
    a row is green in a round when its hash matched without error —
    mere presence in a correctness file is not verification."""
    newest: dict[str, int] = {}
    max_round = 0
    for fname in sorted(os.listdir(ROOT)):
        if fname.startswith("CORRECTNESS_r") and fname.endswith(".json"):
            rnd = int(fname[len("CORRECTNESS_r"):-len(".json")])
            max_round = max(max_round, rnd)
            with open(os.path.join(ROOT, fname)) as f:
                data = json.load(f)
            for n, v in data.items():
                if v.get("hash_match") and not v.get("err"):
                    newest[n] = max(newest.get(n, 0), rnd)
    return newest, max_round


def _next_order(sim: "dict[str, int]") -> "list[str]":
    """The ordering rule on simulated evidence: oldest first, ties in
    registration order."""
    return sorted(QUERIES, key=lambda n: sim[n])


def test_ordering_preserves_catalog():
    ordered = entry_mod.queries()
    assert set(ordered) == set(QUERIES)
    assert len(ordered) == len(QUERIES)


def test_ties_keep_registration_order():
    """Rows with the same newest green round keep their registration
    order, so the window is reproducible from the files alone."""
    newest, _ = _evidence_census()
    assert list(entry_mod.queries()) == _next_order(
        {n: newest.get(n, 0) for n in QUERIES}
    )


def test_never_driver_verified_queries_inside_window():
    """Every catalog query that has never had a PASSING driver hash row
    must sit inside the first-50 window."""
    newest, max_round = _evidence_census()
    if not max_round:
        pytest.skip("no driver correctness files in this checkout")
    window = list(entry_mod.queries())[:DRIVER_WINDOW]
    outside = [
        n for n in entry_mod.queries() if n not in newest and n not in window
    ]
    assert not outside, f"never-verified queries past the cutoff: {outside}"


def test_window_not_overfull():
    """The never-verified rows the rule puts first must fit the window,
    or some of them could never be sampled."""
    newest, _ = _evidence_census()
    never = [n for n in QUERIES if n not in newest]
    assert len(never) <= DRIVER_WINDOW, (
        f"{len(never)} never-verified rows overfill the "
        f"{DRIVER_WINDOW}-row window"
    )


def test_demoted_queries_keep_oracles():
    """Rotating a query past the window must not drop its local-gate
    oracle — rows outside the window stay hash-checked by
    test_oracle_parity."""
    oracles = entry_mod.oracle_sql()
    outside = list(entry_mod.queries())[DRIVER_WINDOW:]
    missing = [n for n in outside if n not in oracles]
    assert not missing, missing


def test_window_holds_stalest_evidence():
    newest, _ = _evidence_census()
    order = list(entry_mod.queries())
    window, rest = order[:DRIVER_WINDOW], order[DRIVER_WINDOW:]
    assert max(newest.get(n, 0) for n in window) <= min(
        newest.get(n, 0) for n in rest
    ), "the driver window is not the stalest evidence"


def test_evidence_age_within_window():
    """The evidence-age rule: at round N close, no registered row's
    newest green driver evidence may be older than round N-4.  The
    round in progress is N = (newest CORRECTNESS file) + 1, so every
    row whose newest green evidence is at round N-5 or older must be
    inside the driver window now."""
    newest, max_round = _evidence_census()
    if not max_round:
        pytest.skip("no driver correctness files in this checkout")
    current_round = max_round + 1
    window = set(list(entry_mod.queries())[:DRIVER_WINDOW])
    stale = sorted(
        n
        for n, r in newest.items()
        if n in QUERIES
        and r <= current_round - EVIDENCE_PERIOD
        and n not in window
    )
    assert not stale, (
        f"rows whose newest driver evidence (<= r{current_round - 5}) ages "
        f"past the N-4 line at round {current_round} close, yet are not "
        f"in the driver window: {stale}"
    )


def test_next_window_queue_names_valid():
    """Once this round's window goes green, the next round's window
    names registered rows that are all OUTSIDE the current one — no row
    is re-hashed while an older one waits."""
    newest, max_round = _evidence_census()
    sim = {n: newest.get(n, 0) for n in QUERIES}
    window = list(entry_mod.queries())[:DRIVER_WINDOW]
    for n in window:
        sim[n] = max_round + 1
    queue = _next_order(sim)[:DRIVER_WINDOW]
    assert set(queue) <= set(QUERIES)
    inside = [n for n in queue if n in window]
    assert not inside, f"queued rows already in the window: {inside}"


def test_rotation_schedule_feasible():
    """Replaying the rule forward — each round the window goes green,
    then the catalog is re-ordered by evidence age — re-verifies every
    row within ceil(rows / 50) rounds, so no row's evidence ages past
    that."""
    newest, max_round = _evidence_census()
    if not max_round:
        pytest.skip("no driver correctness files in this checkout")
    sim = {n: newest.get(n, 0) for n in QUERIES}  # 0 = never verified
    order = list(entry_mod.queries())
    rounds = -(-len(QUERIES) // DRIVER_WINDOW)
    for rnd in range(max_round + 1, max_round + 1 + rounds):
        for n in order[:DRIVER_WINDOW]:
            sim[n] = rnd
        order = _next_order(sim)
    stale = sorted(n for n, r in sim.items() if r <= max_round)
    assert not stale, (
        f"rows not re-verified within {rounds} rounds of the rule: {stale}"
    )
