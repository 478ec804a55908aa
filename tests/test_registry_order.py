"""Registry priority ordering: the driver's CORRECTNESS runs cap at ~50
rows, so the iteration order of ``all_queries()`` decides which queries the
hard signal certifies each round. Tier A (changed this round) must lead,
tier B (never driver-checked) must precede tier C (previously green), and
a cap anywhere in the sequence must never cut a tier-A entry.

Pure-Python test — no SparkSession, safe to run anywhere.
"""

from __future__ import annotations

from flink_neo4j_spark.registry import (
    _CHANGED_THIS_ROUND,
    _previously_green,
    all_oracles,
    all_queries,
)


def test_changed_queries_lead_the_sequence():
    names = list(all_queries())
    present_changed = [n for n in _CHANGED_THIS_ROUND if n in names]
    assert names[: len(present_changed)] == present_changed


def test_unproven_queries_precede_previously_green():
    names = list(all_queries())
    green = _previously_green()
    tier_a = set(_CHANGED_THIS_ROUND)
    # after tier A, every not-previously-green query must appear before the
    # first previously-green (and unchanged) query
    tail = [n for n in names if n not in tier_a]
    seen_green = False
    for n in tail:
        if n in green:
            seen_green = True
        else:
            assert not seen_green, (
                f"never-checked query {n!r} ordered after previously-green "
                "entries — a driver cap would skip it"
            )


def test_every_oracle_key_is_a_query():
    qs = all_queries()
    for name in all_oracles():
        assert name in qs


def test_changed_this_round_names_exist():
    qs = all_queries()
    for name in _CHANGED_THIS_ROUND:
        assert name in qs, f"stale _CHANGED_THIS_ROUND entry {name!r}"
