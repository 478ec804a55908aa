"""Registry ordering: the driver's CORRECTNESS runs cap at ~50 rows, so
the iteration order of ``all_queries()`` decides which queries the hard
signal certifies each round. The pinned ``_CHANGED_THIS_ROUND`` names must
lead, and everything after them follows module order, so the order never
depends on files outside the code.

Pure-Python test — no SparkSession, safe to run anywhere.
"""

from __future__ import annotations

from flink_neo4j_spark.registry import (
    _CHANGED_THIS_ROUND,
    _modules,
    all_oracles,
    all_queries,
)


def test_changed_queries_lead_the_sequence():
    names = list(all_queries())
    present_changed = [n for n in _CHANGED_THIS_ROUND if n in names]
    assert names[: len(present_changed)] == present_changed


def test_unpinned_queries_follow_module_order():
    pinned = set(_CHANGED_THIS_ROUND)
    module_order = [
        n for mod in _modules() for n in mod.QUERIES if n not in pinned
    ]
    names = list(all_queries())
    assert names[len(names) - len(module_order) :] == module_order


def test_every_oracle_key_is_a_query():
    qs = all_queries()
    for name in all_oracles():
        assert name in qs


def test_changed_this_round_names_exist():
    qs = all_queries()
    for name in _CHANGED_THIS_ROUND:
        assert name in qs, f"stale _CHANGED_THIS_ROUND entry {name!r}"
