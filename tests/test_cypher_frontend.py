"""Mini-Cypher front end parity: the REFERENCE'S OWN Cypher strings
(fixture, read queries, write statements — cited file:line) executed
natively, asserting the same values its tests assert against Neo4j."""

from __future__ import annotations

import pytest

from flink_neo4j_spark.cypher_frontend import (
    CypherSyntaxError,
    cypher_create_graph,
    cypher_read,
    cypher_write,
)
from flink_neo4j_spark.graph import PropertyGraph

from .conftest import count_jobs

#: the reference's exact test fixture — Neo4jFormatTest.java:14-19
FIXTURE = (
    "CREATE"
    "(alice:User { name : 'Alice', born : 1984, height : 1.72, trust : true  }),"
    "(bob:User   { name : 'Bob',   born : 1983, height : 1.81, trust : true  }),"
    "(eve:User   { name : 'Eve',   born : 1984, height : 1.62, trust : false }),"
    "(alice)-[:KNOWS {since : 2001}]->(bob),"
    "(bob)-[:KNOWS   {since : 2002}]->(alice)"
)


@pytest.fixture(scope="module")
def fixture_graph(spark):
    return cypher_create_graph(spark, FIXTURE)


def test_fixture_construction(fixture_graph):
    # Neo4jFormatTest: 3 :User nodes, 2 :KNOWS edges
    assert fixture_graph.nodes("User").count() == 3
    assert fixture_graph.relationships("KNOWS").count() == 2


def test_vertex_query(fixture_graph):
    # Neo4jInputTest.java:26 + value asserts at :81-88
    df = cypher_read(
        fixture_graph, "MATCH (n:User) RETURN id(n), n.name, n.born, n.height, n.trust"
    )
    rows = {r["n_name"]: r for r in df.collect()}
    assert set(rows) == {"Alice", "Bob", "Eve"}
    alice = rows["Alice"]
    assert (alice["n_born"], alice["n_height"], alice["n_trust"]) == (1984, 1.72, True)
    eve = rows["Eve"]
    assert (eve["n_born"], eve["n_height"], eve["n_trust"]) == (1984, 1.62, False)


def test_edge_query(fixture_graph):
    # Neo4jInputTest.java:46 + asserts at :102-113: 2 edges, since 2001/2002,
    # endpoints reversed between them
    df = cypher_read(
        fixture_graph, "MATCH (a:User)-[e]->(b:User) RETURN id(e), id(a), id(b), e.since"
    )
    rows = sorted(df.collect(), key=lambda r: r["e_since"])
    assert len(rows) == 2
    assert rows[0]["e_since"] == 2001 and rows[1]["e_since"] == 2002
    assert rows[0]["id_a"] == rows[1]["id_b"]
    assert rows[0]["id_b"] == rows[1]["id_a"]


def test_readme_projection(fixture_graph):
    # README.md:20
    df = cypher_read(fixture_graph, "MATCH (n:User) RETURN id(n), n.name, n.born")
    assert df.columns == ["id_n", "n_name", "n_born"]
    assert df.count() == 3


def test_create_then_filter(spark, fixture_graph):
    # write: README.md:45 / Neo4jOutputTest.java:24-26 (legacy {param} style);
    # verify: the reference's own verification query Neo4jOutputTest.java:51-53
    g2 = cypher_write(
        fixture_graph,
        "UNWIND {inserts} AS i "
        "CREATE (a:User {name:i.name, born:i.born, height:i.height, trust:i.trust})",
        params={
            "inserts": [
                {"name": "Frank", "born": 1982, "height": 1.84, "trust": True},
                {"name": "Dave", "born": 1977, "height": 1.82, "trust": False},
            ]
        },
    )
    df = cypher_read(
        g2,
        "MATCH (n:User) WHERE n.name = 'Frank' OR n.name = 'Dave' "
        "RETURN n.name AS name, n.born AS born, n.height AS height, n.trust AS trust",
    )
    rows = {r["name"]: r for r in df.collect()}
    assert set(rows) == {"Frank", "Dave"}
    assert (rows["Frank"]["born"], rows["Frank"]["height"], rows["Frank"]["trust"]) == (
        1982, 1.84, True,
    )
    assert g2.nodes("User").count() == 5


def test_update_unlabeled_match(spark, fixture_graph):
    # Neo4jOutputTest.java:83-87: unlabeled MATCH (B8), SET creates a NEW
    # property `weight` (B5 null semantics for unmatched rows)
    g2 = cypher_write(
        fixture_graph,
        "UNWIND {updates} AS u MATCH (p) WHERE p.name = u.name "
        "SET p.weight = u.weight, p.height = u.height, p.trust = u.trust",
        params={
            "updates": [
                {"name": "Alice", "weight": 42, "height": 1.74, "trust": False},
                {"name": "Bob", "weight": 79, "height": 1.82, "trust": True},
            ]
        },
    )
    rows = {r["name"]: r for r in g2.nodes("User").collect()}
    assert rows["Alice"]["weight"] == 42 and rows["Alice"]["height"] == 1.74
    assert rows["Alice"]["trust"] is False
    assert rows["Bob"]["weight"] == 79
    # Eve untouched; the new property reads null (B5)
    assert rows["Eve"]["weight"] is None and rows["Eve"]["height"] == 1.62


def test_where_comparison_and_conjunction(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.born = 1984 AND n.trust = true RETURN n.name",
    )
    assert [r["n_name"] for r in df.collect()] == ["Alice"]


def test_unsupported_syntax_raises(fixture_graph):
    with pytest.raises(CypherSyntaxError):
        cypher_read(fixture_graph, "OPTIONAL MATCH (n:User) RETURN n.name")
    with pytest.raises(CypherSyntaxError):
        cypher_read(fixture_graph, "MATCH (a)-[e*1..3]->(b) RETURN id(a)")
    with pytest.raises(CypherSyntaxError):
        cypher_write(fixture_graph, "UNWIND $x AS i CREATE (n:User {a: i.a})", params={})


# -- read-side extensions: DISTINCT / aggregation / ORDER BY / LIMIT --------


def test_return_distinct(fixture_graph):
    df = cypher_read(fixture_graph, "MATCH (n:User) RETURN DISTINCT n.born")
    assert sorted(r["n_born"] for r in df.collect()) == [1983, 1984]


def test_implicit_grouping_count(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.born AS born, count(*) AS n ORDER BY born",
    )
    assert [(r["born"], r["n"]) for r in df.collect()] == [(1983, 1), (1984, 2)]


def test_global_aggregates(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN count(n) AS n, min(n.height) AS lo, "
        "max(n.height) AS hi, avg(n.born) AS mean",
    )
    row = df.collect()[0]
    assert (row["n"], row["lo"], row["hi"]) == (3, 1.62, 1.81)
    assert abs(row["mean"] - (1984 + 1983 + 1984) / 3) < 1e-9


def test_order_by_desc_limit(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, n.height AS h "
        "ORDER BY h DESC LIMIT 2",
    )
    assert [r["name"] for r in df.collect()] == ["Bob", "Alice"]


def test_order_by_requires_return_column(fixture_graph):
    with pytest.raises(CypherSyntaxError):
        cypher_read(
            fixture_graph, "MATCH (n:User) RETURN n.name ORDER BY bogus"
        ).collect()


def test_non_count_agg_requires_property(fixture_graph):
    with pytest.raises(CypherSyntaxError):
        cypher_read(fixture_graph, "MATCH (n:User) RETURN sum(*)")


# -- OPTIONAL MATCH / variable-length / relationship-property WHERE ---------


def test_optional_match_null_extends(fixture_graph):
    # Eve has no outgoing KNOWS edge: her row survives with nulls (Cypher
    # OPTIONAL MATCH semantics), while Alice/Bob resolve their targets.
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User) OPTIONAL MATCH (a)-[e:KNOWS]->(b:User) "
        "RETURN a.name AS name, e.since AS since, b.name AS knows",
    )
    rows = {r["name"]: (r["since"], r["knows"]) for r in df.collect()}
    assert rows == {
        "Alice": (2001, "Bob"),
        "Bob": (2002, "Alice"),
        "Eve": (None, None),
    }


def test_optional_match_where_filters_before_join(fixture_graph):
    # the optional WHERE removes Bob's edge from the OPTIONAL SIDE only;
    # Bob's base row must remain (null-extended), never be dropped.
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User) OPTIONAL MATCH (a)-[e:KNOWS]->(b:User) "
        "WHERE e.since = 2001 "
        "RETURN a.name AS name, b.name AS knows",
    )
    rows = {r["name"]: r["knows"] for r in df.collect()}
    assert rows == {"Alice": "Bob", "Bob": None, "Eve": None}


def test_optional_match_bound_as_destination(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (b:User) OPTIONAL MATCH (a:User)-[e:KNOWS]->(b) "
        "RETURN b.name AS name, a.name AS known_by",
    )
    rows = {r["name"]: r["known_by"] for r in df.collect()}
    assert rows == {"Alice": "Bob", "Bob": "Alice", "Eve": None}


def test_relationship_property_where(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) WHERE e.since >= 2002 "
        "RETURN a.name AS src, b.name AS dst",
    )
    assert [(r["src"], r["dst"]) for r in df.collect()] == [("Bob", "Alice")]


def test_varlength_paths(fixture_graph):
    # 1..2 hops from Alice: Alice->Bob (1 hop), Alice->Bob->Alice (2 hops,
    # distinct relationships so the cycle back is a legal path).
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[:KNOWS*1..2]->(b:User) "
        "WHERE a.name = 'Alice' RETURN b.name AS dst",
    )
    assert sorted(r["dst"] for r in df.collect()) == ["Alice", "Bob"]


def test_varlength_relationship_isomorphism(fixture_graph):
    # 3 hops from Alice would need to reuse an edge (only 2 exist):
    # relationship-isomorphism forbids it -> exactly zero 3-hop paths.
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[:KNOWS*3]->(b:User) "
        "WHERE a.name = 'Alice' RETURN b.name AS dst",
    )
    assert df.count() == 0


def test_varlength_bound_validation(fixture_graph):
    # a bounded upper bound past MAX_VAR_HOPS still raises (the
    # union-of-chains plan grows per hop); bare '*' now compiles to the
    # iterative drain-or-raise expansion instead of raising at parse
    with pytest.raises(CypherSyntaxError, match="MAX_VAR_HOPS"):
        cypher_read(fixture_graph, "MATCH (a)-[:KNOWS*1..99]->(b) RETURN id(a)")
    rows = cypher_read(
        fixture_graph, "MATCH (a)-[:KNOWS*]->(b) RETURN id(a) AS i ORDER BY i"
    ).collect()
    assert len(rows) == 4  # 2 one-hop + 2 round-trip paths


def test_match_chain_two_clauses(fixture_graph):
    # Alice-[KNOWS]->Bob and Bob-[KNOWS]->x: the chain unifies on b.
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e1:KNOWS]->(b:User) MATCH (b)-[e2:KNOWS]->(c:User) "
        "RETURN a.name AS a_name, b.name AS b_name, c.name AS c_name "
        "ORDER BY a_name, c_name",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "Bob", "Alice"),
        ("Bob", "Alice", "Bob"),
    ]


def test_match_chain_where_on_later_clause(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e1:KNOWS]->(b:User) MATCH (b)-[e2:KNOWS]->(c:User) "
        "WHERE c.name = 'Alice' RETURN a.name AS a_name, e2.since AS since",
    )
    assert [tuple(r) for r in df.collect()] == [("Alice", 2002)]


def test_match_chain_node_clause_relabel(fixture_graph):
    # a second clause that just re-matches a bound var with a label
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b) MATCH (b:User) "
        "RETURN a.name AS a_name, b.name AS b_name ORDER BY a_name",
    )
    assert [tuple(r) for r in df.collect()] == [("Alice", "Bob"), ("Bob", "Alice")]


def test_match_chain_disconnected_rejected(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="share a variable"):
        cypher_read(
            fixture_graph,
            "MATCH (a:User) MATCH (b:User) RETURN a.name, b.name",
        )


def test_match_chain_edge_var_rebind_rejected(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="already bound"):
        cypher_read(
            fixture_graph,
            "MATCH (a:User)-[e:KNOWS]->(b:User) MATCH (b)-[e:KNOWS]->(c:User) "
            "RETURN a.name",
        )


#: every way a MATCH binds ``x``; ``{w}`` is the WHERE of the clause that
#: binds it (for the OPTIONAL forms, the optional clause's own WHERE)
SCOPE_FORMS = {
    "node": "MATCH (x:User) {w}",
    "edge": "MATCH (a:User)-[x:KNOWS]->(b) {w}",
    "varlength": "MATCH (a:User)-[:KNOWS*1..2]->(x) {w}",
    "named_path": "MATCH p = (a:User)-[:KNOWS*1..2]->(x) {w}",
    "comma_chain": "MATCH (x:User)-[e:KNOWS]->(b:User), (b)-[f:KNOWS]->(x) {w}",
    "two_clauses": "MATCH (a:User)-[e:KNOWS]->(b) MATCH (b)-[f:KNOWS]->(x) {w}",
    "shortest_path": "MATCH p = shortestPath((a:User)-[:KNOWS*1..2]->(x:User)) {w}",
    "node_optional": "MATCH (a:User) OPTIONAL MATCH (a)-[e:KNOWS]->(x) {w}",
    "edge_optional": "MATCH (a)-[e]->(b) OPTIONAL MATCH (b)-[e2]->(x) {w}",
    "pipeline": "MATCH (a:User) WITH a MATCH (a)-[e:KNOWS]->(x) {w}",
}


@pytest.mark.parametrize("form", sorted(SCOPE_FORMS))
def test_missing_property_reads_null_in_every_match_scope(fixture_graph, form):
    # one MATCH scope: a property no write created reads null everywhere
    # (openCypher), so it compares null and never matches; only an
    # unknown VARIABLE is an error
    pattern = SCOPE_FORMS[form]
    rows = cypher_read(
        fixture_graph, pattern.format(w="") + " RETURN x.ghost AS g"
    ).collect()
    assert rows and all(r["g"] is None for r in rows)
    rows = cypher_read(
        fixture_graph,
        pattern.format(w="WHERE x.ghost = 1") + " RETURN count(x) AS n",
    ).collect()
    assert rows[0]["n"] == 0
    with pytest.raises(CypherSyntaxError):
        cypher_read(fixture_graph, pattern.format(w="") + " RETURN y.name")


def test_pattern_back_to_its_start_variable(spark):
    # (x)-[..]->(x) binds only relationships that close the cycle: the
    # self-loop, once, in every pattern form
    g = cypher_create_graph(
        spark, "CREATE (a:N {k: 1})-[:T]->(a), (a)-[:T]->(b:N {k: 2})"
    )
    for q in (
        "MATCH (x)-[e:T]->(x) RETURN count(*) AS n",
        "MATCH (x)-[e:T]-(x) RETURN count(*) AS n",
        "MATCH (x)-[:T*1..2]->(x) RETURN count(*) AS n",
        "MATCH (x)-[e:T]->(x), (x)-[f:T]->(y:N {k: 2}) RETURN count(*) AS n",
    ):
        assert cypher_read(g, q).collect()[0]["n"] == 1, q


# -- WITH pipeline stages --------------------------------------------------


def test_with_aggregate_then_filter(fixture_graph):
    # born-year histogram, HAVING-style filter on the aggregated count
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) WITH u.born AS born, count(*) AS n "
        "WHERE n >= 2 RETURN born, n",
    ).collect()
    assert [(r["born"], r["n"]) for r in rows] == [(1984, 2)]


def test_with_order_limit_then_return(fixture_graph):
    # top-1-by-name inside the pipeline, RETURN re-projects the alias
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) WITH u.name AS name ORDER BY name DESC LIMIT 1 "
        "RETURN name",
    ).collect()
    assert [r["name"] for r in rows] == ["Eve"]


def test_with_two_stage_aggregation(fixture_graph):
    # aggregate OF an aggregate: per-year counts, then overall max
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) WITH u.born AS born, count(*) AS n "
        "RETURN max(n) AS max_n, count(*) AS n_years",
    ).collect()
    assert (rows[0]["max_n"], rows[0]["n_years"]) == (2, 2)


def test_with_distinct(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) WITH DISTINCT u.born AS born RETURN born ORDER BY born",
    ).collect()
    assert [r["born"] for r in rows] == [1983, 1984]


def test_return_distinct_preserves_deferred_order(fixture_graph):
    """DISTINCT is order-observable: ``WITH v ORDER BY v DESC RETURN
    DISTINCT v LIMIT k`` returns the top-k distinct values IN ORDER
    (Neo4j), so the deferred sort re-applies after the dedup."""
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1, 3, 2, 3, 1] AS v WITH v ORDER BY v DESC "
        "RETURN DISTINCT v LIMIT 2",
    ).collect()
    assert [r["v"] for r in rows] == [3, 2]
    # ascending + SKIP over the deduped ordered stream
    rows = cypher_read(
        fixture_graph,
        "UNWIND [5, 1, 3, 1, 5] AS v WITH v ORDER BY v "
        "RETURN DISTINCT v SKIP 1",
    ).collect()
    assert [r["v"] for r in rows] == [3, 5]
    # a sort key that does not survive the projection would leave the
    # post-dedup order unrecoverable: typed error, never a silent
    # arbitrary order
    with pytest.raises(CypherSyntaxError, match="DISTINCT"):
        cypher_read(
            fixture_graph,
            "UNWIND [1, 3, 2] AS v WITH v, v * 2 AS w ORDER BY w "
            "RETURN DISTINCT v LIMIT 2",
        )


def test_with_chained_stages(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) WITH u.born AS born, count(*) AS n "
        "WITH n WHERE n = 1 RETURN count(*) AS singles",
    ).collect()
    assert rows[0]["singles"] == 1


def test_with_scoping_pattern_var_rejected(fixture_graph):
    # pattern variables do not survive past the WITH horizon
    with pytest.raises(CypherSyntaxError, match="WITH"):
        cypher_read(
            fixture_graph,
            "MATCH (u:User) WITH u.born AS born RETURN u.name",
        ).collect()


def test_with_unknown_alias_rejected(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="unknown name"):
        cypher_read(
            fixture_graph,
            "MATCH (u:User) WITH u.born AS born RETURN nope",
        ).collect()


def test_unwind_merge_updates_and_inserts(fixture_graph):
    """MERGE upsert: existing key -> in-place SET; new key -> new vertex
    with SET applied (the sink's unwind_merge_template semantics)."""
    g2 = cypher_write(
        fixture_graph,
        "UNWIND $rows AS r MERGE (u:User {name: r.name}) SET u.trust = r.trust",
        {"rows": [
            {"name": "Eve", "trust": True},     # existing: update
            {"name": "Frank", "trust": False},  # new: insert
        ]},
    )
    users = {r["name"]: r for r in g2.nodes("User").collect()}
    assert set(users) == {"Alice", "Bob", "Eve", "Frank"}
    assert users["Eve"]["trust"] is True         # updated
    assert users["Eve"]["born"] == 1984          # untouched props survive
    assert users["Alice"]["trust"] is True       # unmatched rows unchanged
    assert users["Frank"]["trust"] is False      # insert got SET value
    old_max = max(r["id"] for r in fixture_graph.vertices.collect())
    assert users["Frank"]["id"] > old_max        # fresh id allocated


def test_merge_is_idempotent_on_replay(fixture_graph):
    """Replaying the same MERGE batch (task retry) must not duplicate."""
    stmt = "UNWIND $rows AS r MERGE (u:User {name: r.name}) SET u.trust = r.trust"
    batch = {"rows": [{"name": "Grace", "trust": True}]}
    g2 = cypher_write(fixture_graph, stmt, batch)
    g3 = cypher_write(g2, stmt, batch)
    assert g3.nodes("User").filter("name = 'Grace'").count() == 1


def test_unwind_range_inclusive_and_steps(fixture_graph):
    read = lambda q: [r[0] for r in cypher_read(fixture_graph, q).collect()]
    assert read("UNWIND range(1, 5) AS x RETURN x") == [1, 2, 3, 4, 5]
    assert read("UNWIND range(5, 1, -2) AS x RETURN x") == [5, 3, 1]
    assert read("UNWIND range(0, 10, 3) AS x RETURN x") == [0, 3, 6, 9]
    # step pointing away from the bound: empty, as in Cypher
    assert read("UNWIND range(2, 1) AS x RETURN x") == []
    assert read("UNWIND range(1, 2, -1) AS x RETURN x") == []
    with pytest.raises(CypherSyntaxError, match="non-zero"):
        cypher_read(fixture_graph, "UNWIND range(1, 5, 0) AS x RETURN x")


def test_range_dynamic_zero_step_raises_at_runtime(fixture_graph):
    """A NON-literal step evaluating to 0 must raise like Neo4j, not
    silently return [] — the loud-error contract holds at runtime."""
    from pyspark.errors import PySparkException

    df = cypher_read(
        fixture_graph, "UNWIND [0] AS s UNWIND range(1, 5, s) AS x RETURN x"
    )
    with pytest.raises(PySparkException, match="non-zero"):
        df.collect()
    # a nonzero dynamic step still evaluates normally
    rows = cypher_read(
        fixture_graph,
        "UNWIND [2] AS s UNWIND range(1, 7, s) AS x RETURN x ORDER BY x",
    ).collect()
    assert [r["x"] for r in rows] == [1, 3, 5, 7]


def test_unwind_range_plans_as_spark_range(fixture_graph):
    """The standalone range source must be a distributed Range relation,
    not a driver-materialized literal array."""
    df = cypher_read(fixture_graph, "UNWIND range(1, 1000000) AS x RETURN x")
    assert "Range" in df._jdf.queryExecution().executedPlan().toString()


def test_range_as_scalar_function(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND range(1, 3) AS x RETURN x, [y IN range(1, x)] AS prefix "
        "ORDER BY x",
    ).collect()
    assert [r["prefix"] for r in rows] == [[1], [1, 2], [1, 2, 3]]


def test_pipeline_unwind_range_over_column(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND [2, 3] AS n UNWIND range(1, n) AS i RETURN n, i",
    ).collect()
    assert [(r["n"], r["i"]) for r in rows] == [
        (2, 1), (2, 2), (3, 1), (3, 2), (3, 3)
    ]


def test_comprehension_filter_and_map(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1] AS one "
        "RETURN [y IN [1, 2, 3, 4] WHERE y > 2 | y * 10] AS ys",
    ).collect()
    assert rows[0]["ys"] == [30, 40]


def test_comprehension_identity_and_filter_only(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND range(1, 3) AS x WITH collect(x) AS xs "
        "RETURN [y IN xs] AS same, [y IN xs WHERE y <> 2] AS kept",
    ).collect()
    assert rows[0]["same"] == [1, 2, 3]
    assert rows[0]["kept"] == [1, 3]


def test_comprehension_closes_over_outer_scope(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1, 2, 3] AS x "
        "RETURN x, [y IN [10, 20, 30] WHERE y > x * 10 | y] AS bigger "
        "ORDER BY x",
    ).collect()
    assert [r["bigger"] for r in rows] == [[20, 30], [30], []]


def test_comprehension_size_dispatch_inside_lambda(fixture_graph):
    """size() on the loop variable cannot be analyzed against the frame
    (lambda variables are scope-local) — the probe-twin dispatch must
    still pick array-vs-string correctly."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "[w IN split(n.name, 'o') WHERE size(w) > 1 | toUpper(w)] AS ws "
        "ORDER BY name",
    ).collect()
    assert [r["ws"] for r in rows] == [["ALICE"], [], ["EVE"]]


def test_order_by_arithmetic_key(fixture_graph):
    """ORDER BY born - 1: an arithmetic sort key over projected output
    names (the SURVEY X182 claim, now parsed through the full expression
    grammar)."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, n.born AS born "
        "ORDER BY born - 1 DESC, name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice", "Eve", "Bob"]
    with pytest.raises(CypherSyntaxError, match="not a literal"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN n.name AS name ORDER BY 1",
        )


def test_collect_whole_variable_returns_structs(fixture_graph):
    """collect(n) collects the same full struct RETURN n projects —
    never the engine-internal id list."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.trust = true RETURN collect(n) AS users",
    ).collect()
    users = rows[0]["users"]
    assert sorted(u["name"] for u in users) == ["Alice", "Bob"]
    assert all(u["label"] == "User" for u in users)
    assert all(u["born"] is not None for u in users)


def test_collect_whole_variable_skips_failed_optional(fixture_graph):
    """Under OPTIONAL MATCH null-extension, collect(n) skips the null
    bindings (a struct of null fields must not be collected)."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) OPTIONAL MATCH (a)-[:KNOWS]->(b:User) "
        "RETURN collect(b) AS known",
    ).collect()
    known = rows[0]["known"]
    # fixture edges: Alice->Bob, Bob->Alice; Eve has no outgoing KNOWS —
    # her null-extended binding must be skipped (2 structs, never 3)
    assert sorted(u["name"] for u in known) == ["Alice", "Bob"]
    assert all(u["id"] is not None for u in known)


def test_bare_truthiness_requires_boolean(fixture_graph):
    assert (
        cypher_read(
            fixture_graph, "MATCH (n:User) WHERE n.trust RETURN n.name"
        ).count()
        == 2
    )
    with pytest.raises(CypherSyntaxError, match="must be boolean"):
        cypher_read(
            fixture_graph, "MATCH (n:User) WHERE n.born RETURN n.name"
        )


def test_arithmetic_where_operands(fixture_graph):
    """Full arithmetic on either side of a WHERE comparison (read
    contexts): the modulo-bucket idiom and expression-vs-expression."""
    rows = cypher_read(
        fixture_graph,
        "UNWIND range(1, 10) AS x WITH x WHERE x % 3 = 0 "
        "RETURN sum(x) AS s",
    ).collect()
    assert rows[0]["s"] == 18  # 3 + 6 + 9
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.born + 1 > 1984 "
        "RETURN n.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice", "Eve"]
    with pytest.raises(CypherSyntaxError, match="aggregates are not allowed"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) WHERE count(*) > 1 RETURN n.name",
        )


def test_comprehension_variable_has_no_properties(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="no property"):
        cypher_read(
            fixture_graph,
            "UNWIND [1] AS one RETURN [y IN [1, 2] | y.prop] AS ys",
        ).collect()


def test_list_literal_expression_homogeneity(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="homogeneous"):
        cypher_read(
            fixture_graph,
            "UNWIND [1] AS one RETURN [y IN [1, 'a'] | y] AS ys",
        )


def test_reduce_folds_list(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1] AS o RETURN reduce(acc = 0, x IN [1, 2, 3, 4] | acc + x) AS s",
    ).collect()
    assert rows[0]["s"] == 10
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH collect(n.name) AS names "
        "RETURN reduce(acc = 0, x IN names | acc + size(x)) AS chars",
    ).collect()
    assert rows[0]["chars"] == len("Alice") + len("Bob") + len("Eve")
    # round 8: reduce over a collect() source now compiles (composite
    # aggregate expressions) — the collected list feeds the JVM fold
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN reduce(acc = 0, x IN collect(n.born) | acc + x) AS s",
    ).collect()
    assert rows[0]["s"] == 1984 + 1983 + 1984


def test_list_indexing_semantics(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1] AS o RETURN [10, 20, 30][1] AS second, "
        "[10, 20, 30][-1] AS last_e, [10, 20, 30][5] AS oob",
    ).collect()
    r = rows[0]
    assert (r["second"], r["last_e"], r["oob"]) == (20, 30, None)


def test_list_slicing_semantics(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1] AS o RETURN [10, 20, 30, 40][1..3] AS mid, "
        "[10, 20, 30, 40][..2] AS head2, [10, 20, 30, 40][2..] AS tail2, "
        "[10, 20, 30, 40][0..-1] AS drop_last, [10, 20][5..9] AS clamped",
    ).collect()
    r = rows[0]
    assert r["mid"] == [20, 30]
    assert r["head2"] == [10, 20]
    assert r["tail2"] == [30, 40]
    assert r["drop_last"] == [10, 20, 30]
    assert r["clamped"] == []


def test_subscripts_chain_and_compose(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1, 2, 3] AS x WITH collect(x) AS xs "
        "RETURN xs[1..][0] AS chained, range(1, 10)[2..4] AS r24",
    ).collect()
    assert rows[0]["chained"] == 2
    assert rows[0]["r24"] == [3, 4]


@pytest.fixture()
def diamond_graph(spark):
    """A->B1->D, A->B2->D: two tie shortest paths A..D, plus a longer
    A->C->B1->D detour that must not count."""
    return cypher_create_graph(
        spark,
        "CREATE (a:N {name: 'A'}), (b1:N {name: 'B1'}), (b2:N {name: 'B2'}),"
        " (c:N {name: 'C'}), (d:N {name: 'D'}),"
        " (a)-[:E]->(b1), (a)-[:E]->(b2), (b1)-[:E]->(d), (b2)-[:E]->(d),"
        " (a)-[:E]->(c), (c)-[:E]->(b1)",
    )


def test_all_shortest_paths_returns_one_row_per_tie(diamond_graph):
    one = cypher_read(
        diamond_graph,
        "MATCH p = shortestPath((a:N)-[:E*1..4]->(b:N)) "
        "WHERE a.name = 'A' AND b.name = 'D' RETURN length(p) AS l",
    ).collect()
    assert [r["l"] for r in one] == [2]
    ties = cypher_read(
        diamond_graph,
        "MATCH p = allShortestPaths((a:N)-[:E*1..4]->(b:N)) "
        "WHERE a.name = 'A' AND b.name = 'D' RETURN length(p) AS l",
    ).collect()
    # two distinct 2-hop paths; the 3-hop detour contributes nothing
    assert [r["l"] for r in ties] == [2, 2]


def test_all_shortest_paths_count_aggregation(diamond_graph):
    rows = cypher_read(
        diamond_graph,
        "MATCH p = allShortestPaths((a:N)-[:E*1..4]->(b:N)) "
        "WHERE a.name = 'A' "
        "RETURN b.name AS bn, length(p) AS l, count(*) AS n ORDER BY bn",
    ).collect()
    got = {(r["bn"], r["l"], r["n"]) for r in rows}
    assert got == {("B1", 1, 1), ("B2", 1, 1), ("C", 1, 1), ("D", 2, 2)}


def test_shortest_path_undirected_pattern(diamond_graph):
    """Undirected bounded patterns inside (all)shortestPath (symmetrized
    BFS) and in the general var-length expansion (symmetrized chains)
    agree: B1 and B2 connect undirected only at distance 2."""
    rows = cypher_read(
        diamond_graph,
        "MATCH p = shortestPath((a:N)-[:E*1..2]-(b:N)) "
        "WHERE a.name = 'B1' AND b.name = 'B2' RETURN length(p) AS l",
    ).collect()
    assert [r["l"] for r in rows] == [2]  # B1-(A or D)-B2, undirected
    # general enumeration: ONE row per distinct path — via A and via D
    rows = cypher_read(
        diamond_graph,
        "MATCH p = (a:N)-[:E*1..2]-(b:N) "
        "WHERE a.name = 'B1' AND b.name = 'B2' RETURN length(p) AS l",
    ).collect()
    assert [r["l"] for r in rows] == [2, 2]


#: one rule for an undirected hop — both stored orientations, minus the
#: reversed self-loop — in var-length paths and (all)shortestPath, on
#: A with a self-loop and one edge A->B
SELF_LOOP_UNDIRECTED = {
    "fixed_one": (
        "MATCH (x:U)-[:K*1..1]-(y:U) RETURN x.name AS x, y.name AS y",
        [("A", "A"), ("A", "B"), ("B", "A")],
    ),
    "unbounded": (
        "MATCH (x:U)-[:K*]-(y:U) RETURN x.name AS x, y.name AS y",
        [("A", "A"), ("A", "B"), ("A", "B"), ("B", "A"), ("B", "A")],
    ),
    "shortest": (
        "MATCH p = shortestPath((x:U)-[:K*1..2]-(y:U)) "
        "RETURN x.name AS x, y.name AS y, length(p) AS l",
        [("A", "B", 1), ("B", "A", 1)],
    ),
    "all_shortest": (
        "MATCH p = allShortestPaths((x:U)-[:K*1..2]-(y:U)) "
        "RETURN x.name AS x, y.name AS y, length(p) AS l",
        [("A", "B", 1), ("B", "A", 1)],
    ),
}


@pytest.mark.parametrize("form", sorted(SELF_LOOP_UNDIRECTED))
def test_undirected_paths_match_self_loop_once(spark, form):
    g = cypher_create_graph(
        spark,
        "CREATE (a:U {name:'A'}), (b:U {name:'B'}), "
        "(a)-[:K]->(a), (a)-[:K]->(b)",
    )
    query, expected = SELF_LOOP_UNDIRECTED[form]
    rows = cypher_read(g, query).collect()
    assert sorted(tuple(r) for r in rows) == expected


def test_path_accessors_on_shortest_path(diamond_graph):
    """nodes(p)/relationships(p) off a bound shortestPath read the id
    arrays of ONE deterministic representative — the lexicographically
    least node-id sequence among ties (Neo4j promises "some" shortest
    path; pinning which makes the result a value)."""
    names = {
        r["id"]: r["name"] for r in diamond_graph.vertices.collect()
    }
    rows = cypher_read(
        diamond_graph,
        "MATCH p = shortestPath((a:N)-[:E*1..4]->(b:N)) "
        "WHERE a.name = 'A' AND b.name = 'D' "
        "RETURN nodes(p) AS ns, relationships(p) AS rs, length(p) AS l",
    ).collect()
    assert len(rows) == 1
    (row,) = rows
    assert row["l"] == 2 and len(row["ns"]) == 3 and len(row["rs"]) == 2
    # representative = min node-id sequence; endpoints pinned
    assert names[row["ns"][0]] == "A" and names[row["ns"][2]] == "D"
    mid = sorted(vid for vid, n in names.items() if n in ("B1", "B2"))[0]
    assert row["ns"][1] == mid
    # edge ids must trace the same chain: (A->mid, mid->D)
    eidx = {
        (r["src"], r["dst"]): r["id"]
        for r in diamond_graph.edges.collect()
    }
    assert row["rs"] == [
        eidx[(row["ns"][0], row["ns"][1])],
        eidx[(row["ns"][1], row["ns"][2])],
    ]


def test_path_accessors_on_varlength_path(diamond_graph):
    """On a plain named var-length path the accessors enumerate per
    chain: two distinct 2-hop A..D paths, each with its own id arrays."""
    names = {
        r["id"]: r["name"] for r in diamond_graph.vertices.collect()
    }
    rows = cypher_read(
        diamond_graph,
        "MATCH p = (a:N)-[:E*2..2]->(b:N) "
        "WHERE a.name = 'A' AND b.name = 'D' "
        "RETURN nodes(p) AS ns, relationships(p) AS rs",
    ).collect()
    mids = sorted(names[r["ns"][1]] for r in rows)
    assert mids == ["B1", "B2"]
    for r in rows:
        assert len(r["ns"]) == 3 and len(r["rs"]) == 2


def test_path_accessors_all_shortest_enumerates(diamond_graph):
    # round-7: accessors over allShortestPaths now ENUMERATE the ties
    # (capped — see ALL_PATHS_TIE_CAP) instead of raising
    rows = cypher_read(
        diamond_graph,
        "MATCH p = allShortestPaths((a:N)-[:E*1..4]->(b:N)) "
        "WHERE a.name = 'A' AND b.name = 'D' "
        "RETURN nodes(p) AS ns, relationships(p) AS rs",
    ).collect()
    got = sorted((tuple(r["ns"]), tuple(r["rs"])) for r in rows)
    # a=0, b1=1, b2=2, c=3, d=4; edges (a,b1)=0 (a,b2)=1 (b1,d)=2 (b2,d)=3
    assert got == [((0, 1, 4), (0, 2)), ((0, 2, 4), (1, 3))]


def test_path_accessor_lookahead_keeps_length_only_narrow(diamond_graph):
    # a length-only path query must not carry the id arrays
    df = cypher_read(
        diamond_graph,
        "MATCH p = shortestPath((a:N)-[:E*1..4]->(b:N)) "
        "RETURN a.name AS an, length(p) AS l",
    )
    assert df.columns == ["an", "l"]


def test_exists_block_subquery(fixture_graph):
    """Neo4j 5 existential-subquery blocks: EXISTS { (n)-[:T]->() } and
    NOT EXISTS { MATCH ... } — sugar for the pattern-predicate
    semi/anti-joins."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE EXISTS { (n)-[:KNOWS]->() } "
        "RETURN n.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice", "Bob"]
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE NOT EXISTS { MATCH (n)-[:KNOWS]->(:User) } "
        "RETURN n.name AS name",
    ).collect()
    assert [r["name"] for r in rows] == ["Eve"]


def test_count_subquery_per_row_degrees(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "COUNT { (n)-[:KNOWS]->() } AS outdeg, "
        "COUNT { (n)<-[:KNOWS]-() } AS indeg ORDER BY name",
    ).collect()
    # fixture edges: Alice->Bob, Bob->Alice
    assert [(r["name"], r["outdeg"], r["indeg"]) for r in rows] == [
        ("Alice", 1, 1), ("Bob", 1, 1), ("Eve", 0, 0)
    ]


def test_count_subquery_in_with_and_arithmetic(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n.name AS name, "
        "COUNT { (n)-[:KNOWS]-() } AS deg WHERE deg >= 1 "
        "RETURN name, deg ORDER BY name",
    ).collect()
    assert [(r["name"], r["deg"]) for r in rows] == [("Alice", 2), ("Bob", 2)]
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "COUNT { (n)-[:KNOWS]->(:User) } + 10 AS shifted ORDER BY name",
    ).collect()
    assert [r["shifted"] for r in rows] == [11, 11, 10]


def test_count_subquery_scope_validation(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="COUNT"):
        cypher_read(
            fixture_graph, "UNWIND [1] AS x RETURN COUNT { (x)-[:T]->() } AS c"
        )
    with pytest.raises(CypherSyntaxError, match="NOT inside COUNT"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN COUNT { NOT (n)-[:KNOWS]->() } AS c",
        )


def test_exists_block_inner_where(fixture_graph):
    # Neo4j 5: EXISTS { (n)-[e:T]->(m) WHERE <cond over e/m> } — the
    # filtered existential; compiles to the same semi/anti-join with the
    # condition applied to the qualifying set (never row-multiplying)
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) "
        "WHERE EXISTS { (n)-[e:KNOWS]->(f) WHERE e.since > 2001 } "
        "RETURN n.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Bob"]
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) "
        "WHERE EXISTS { MATCH (n)-[e:KNOWS]->(f) WHERE f.born < 1984 } "
        "RETURN n.name AS name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice"]
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) "
        "WHERE NOT EXISTS { (n)-[e:KNOWS]->() WHERE e.since > 2001 } "
        "RETURN n.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice", "Eve"]


def test_count_block_inner_where(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "COUNT { (n)-[e:KNOWS]-(f) WHERE f.trust } AS trusted, "
        "COUNT { (n)-[e:KNOWS]->() WHERE e.since >= 2002 } AS late, "
        "COUNT { (n)-[e:KNOWS]->(f) WHERE e IS NOT NULL } AS bound "
        "ORDER BY name",
    ).collect()
    # a bare pattern variable resolves inside the block (its id)
    assert [
        (r["name"], r["trusted"], r["late"], r["bound"]) for r in rows
    ] == [("Alice", 2, 0, 1), ("Bob", 2, 1, 1), ("Eve", 0, 0, 0)]


def test_exists_block_as_expression(fixture_graph):
    # Neo4j 5: EXISTS { } as a boolean expression in RETURN/WITH items,
    # desugared to the count subquery's bind compared against zero
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "EXISTS { (n)-[:KNOWS]->() } AS has_out, "
        "EXISTS { (n)-[e:KNOWS]->() WHERE e.since > 2001 } AS has_late "
        "ORDER BY name",
    ).collect()
    assert [(r["name"], r["has_out"], r["has_late"]) for r in rows] == [
        ("Alice", True, False), ("Bob", True, True), ("Eve", False, False),
    ]


def test_count_block_in_where_position(fixture_graph):
    # Neo4j 5's degree-filter idiom: WHERE COUNT { … } >= k (the modern
    # replacement for size((n)-->())); binds the same left-joined
    # per-node count before the filter
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE COUNT { (n)-[:KNOWS]-() } >= 2 "
        "RETURN n.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice", "Bob"]
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) "
        "WHERE COUNT { (n)-[e:KNOWS]->() WHERE e.since > 2001 } = 1 "
        "RETURN n.name AS name",
    ).collect()
    assert [r["name"] for r in rows] == ["Bob"]
    # composes with OR and plain conditions; arithmetic over the count
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE COUNT { (n)-[:KNOWS]->() } = 0 "
        "OR n.born = 1983 RETURN n.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Bob", "Eve"]


def test_comprehension_size_in_where_position(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE size([(n)-[:KNOWS]->(f) | f.name]) > 0 "
        "RETURN n.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice", "Bob"]
    # helper columns never leak into the projection
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE COUNT { (n)-[:KNOWS]->() } >= 1 "
        "RETURN * ORDER BY n.name",
    )
    assert df.columns == ["n"]
    # round 8: edge-pattern scopes bind pattern subqueries too (anchored
    # on any node variable of the scope)
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) "
        "WHERE COUNT { (a)-[:KNOWS]->() } > 0 RETURN a.name AS a ORDER BY a",
    ).collect()
    assert [r["a"] for r in rows] == ["Alice", "Bob"]


@pytest.mark.parametrize(
    "query",
    [
        "MATCH (n:User) WHERE size([(n)-[:KNOWS]->(f) | f.name]) > 0 "
        "RETURN n.name AS name, COUNT { (n)<-[:KNOWS]-() } AS c",
        "MATCH (n:User) WHERE COUNT { (n)-[:KNOWS]->() } >= 1 "
        "RETURN n.name AS name, COUNT { (n)<-[:KNOWS]-() } AS c",
        "MATCH (n:User) WITH n UNWIND [(n)-[:KNOWS]->(m) | m.name] AS v "
        "RETURN n.name AS name, COUNT { (n)-[:KNOWS]->() } AS c",
        "MATCH (n:User) WITH n WHERE COUNT { (n)-[:KNOWS]->() } >= 1 "
        "UNWIND [(n)<-[:KNOWS]-(m) | m.name] AS v "
        "RETURN n.name AS name, size([(n)-[:KNOWS]-(f) | f.name]) - 1 AS c",
    ],
    ids=["where-comp", "where-count", "unwind-comp", "stage-where-unwind"],
)
def test_pattern_subquery_helpers_do_not_collide(fixture_graph, query):
    # a subquery bound for a WHERE or an UNWIND is spent there: a second
    # one later in the query binds a fresh helper column, never an
    # ambiguous one
    rows = cypher_read(fixture_graph, query).collect()
    assert sorted((r["name"], r["c"]) for r in rows) == [
        ("Alice", 1), ("Bob", 1),
    ]


def test_pattern_block_inner_where_scope_validation(fixture_graph):
    # outer-scope references inside a block's WHERE raise loudly rather
    # than silently correlating
    with pytest.raises(CypherSyntaxError, match="own pattern variables"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) WHERE EXISTS "
            "{ (n)-[e:KNOWS]->(f) WHERE f.born > n.born } "
            "RETURN n.name",
        )
    with pytest.raises(CypherSyntaxError, match="own pattern variables"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN n.name, "
            "COUNT { (n)-[e:KNOWS]->(f) WHERE n.trust } AS c",
        )


def test_stacked_optional_match(spark):
    # multiple OPTIONAL MATCH clauses: each left-joins independently and
    # null-extends on its own (Neo4j row semantics)
    g = cypher_create_graph(
        spark,
        "CREATE (alice:User {name:'Alice'}), (bob:User {name:'Bob'}), "
        "(eve:User {name:'Eve'}), (acme:Org {name:'Acme'}), "
        "(alice)-[:KNOWS {since: 2001}]->(bob), "
        "(bob)-[:KNOWS {since: 2002}]->(alice), "
        "(alice)-[:WORKS_AT {since: 2010}]->(acme)",
    )
    rows = cypher_read(
        g,
        "MATCH (n:User) OPTIONAL MATCH (n)-[e:KNOWS]->(f) "
        "OPTIONAL MATCH (n)-[w:WORKS_AT]->(o:Org) "
        "RETURN n.name AS name, f.name AS friend, o.name AS org "
        "ORDER BY name",
    ).collect()
    assert [(r["name"], r["friend"], r["org"]) for r in rows] == [
        ("Alice", "Bob", "Acme"), ("Bob", "Alice", None),
        ("Eve", None, None),
    ]
    # per-clause WHERE filters its own side pre-join; count(var) counts
    # non-null bindings across the joined result
    rows = cypher_read(
        g,
        "MATCH (n:User) "
        "OPTIONAL MATCH (n)-[e:KNOWS]->(f) WHERE e.since > 2001 "
        "OPTIONAL MATCH (n)<-[e2:KNOWS]-(b) "
        "RETURN n.name AS name, count(f) AS late, count(b) AS inn "
        "ORDER BY name",
    ).collect()
    assert [(r["name"], r["late"], r["inn"]) for r in rows] == [
        ("Alice", 0, 1), ("Bob", 1, 1), ("Eve", 0, 0),
    ]
    # a variable repeated across clauses would need unification -> loud
    with pytest.raises(CypherSyntaxError, match="already bound"):
        cypher_read(
            g,
            "MATCH (n:User) OPTIONAL MATCH (n)-[e:KNOWS]->(f) "
            "OPTIONAL MATCH (n)<-[e2:KNOWS]-(f) RETURN n.name",
        )


def test_chained_comparisons(fixture_graph):
    # a < b <= c desugars to a < b AND b <= c within the conjunction
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE 1983 < n.born <= 1984 "
        "RETURN n.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice", "Eve"]
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE 1.6 < n.height < 1.8 OR n.name = 'Bob' "
        "RETURN n.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice", "Bob", "Eve"]
    with pytest.raises(CypherSyntaxError, match="chained comparison"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) WHERE NOT 1983 < n.born < 1990 RETURN n.name",
        )


def test_multi_rel_type_patterns(spark):
    # [:A|B] alternation: one isin filter on the edge scan, supported in
    # every read pattern position; write positions reject it loudly
    g = cypher_create_graph(
        spark,
        "CREATE (alice:User {name:'Alice'}), (bob:User {name:'Bob'}), "
        "(carol:User {name:'Carol'}), "
        "(alice)-[:KNOWS {since: 2001}]->(bob), "
        "(bob)-[:LIKES {since: 2003}]->(carol), "
        "(alice)-[:BLOCKS {since: 2004}]->(carol)",
    )
    rows = cypher_read(
        g,
        "MATCH (a:User)-[e:KNOWS|LIKES]->(b:User) "
        "RETURN a.name AS a, b.name AS b ORDER BY a",
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [
        ("Alice", "Bob"), ("Bob", "Carol"),
    ]
    rows = cypher_read(
        g,
        "MATCH (n:User) RETURN n.name AS name, "
        "COUNT { (n)-[:KNOWS|LIKES|BLOCKS]->() } AS deg, "
        "[(n)-[e:KNOWS|BLOCKS]->(m) | m.name] AS ms ORDER BY name",
    ).collect()
    assert [(r["name"], r["deg"], r["ms"]) for r in rows] == [
        ("Alice", 2, ["Bob", "Carol"]), ("Bob", 1, []), ("Carol", 0, []),
    ]
    # var-length + pattern-predicate positions; duplicate alternatives
    # collapse to the single-type form
    rows = cypher_read(
        g,
        "MATCH (a:User)-[:KNOWS|LIKES*1..2]->(b:User) "
        "WHERE a.name = 'Alice' RETURN b.name AS b ORDER BY b",
    ).collect()
    assert [r["b"] for r in rows] == ["Bob", "Carol"]
    rows = cypher_read(
        g,
        "MATCH (n:User) WHERE (n)-[:KNOWS|BLOCKS]->() "
        "RETURN n.name AS name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice"]
    with pytest.raises(CypherSyntaxError, match="ONE type"):
        cypher_write(
            g,
            "UNWIND $rows AS r MATCH (a:User {name: r.a}), "
            "(b:User {name: r.b}) MERGE (a)-[:A|B]->(b)",
            {"rows": [{"a": "Alice", "b": "Bob"}]},
        )
    with pytest.raises(CypherSyntaxError, match="ONE relationship type"):
        cypher_create_graph(
            spark, "CREATE (x:T {k: 1})-[:A|B]->(y:T {k: 2})"
        )


def test_map_literal_expression(fixture_graph):
    # {k: expr, ...} in expression position compiles to one struct
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "{name: n.name, next: n.born + 1} AS rec ORDER BY name",
    ).collect()
    assert [(r["name"], r["rec"]["name"], r["rec"]["next"]) for r in rows] == [
        ("Alice", "Alice", 1985), ("Bob", "Bob", 1984), ("Eve", "Eve", 1985),
    ]
    # carried through WITH, fields read back via struct access; string keys
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH {name: n.name, b: n.born} AS rec "
        "RETURN rec.name AS nm, rec.b AS b ORDER BY nm",
    ).collect()
    assert [(r["nm"], r["b"]) for r in rows] == [
        ("Alice", 1984), ("Bob", 1983), ("Eve", 1984),
    ]
    rows = cypher_read(fixture_graph, "RETURN {a: 1, b: 'x'} AS m").collect()
    assert rows[0]["m"]["a"] == 1 and rows[0]["m"]["b"] == "x"


def test_map_literal_validation(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="empty map"):
        cypher_read(fixture_graph, "MATCH (n:User) RETURN {} AS m")
    with pytest.raises(CypherSyntaxError, match="duplicate key"):
        cypher_read(fixture_graph, "MATCH (n:User) RETURN {a: 1, a: 2} AS m")
    # round 8: map values may aggregate (composite aggregate expressions)
    rows = cypher_read(
        fixture_graph, "MATCH (n:User) RETURN {a: count(*)} AS m"
    ).collect()
    assert rows[0]["m"]["a"] == 3


def test_temporal_map_constructors(fixture_graph):
    # Neo4j's component-map constructors: year required, month/day
    # default 1, time parts default 0; components are full expressions
    rows = cypher_read(
        fixture_graph,
        "RETURN date({year: 2020, month: 3, day: 15}) AS d, "
        "date({year: 2020}) AS jan1, "
        "datetime({year: 2020, month: 3, day: 15, hour: 10, minute: 30, "
        "second: 45}) AS t, date({year: 2020, month: 6}).month AS m",
    ).collect()
    r = rows[0]
    assert str(r["d"]) == "2020-03-15"
    assert str(r["jan1"]) == "2020-01-01"
    assert str(r["t"]).startswith("2020-03-15 10:30:45")
    assert r["m"] == 6
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "date({year: n.born, month: 2, day: 1}) AS feb ORDER BY name",
    ).collect()
    assert [str(r["feb"]) for r in rows] == [
        "1984-02-01", "1983-02-01", "1984-02-01",
    ]
    with pytest.raises(CypherSyntaxError, match="unsupported component"):
        cypher_read(fixture_graph, "RETURN date({year: 2020, tz: 'x'}) AS d")
    with pytest.raises(CypherSyntaxError, match="requires a year"):
        cypher_read(fixture_graph, "RETURN date({month: 3}) AS d")


def test_optional_match_after_with(spark):
    # pipeline OPTIONAL MATCH: re-expansion off a WITH-carried node — one
    # left equi-join on the carried struct's id
    g = cypher_create_graph(
        spark,
        "CREATE (alice:User {name:'Alice', born:1984}), "
        "(bob:User {name:'Bob', born:1983}), "
        "(eve:User {name:'Eve', born:1984}), (acme:Org {name:'Acme'}), "
        "(alice)-[:KNOWS {since:2001}]->(bob), "
        "(bob)-[:KNOWS {since:2002}]->(alice), "
        "(alice)-[:WORKS_AT {since:2010}]->(acme)",
    )
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n WHERE n.born = 1984 "
        "OPTIONAL MATCH (n)-[e:KNOWS]->(f) "
        "RETURN n.name AS name, f.name AS friend ORDER BY name",
    ).collect()
    assert [(r["name"], r["friend"]) for r in rows] == [
        ("Alice", "Bob"), ("Eve", None),
    ]
    # aggregation after; inner WHERE filters the optional side pre-join;
    # a further WITH stage reads the new variables
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n "
        "OPTIONAL MATCH (n)-[e:KNOWS]->(f) WHERE e.since > 2001 "
        "WITH n.name AS name, count(f) AS late "
        "RETURN name, late ORDER BY name",
    ).collect()
    assert [(r["name"], r["late"]) for r in rows] == [
        ("Alice", 0), ("Bob", 1), ("Eve", 0),
    ]
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n OPTIONAL MATCH (n)-[w:WORKS_AT]->(o:Org) "
        "RETURN n.name AS name, o.name AS org ORDER BY name",
    ).collect()
    assert [(r["name"], r["org"]) for r in rows] == [
        ("Alice", "Acme"), ("Bob", None), ("Eve", None),
    ]
    # stage variables are full node/edge structs (null-gated on a failed
    # optional binding), so whole-variable projection, collect, property
    # access, id() and type() all behave like a carried node
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n OPTIONAL MATCH (n)-[e:KNOWS]->(m) "
        "RETURN n.name AS name, m AS other, m.name AS mn, "
        "type(e) AS t ORDER BY name",
    ).collect()
    byname = {r["name"]: r for r in rows}
    assert byname["Alice"]["other"]["name"] == "Bob"
    assert byname["Alice"]["mn"] == "Bob" and byname["Alice"]["t"] == "KNOWS"
    assert byname["Eve"]["other"] is None and byname["Eve"]["t"] is None
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n OPTIONAL MATCH (n)-[e:KNOWS]->(m) "
        "RETURN n.name AS name, collect(m) AS ms ORDER BY name",
    ).collect()
    assert [len(r["ms"]) for r in rows] == [1, 1, 0]
    # the bound endpoint must be a carried NODE, not a scalar output
    with pytest.raises(CypherSyntaxError, match="carried node"):
        cypher_read(
            g,
            "MATCH (n:User) WITH n.name AS name "
            "OPTIONAL MATCH (name)-[e:KNOWS]->(f) RETURN name",
        )
    with pytest.raises(CypherSyntaxError, match="single-hop"):
        cypher_read(
            g,
            "MATCH (n:User) WITH n "
            "OPTIONAL MATCH (n)-[e:KNOWS]->(x)-[e2:KNOWS]->(m) "
            "RETURN n.name",
        )


def test_unwind_literal_map_list(fixture_graph):
    # inline-batch idiom: UNWIND [{a: 1}, {a: 2}] AS r — each map a
    # struct row, missing keys read null, same shape as UNWIND $rows
    rows = cypher_read(
        fixture_graph,
        "UNWIND [{a: 1, b: 'x'}, {a: 2, b: 'y'}] AS r "
        "RETURN r.a AS a, r.b AS b ORDER BY a",
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, "x"), (2, "y")]
    rows = cypher_read(
        fixture_graph,
        "UNWIND [{a: 1}, {b: 2}] AS r RETURN r.a AS a, r.b AS b ORDER BY a",
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, None), (None, 2)]
    with pytest.raises(CypherSyntaxError, match="homogeneous"):
        cypher_read(fixture_graph, "UNWIND [{a: 1}, 2] AS r RETURN r")
    # a null list element yields one row with a null value (openCypher),
    # matching the scalar literal-list path — not zero rows
    rows = cypher_read(
        fixture_graph,
        "UNWIND [{a: 1}, null, {a: 2}] AS r RETURN r.a AS a ORDER BY a",
    ).collect()
    assert [r["a"] for r in rows] == [1, 2, None]


def test_analysis_errors_surface_typed(fixture_graph):
    # unsupported type combinations raise OUR typed error at the API
    # boundary, never a raw AnalysisException
    for bad in (
        "RETURN size({a: 1}) AS s",
        "RETURN toInteger({a: 1}) AS x",
        "RETURN [1, 2][{a: 1}] AS x",
    ):
        with pytest.raises(CypherSyntaxError, match="type combination"):
            cypher_read(fixture_graph, bad)
    # a comprehension over a missing property reads null, per the
    # missing-property contract
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN [x IN n.missing | x] AS xs LIMIT 1",
    ).collect()
    assert rows[0]["xs"] is None


def test_in_over_non_list_raises_typed(fixture_graph):
    # Neo4j raises a type error for IN over a non-list; we probe the
    # operand and raise typed instead of a raw analysis exception
    with pytest.raises(CypherSyntaxError, match="requires a list operand"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) WHERE 'a' IN n.name RETURN n.name",
        )


def test_reduce_numeric_widening(fixture_graph):
    # Cypher coerces int<->float across the fold; Spark requires exact
    # accumulator/body type equality, so the probe twin widens the
    # narrow side to double
    rows = cypher_read(
        fixture_graph,
        "RETURN reduce(acc = 0, x IN range(1, 5) | acc + x ^ 2) AS a, "
        "reduce(acc = 0, x IN [1, 2, 3] | acc + x) AS b, "
        "reduce(acc = 0.5, x IN [1, 2] | acc + x) AS c, "
        "reduce(acc = 'x', x IN [1, 2] | acc + x) AS d",
    ).collect()
    r = rows[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (55.0, 6, 3.5, "x12")


def test_round5_feature_interactions(spark):
    # cross-feature sanity: multi-type patterns inside comprehensions
    # and blocks, map literals over stage variables, truncate over
    # carried props, chained comparisons with ^, pipeline stages chained
    g = cypher_create_graph(
        spark,
        "CREATE (a:User {name:'A', born:1984, d:'2024-03-17'}), "
        "(b:User {name:'B', born:1983}), (c:Org {name:'C'}), "
        "(a)-[:KNOWS {since:2001}]->(b), (a)-[:WORKS_AT {since:2010}]->(c)",
    )
    rows = cypher_read(
        g,
        "MATCH (n:User) RETURN n.name AS nm, "
        "[(n)-[e:KNOWS|WORKS_AT]->(m) | e.since] AS ys, "
        "COUNT { (n)-[:KNOWS|WORKS_AT]->() } AS deg ORDER BY nm",
    ).collect()
    assert [(r["nm"], r["ys"], r["deg"]) for r in rows] == [
        ("A", [2001, 2010], 2), ("B", [], 0),
    ]
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n OPTIONAL MATCH (n)-[e:KNOWS]->(m) "
        "RETURN {who: n.name, friend: m.name, "
        "month: date.truncate('month', date(n.d))} AS rec "
        "ORDER BY rec.who",
    ).collect()
    assert rows[0]["rec"]["who"] == "A"
    assert rows[0]["rec"]["friend"] == "B"
    assert str(rows[0]["rec"]["month"]) == "2024-03-01"
    assert rows[1]["rec"]["friend"] is None
    rows = cypher_read(
        g,
        "MATCH (n:User) WHERE 1900 < n.born <= 45 ^ 2 "
        "RETURN count(*) AS c",
    ).collect()
    assert rows[0]["c"] == 2  # 45^2 = 2025


def test_keys_properties_on_carried_structs(spark):
    # keys()/properties() work on WITH-carried node/edge structs with
    # the same non-null-present inventory as pattern scopes
    g = cypher_create_graph(
        spark,
        "CREATE (a:User {name:'A', born:1984}), (b:User {name:'B'}), "
        "(a)-[:KNOWS {since:2001}]->(b)",
    )
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n "
        "RETURN n.name AS nm, keys(n) AS ks, properties(n) AS ps "
        "ORDER BY nm",
    ).collect()
    assert [(r["nm"], r["ks"], r["ps"]) for r in rows] == [
        ("A", ["born", "name"], '{"born":1984,"name":"A"}'),
        ("B", ["name"], '{"name":"B"}'),
    ]
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n OPTIONAL MATCH (n)-[e:KNOWS]->(m) "
        "RETURN n.name AS nm, keys(e) AS ek ORDER BY nm",
    ).collect()
    assert [(r["nm"], r["ek"]) for r in rows] == [
        ("A", ["since"]), ("B", []),
    ]


def test_unwind_pattern_comprehension(spark):
    # WITH n UNWIND [(n)-[:T]->(m) | m.x] AS v — the bind-then-explode
    # composition off a carried node
    g = cypher_create_graph(
        spark,
        "CREATE (a:User {name:'A'}), (b:User {name:'B'}), "
        "(c:User {name:'C'}), (a)-[:KNOWS]->(b), (a)-[:KNOWS]->(c)",
    )
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n "
        "UNWIND [(n)-[:KNOWS]->(m) | m.name] AS v "
        "RETURN n.name AS name, v ORDER BY name, v",
    ).collect()
    assert [(r["name"], r["v"]) for r in rows] == [("A", "B"), ("A", "C")]


def test_count_and_comprehension_after_with(spark):
    # COUNT { } / pattern comprehensions bind over WITH-carried nodes
    # too (joined on the struct's id); distinct carried variables bind
    # independently even for identical pattern shapes
    g = cypher_create_graph(
        spark,
        "CREATE (a:User {name:'A'}), (b:User {name:'B'}), "
        "(c:User {name:'C'}), "
        "(a)-[:KNOWS {since:2001}]->(b), (b)-[:KNOWS {since:2002}]->(a), "
        "(a)-[:KNOWS {since:2003}]->(c)",
    )
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n, n.name AS nm "
        "RETURN nm, COUNT { (n)-[:KNOWS]->() } AS deg, "
        "[(n)-[:KNOWS]->(f) | f.name] AS fs ORDER BY nm",
    ).collect()
    assert [(r["nm"], r["deg"], r["fs"]) for r in rows] == [
        ("A", 2, ["B", "C"]), ("B", 1, ["A"]), ("C", 0, []),
    ]
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n "
        "WHERE COUNT { (n)-[:KNOWS]->() } >= 2 RETURN n.name AS nm",
    ).collect()
    assert [r["nm"] for r in rows] == ["A"]
    rows = cypher_read(
        g,
        "MATCH (a:User)-[e:KNOWS]->(b:User) WITH a, b "
        "RETURN a.name AS an, COUNT { (a)-[:KNOWS]->() } AS ad, "
        "COUNT { (b)-[:KNOWS]->() } AS bd ORDER BY an, bd",
    ).collect()
    assert [(r["an"], r["ad"], r["bd"]) for r in rows] == [
        ("A", 2, 0), ("A", 2, 1), ("B", 1, 2),
    ]
    # scalar outputs are not bindable scopes
    with pytest.raises(CypherSyntaxError, match="neither in this scope"):
        cypher_read(
            g,
            "MATCH (n:User) WITH n.name AS nm "
            "RETURN nm, COUNT { (nm)-[:KNOWS]->() } AS d",
        )


def test_stage_where_pattern_predicates(spark):
    # pattern predicates in a WITH-stage WHERE: semi/anti-join on the
    # carried node struct's id (the HAVING-plus-existence idiom)
    g = cypher_create_graph(
        spark,
        "CREATE (a:User {name:'A', born:1984}), "
        "(b:User {name:'B', born:1983}), (c:User {name:'C', born:1984}), "
        "(a)-[:KNOWS {since:2001}]->(b), (b)-[:KNOWS {since:2002}]->(a)",
    )
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n WHERE (n)-[:KNOWS]->() "
        "RETURN n.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["A", "B"]
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n, n.born AS b "
        "WHERE b = 1984 AND NOT (n)-[:KNOWS]->() "
        "RETURN n.name AS name",
    ).collect()
    assert [r["name"] for r in rows] == ["C"]
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n "
        "WHERE EXISTS { (n)-[e:KNOWS]->(f) WHERE e.since > 2001 } "
        "RETURN n.name AS name",
    ).collect()
    assert [r["name"] for r in rows] == ["B"]
    with pytest.raises(CypherSyntaxError, match="carried node"):
        cypher_read(
            g,
            "MATCH (n:User) WITH n.name AS name "
            "WHERE (name)-[:KNOWS]->() RETURN name",
        )


def test_plain_match_after_with(spark):
    # pipeline MATCH (non-optional): inner-join re-expansion off a
    # carried node — non-matching rows drop, per Cypher
    g = cypher_create_graph(
        spark,
        "CREATE (alice:User {name:'Alice', born:1984}), "
        "(bob:User {name:'Bob', born:1983}), (eve:User {name:'Eve'}), "
        "(alice)-[:KNOWS {since:2001}]->(bob), "
        "(bob)-[:KNOWS {since:2002}]->(alice)",
    )
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n WHERE n.born >= 1983 "
        "MATCH (n)-[e:KNOWS]->(f) "
        "RETURN n.name AS name, f.name AS friend ORDER BY name",
    ).collect()
    assert [(r["name"], r["friend"]) for r in rows] == [
        ("Alice", "Bob"), ("Bob", "Alice"),
    ]
    rows = cypher_read(
        g,
        "MATCH (n:User) WITH n MATCH (n)-[e:KNOWS]->(f) "
        "WHERE e.since > 2001 RETURN n.name AS name, f.name AS friend",
    ).collect()
    assert [(r["name"], r["friend"]) for r in rows] == [("Bob", "Alice")]


def test_path_variable_varlength(spark):
    # MATCH p = (a)-[:T*lo..hi]->(b): length(p) reads the per-chain hop
    # count, usable in RETURN and WHERE
    g = cypher_create_graph(
        spark,
        "CREATE (a:User {name:'A'}), (b:User {name:'B'}), "
        "(c:User {name:'C'}), (a)-[:KNOWS]->(b), (b)-[:KNOWS]->(c)",
    )
    rows = cypher_read(
        g,
        "MATCH p = (a:User)-[:KNOWS*1..2]->(b:User) "
        "RETURN a.name AS a, b.name AS b, length(p) AS l ORDER BY a, b",
    ).collect()
    assert [(r["a"], r["b"], r["l"]) for r in rows] == [
        ("A", "B", 1), ("A", "C", 2), ("B", "C", 1),
    ]
    rows = cypher_read(
        g,
        "MATCH p = (a:User)-[:KNOWS*1..2]->(b:User) "
        "WHERE length(p) = 2 RETURN a.name AS a, b.name AS b",
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [("A", "C")]
    # single-hop patterns and whole-path projection stay loud
    with pytest.raises(CypherSyntaxError, match="variable-length"):
        cypher_read(g, "MATCH p = (a:User)-[:KNOWS]->(b:User) RETURN a.name")
    with pytest.raises(CypherSyntaxError, match="not supported"):
        cypher_read(
            g, "MATCH p = (a:User)-[:KNOWS*1..2]->(b:User) RETURN p"
        )


def test_exponent_operator(fixture_graph):
    # ^ binds tighter than *, is right-associative, and yields FLOAT
    rows = cypher_read(
        fixture_graph,
        "RETURN 2 ^ 3 AS a, 2 ^ 3 ^ 2 AS b, 2 * 3 ^ 2 AS c, "
        "(1 + 1) ^ 3 AS d",
    ).collect()
    r = rows[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (8.0, 512.0, 18.0, 8.0)
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.born ^ 2 > 1000000 "
        "RETURN count(*) AS c",
    ).collect()
    assert rows[0]["c"] == 3


def test_temporal_truncate(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "RETURN date.truncate('month', date('2024-03-17')) AS m, "
        "date.truncate('week', date('2024-03-17')) AS w, "
        "datetime.truncate('hour', datetime('2024-03-17T10:42:31')) AS h, "
        "date.truncate('quarter', date('2024-05-02')).month AS qm",
    ).collect()
    r = rows[0]
    assert str(r["m"]) == "2024-03-01"
    assert str(r["w"]) == "2024-03-11"  # ISO Monday
    assert str(r["h"]).startswith("2024-03-17 10:00:00")
    assert r["qm"] == 4
    with pytest.raises(CypherSyntaxError, match="does not support unit"):
        cypher_read(
            fixture_graph,
            "RETURN date.truncate('hour', date('2024-03-17')) AS x",
        )
    with pytest.raises(CypherSyntaxError, match="unknown temporal"):
        cypher_read(fixture_graph, "RETURN date.frob(1) AS x")


def test_skip_limit_parameters(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name ORDER BY name "
        "SKIP $s LIMIT $l",
        {"s": 1, "l": 1},
    ).collect()
    assert [r["name"] for r in rows] == ["Bob"]
    with pytest.raises(CypherSyntaxError, match="LIMIT must be an integer"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN n.name LIMIT $f",
            {"f": 1.5},
        )


def test_in_over_expression(fixture_graph):
    # membership in a list-valued expression -> array_contains
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE 'A' IN split(toUpper(n.name), 'LICE') "
        "RETURN n.name AS name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice"]
    # 3VL: membership in a missing property is null -> no match
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE 'a' IN n.missing RETURN n.name AS name",
    ).collect()
    assert rows == []
    # NOT x IN <expr> keeps three-valued semantics (null never passes)
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE NOT 'Z' IN split(n.name, 'x') "
        "RETURN count(*) AS c",
    ).collect()
    assert rows[0]["c"] == 3


def test_pattern_comprehension_basic(fixture_graph):
    # the inline one-to-many projection: per-user friend-name list;
    # no-match rows read [] (not null), per Cypher
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "[(n)-[:KNOWS]->(f) | f.name] AS friends ORDER BY name",
    ).collect()
    assert [(r["name"], r["friends"]) for r in rows] == [
        ("Alice", ["Bob"]), ("Bob", ["Alice"]), ("Eve", []),
    ]


def test_pattern_comprehension_where_and_edge_var(fixture_graph):
    # inner WHERE filters the matched pattern, not the outer row; the
    # edge variable's properties are in scope
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "[(n)-[e:KNOWS]->(f) WHERE e.since > 2001 | f.name] AS late, "
        "[(n)-[e:KNOWS]->() | e.since] AS years ORDER BY name",
    ).collect()
    assert [(r["name"], r["late"], r["years"]) for r in rows] == [
        ("Alice", [], [2001]), ("Bob", ["Alice"], [2002]), ("Eve", [], []),
    ]


def test_pattern_comprehension_directions(fixture_graph):
    # incoming and undirected orientations; undirected matches each
    # relationship once per orientation (Alice-KNOWS-Bob both ways = two
    # matches), exactly Neo4j's row semantics
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "[(n)<-[:KNOWS]-(f) | f.name] AS inn, "
        "[(n)-[:KNOWS]-(f) | f.name] AS und ORDER BY name",
    ).collect()
    assert [(r["name"], r["inn"], r["und"]) for r in rows] == [
        ("Alice", ["Bob"], ["Bob", "Bob"]),
        ("Bob", ["Alice"], ["Alice", "Alice"]),
        ("Eve", [], []),
    ]


def test_pattern_comprehension_null_values_survive(fixture_graph):
    # Neo4j keeps null projected values in the list (unlike collect());
    # `nickname` was never written, so every match projects null
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "[(n)-[:KNOWS]->(f) | f.nickname] AS nicks ORDER BY name",
    ).collect()
    assert [(r["name"], r["nicks"]) for r in rows] == [
        ("Alice", [None]), ("Bob", [None]), ("Eve", []),
    ]


def test_pattern_comprehension_size_with_unwind(fixture_graph):
    # size() over a comprehension (the counting idiom), a WITH-stage
    # comprehension filtered on the list, and UNWIND of the list
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "size([(n)-[:KNOWS]-(f) | f.name]) AS deg ORDER BY name",
    ).collect()
    assert [(r["name"], r["deg"]) for r in rows] == [
        ("Alice", 2), ("Bob", 2), ("Eve", 0),
    ]
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n.name AS name, "
        "[(n)-[:KNOWS]->(f) | f.born] AS bs WHERE size(bs) > 0 "
        "UNWIND bs AS b RETURN name, b ORDER BY name",
    ).collect()
    assert [(r["name"], r["b"]) for r in rows] == [
        ("Alice", 1983), ("Bob", 1984),
    ]


def test_pattern_comprehension_expression_and_label(fixture_graph):
    # arithmetic over the inner scope; a label on the far endpoint
    # restricts the matches (no :Org nodes exist -> every list is [])
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "[(n)-[:KNOWS]->(f) | f.born + 1] AS next, "
        "[(n)-[:KNOWS]->(m:Org) | m.name] AS orgs ORDER BY name",
    ).collect()
    assert [(r["name"], r["next"], r["orgs"]) for r in rows] == [
        ("Alice", [1984], []), ("Bob", [1985], []), ("Eve", [], []),
    ]


def test_pattern_comprehension_validation(fixture_graph):
    # outer-scope references inside the comprehension raise
    with pytest.raises(CypherSyntaxError, match="own pattern variables"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN [(n)-[:KNOWS]->(f) | n.name] AS bad",
        )
    # the projection is mandatory (Neo4j grammar)
    with pytest.raises(CypherSyntaxError, match="requires a projection"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN [(n)-[:KNOWS]->(f)] AS bad",
        )
    # bare whole-variable projection collects full node structs (round 8)
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "[(n)-[:KNOWS]->(f) | f] AS friends ORDER BY name",
    ).collect()
    assert {
        r["name"]: [f["name"] for f in r["friends"]] for r in rows
    } == {"Alice": ["Bob"], "Bob": ["Alice"], "Eve": []}
    # WHERE-position comprehension: list-equality filter binds and runs
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) "
        "WHERE [(n)-[:KNOWS]->(f) | f.name] = ['Bob'] "
        "RETURN n.name AS name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice"]


def test_foreach_range_create(fixture_graph):
    g2 = cypher_write(
        fixture_graph,
        "FOREACH (i IN range(1, 5) | CREATE (:Item {n: i, sq: i * i}))",
    )
    rows = g2.nodes("Item").orderBy("n").collect()
    assert [(r["n"], r["sq"]) for r in rows] == [
        (1, 1), (2, 4), (3, 9), (4, 16), (5, 25)
    ]
    # fresh dense ids above the existing max
    old_max = max(r["id"] for r in fixture_graph.vertices.collect())
    assert sorted(r["id"] for r in rows) == list(
        range(old_max + 1, old_max + 6)
    )


def test_foreach_literal_list_and_scalar_fns(fixture_graph):
    g2 = cypher_write(
        fixture_graph,
        "FOREACH (v IN ['a', 'b'] | CREATE (:Tag {t: toUpper(v)}))",
    )
    assert sorted(r["t"] for r in g2.nodes("Tag").collect()) == ["A", "B"]
    # empty source: no-op
    g3 = cypher_write(fixture_graph, "FOREACH (v IN [] | CREATE (:G {t: v}))")
    assert g3.vertices.filter("label = 'G'").count() == 0


def test_foreach_rejects_non_create_bodies(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="only CREATE"):
        cypher_write(fixture_graph, "FOREACH (i IN range(1, 3) | SET n.x = i)")
    with pytest.raises(CypherSyntaxError, match="in scope"):
        cypher_write(
            fixture_graph,
            "FOREACH (i IN range(1, 3) | CREATE (:X {n: j}))",
        )


def test_foreach_list_follows_unwind_rules(fixture_graph):
    """FOREACH and UNWIND share one list source: a mixed list raises the
    typed homogeneity error in both, and int mixed with float promotes
    to float in both."""
    for query in (
        "FOREACH (i IN [1, 'a'] | CREATE (:Z {n: i}))",
        "UNWIND [1, 'a'] AS i RETURN i",
    ):
        with pytest.raises(CypherSyntaxError, match="homogeneous"):
            run = cypher_write if query.startswith("FOREACH") else cypher_read
            run(fixture_graph, query)
    g2 = cypher_write(fixture_graph, "FOREACH (i IN [1, 2.5] | CREATE (:Z {n: i}))")
    stored = sorted(r["n"] for r in g2.nodes("Z").collect())
    unwound = sorted(
        r["i"]
        for r in cypher_read(fixture_graph, "UNWIND [1, 2.5] AS i RETURN i").collect()
    )
    assert stored == unwound == [1.0, 2.5]
    assert all(isinstance(v, float) for v in stored)


def test_set_label_adds_to_matched_rows(fixture_graph):
    """SET n:Label ADDS the label (Neo4j multi-label semantics) for
    matched rows only: the primary label stays, labels() reads both in
    addition order, and matching works through either."""
    g2 = cypher_write(
        fixture_graph,
        "MATCH (n:User) WHERE n.trust = true SET n:TrustedUser",
    )
    assert g2.nodes("TrustedUser").count() == 2      # Alice, Bob
    assert g2.nodes("User").count() == 3             # everyone keeps User
    rows = cypher_read(
        g2, "MATCH (n:TrustedUser) RETURN n.name AS name, labels(n) AS l",
    ).collect()
    assert all(r["l"] == ["User", "TrustedUser"] for r in rows)


def test_multilabel_set_remove_roundtrip(fixture_graph):
    """Chained SET n:A:B adds both; REMOVE of the primary (matched via
    an added label) leaves the rest; replaying a SET of a carried label
    is a no-op (set semantics)."""
    g2 = cypher_write(fixture_graph, "MATCH (n:User) SET n:Person:Human")
    rows = cypher_read(
        g2, "MATCH (n:Person) RETURN n.name AS name, labels(n) AS l"
    ).collect()
    assert len(rows) == 3
    assert all(r["l"] == ["User", "Person", "Human"] for r in rows)
    # replayed SET of an already-carried label: no duplicate
    g3 = cypher_write(g2, "MATCH (n:Human) SET n:Person")
    rows = cypher_read(
        g3, "MATCH (n:Person) RETURN labels(n) AS l"
    ).collect()
    assert all(r["l"] == ["User", "Person", "Human"] for r in rows)
    # REMOVE the PRIMARY label, matched through an extra: the vertex
    # stays reachable by its remaining labels
    g4 = cypher_write(
        g3, "MATCH (n:Person) WHERE n.name = 'Eve' REMOVE n:User"
    )
    assert g4.nodes("User").count() == 2
    assert g4.nodes("Person").count() == 3
    rows = cypher_read(
        g4, "MATCH (n:Person) WHERE n.name = 'Eve' RETURN labels(n) AS l"
    ).collect()
    assert rows[0]["l"] == ["Person", "Human"]
    # REMOVE an extra label too: back to the primary only
    g5 = cypher_write(g4, "MATCH (n:Human) REMOVE n:Person:Human")
    rows = cypher_read(
        g5, "MATCH (n) WHERE n.name = 'Alice' RETURN labels(n) AS l"
    ).collect()
    assert rows[0]["l"] == ["User"]


def test_set_label_composes_with_property_set(fixture_graph):
    g2 = cypher_write(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Eve' SET n:Suspended, n.active = false",
    )
    eve = g2.nodes("Suspended").collect()
    assert len(eve) == 1 and eve[0]["active"] is False
    # non-matched rows: label and new property untouched
    alice = g2.nodes("User").filter("name = 'Alice'").collect()[0]
    assert alice["active"] is None


def test_remove_label_nulls_only_carriers(fixture_graph):
    """REMOVE n:Label null-outs the label only where the vertex carries
    it; labels() then reads Neo4j's empty list."""
    g2 = cypher_write(
        fixture_graph, "MATCH (n) WHERE n.name = 'Eve' REMOVE n:User"
    )
    assert g2.nodes("User").count() == 2
    bare = g2.vertices.filter("label IS NULL").collect()
    assert len(bare) == 1 and bare[0]["name"] == "Eve"
    rows = cypher_read(
        g2, "MATCH (n) WHERE n.name = 'Eve' RETURN labels(n) AS l"
    ).collect()
    assert rows[0]["l"] == []
    # REMOVE of a label the match set does not carry is a no-op
    g3 = cypher_write(
        fixture_graph, "MATCH (n) WHERE n.name = 'Alice' REMOVE n:Ghost"
    )
    assert g3.nodes("User").count() == 3


def test_bare_set_expression_values(fixture_graph):
    """SET right-hand sides are full expressions over the node's own
    (pre-update) properties — the counter and computed-update idioms."""
    g2 = cypher_write(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Eve' "
        "SET n.born = n.born + 1, n.shout = toUpper(n.name)",
    )
    users = {r["name"]: r for r in g2.nodes("User").collect()}
    assert users["Eve"]["born"] == 1985
    assert users["Eve"]["shout"] == "EVE"
    assert users["Alice"]["born"] == 1984      # unmatched rows untouched
    assert users["Alice"]["shout"] is None
    with pytest.raises(CypherSyntaxError, match="aggregates"):
        cypher_write(
            fixture_graph, "MATCH (n:User) SET n.c = count(*)"
        )


def test_set_map_merge(fixture_graph):
    """SET n += {map} / += $param: listed properties overwrite (null
    removes), others untouched — folds into the one conditional
    projection."""
    g2 = cypher_write(
        fixture_graph,
        "MATCH (n:User {name: 'Eve'}) "
        "SET n += {born: n.born + 1, vip: true}",
    )
    users = {r["name"]: r for r in g2.nodes("User").collect()}
    assert users["Eve"]["born"] == 1985 and users["Eve"]["vip"] is True
    assert users["Eve"]["height"] == 1.62          # untouched property
    assert users["Alice"]["vip"] is None           # unmatched row
    g3 = cypher_write(
        g2,
        "MATCH (n:User {name: 'Eve'}) SET n += $p",
        {"p": {"vip": None, "score": 7}},
    )
    eve = g3.nodes("User").filter("name = 'Eve'").collect()[0]
    assert eve["vip"] is None and eve["score"] == 7
    with pytest.raises(CypherSyntaxError, match="map value"):
        cypher_write(
            fixture_graph,
            "MATCH (n:User) SET n += $p",
            {"p": [1, 2]},
        )


def test_batch_map_value_rejected(fixture_graph):
    # a map that arrives in a row field (no literal for the parser to see)
    # is refused where the batch frame is written, not stored as a
    # map-typed property column
    with pytest.raises(ValueError, match="scalar"):
        cypher_write(
            fixture_graph,
            "UNWIND $rows AS r MATCH (p) WHERE p.name = r.name SET p.m = r.m",
            {"rows": [{"name": "Alice", "m": {"a": 1}}]},
        )


def test_label_mutation_validation(fixture_graph):
    # comma-separated label items both apply (additive multi-label)
    g2 = cypher_write(fixture_graph, "MATCH (n:User) SET n:A, n:B")
    assert g2.nodes("A").count() == 3 and g2.nodes("B").count() == 3
    with pytest.raises(CypherSyntaxError, match="SET n:Label"):
        cypher_write(fixture_graph, "MATCH (n:User) SET n.label = 'A'")
    with pytest.raises(CypherSyntaxError):
        # label mutation must target the matched variable
        cypher_write(fixture_graph, "MATCH (n:User) SET m:A")


#: every property-write form × the structural columns of its target:
#: none may assign them (a write to ``label`` used to re-label the
#: vertex, one to ``extra_labels`` turned the label array into a string)
_NODE_WRITE_FORMS = [
    "UNWIND $rows AS r MERGE (n:User {name: r.name}) SET n.{c} = r.v",
    "UNWIND $rows AS r MERGE (n:User {name: r.name}) ON MATCH SET n.{c} = r.v",
    "UNWIND $rows AS r MERGE (n:User {name: r.name}) ON CREATE SET n.{c} = r.v",
    "UNWIND $rows AS r MATCH (p) WHERE p.name = r.name SET p.{c} = r.v",
    "MATCH (n:User) SET n.{c} = 'x'",
    "MATCH (n:User) SET n += {{c}: 'x'}",
    "MATCH (n:User) SET n = {{c}: 'x'}",
    "MATCH (n:User) REMOVE n.{c}",
]
_EDGE_WRITE_FORMS = [
    "UNWIND $rows AS r MATCH (a:User {name: r.name}), (b:User {name: r.v}) "
    "MERGE (a)-[e:KNOWS]->(b) ON CREATE SET e.{c} = r.v",
    "UNWIND $rows AS r MATCH (a:User {name: r.name}), (b:User {name: r.v}) "
    "MERGE (a)-[e:KNOWS]->(b) ON MATCH SET e.{c} = r.v",
    "MATCH ()-[e:KNOWS]->() SET e.{c} = 'x'",
    "MATCH (a:User)-[e:KNOWS]->() SET e += {{c}: 'x'}",
    "MATCH ()-[e:KNOWS]->() SET e = {{c}: 'x'}",
    "MATCH ()-[e:KNOWS]->() REMOVE e.{c}",
]


@pytest.mark.parametrize(
    "form,col",
    # (``id`` is a keyword: the grammar never reads it as a property name)
    [(f, c) for f in _NODE_WRITE_FORMS for c in ("label", "extra_labels")]
    + [(f, c) for f in _EDGE_WRITE_FORMS for c in ("src", "dst", "rel_type")],
)
def test_writes_reject_structural_columns(fixture_graph, form, col):
    with pytest.raises(CypherSyntaxError, match="reserved"):
        cypher_write(
            fixture_graph,
            form.replace("{c}", col),
            {"rows": [{"name": "Alice", "v": "Bob"}]},
        )


@pytest.mark.parametrize(
    "q",
    [
        "MATCH (n:User) SET n.m = {a: 1}",
        "MATCH (n:User) SET n += {m: {a: 1}}",
        "MATCH (n:User) SET n.m = $m",
        "MATCH ()-[e:KNOWS]->() SET e.m = {a: 1}",
        "UNWIND $rows AS r MERGE (n:User {name: r.name}) SET n.m = {a: 1}",
    ],
)
def test_map_valued_set_is_typed_error(fixture_graph, q):
    # Neo4j stores scalars and lists only
    with pytest.raises(CypherSyntaxError, match="map"):
        cypher_write(
            fixture_graph, q, {"rows": [{"name": "Alice"}], "m": {"a": 1}}
        )


@pytest.mark.parametrize(
    "q",
    [
        "MATCH (n:User) SET n.x = 1, n.x = 2",
        "MATCH (n:User) SET n += {x: 1}, n.x = 2",
        "MATCH (n:User) REMOVE n.born, n.born",
        "MATCH ()-[e:KNOWS]->() SET e.w = 1, e.w = 2",
        "UNWIND $rows AS r MATCH (p) WHERE p.name = r.name "
        "SET p.x = r.a, p.x = r.b",
        "UNWIND $rows AS r MERGE (n:User {name: r.name}) SET n.x = 1, n.x = 2",
    ],
)
def test_property_assigned_twice_is_rejected_in_every_form(fixture_graph, q):
    with pytest.raises(CypherSyntaxError, match="assigned twice"):
        cypher_write(fixture_graph, q, {"rows": [{"name": "Alice"}]})


def test_unwind_match_set_cannot_reassign_its_key(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="match key"):
        cypher_write(
            fixture_graph,
            "UNWIND $rows AS r MATCH (p) WHERE p.name = r.name SET p.name = r.v",
            {"rows": [{"name": "Alice", "v": "Zed"}]},
        )


def test_merge_on_create_on_match_divergence(fixture_graph):
    """The canonical conditional upsert: the SAME property takes a
    DIFFERENT value depending on whether the row matched or created
    (Neo4j's ON CREATE SET / ON MATCH SET contract)."""
    g2 = cypher_write(
        fixture_graph,
        "UNWIND $rows AS r MERGE (u:User {name: r.name}) "
        "ON CREATE SET u.status = 'new' "
        "ON MATCH SET u.status = 'seen'",
        {"rows": [{"name": "Eve"}, {"name": "Frank"}]},
    )
    users = {r["name"]: r for r in g2.nodes("User").collect()}
    assert users["Eve"]["status"] == "seen"      # matched arm
    assert users["Frank"]["status"] == "new"     # created arm
    assert users["Alice"]["status"] is None      # untouched rows: no property
    assert users["Eve"]["born"] == 1984          # other props survive


def test_merge_on_create_only_leaves_matches_untouched(fixture_graph):
    g2 = cypher_write(
        fixture_graph,
        "UNWIND $rows AS r MERGE (u:User {name: r.name}) "
        "ON CREATE SET u.trust = r.trust",
        {"rows": [
            {"name": "Eve", "trust": True},    # matches: trust must NOT change
            {"name": "Frank", "trust": True},  # creates: trust set
        ]},
    )
    users = {r["name"]: r for r in g2.nodes("User").collect()}
    assert users["Eve"]["trust"] is False   # fixture value preserved
    assert users["Frank"]["trust"] is True


def test_merge_on_match_only_creates_bare_node(fixture_graph):
    g2 = cypher_write(
        fixture_graph,
        "UNWIND $rows AS r MERGE (u:User {name: r.name}) "
        "ON MATCH SET u.trust = r.trust",
        {"rows": [
            {"name": "Eve", "trust": True},    # matches: trust flips
            {"name": "Frank", "trust": True},  # creates: key only, no trust
        ]},
    )
    users = {r["name"]: r for r in g2.nodes("User").collect()}
    assert users["Eve"]["trust"] is True
    assert users["Frank"]["trust"] is None  # ON MATCH arm never fired


def test_merge_plain_set_composes_with_arms(fixture_graph):
    """Plain SET applies on both arms alongside arm-specific properties."""
    g2 = cypher_write(
        fixture_graph,
        "UNWIND $rows AS r MERGE (u:User {name: r.name}) "
        "ON CREATE SET u.origin = 'merge' "
        "SET u.batch = r.batch",
        {"rows": [
            {"name": "Eve", "batch": 7},
            {"name": "Frank", "batch": 7},
        ]},
    )
    users = {r["name"]: r for r in g2.nodes("User").collect()}
    assert users["Eve"]["batch"] == 7 and users["Frank"]["batch"] == 7
    assert users["Eve"]["origin"] is None       # matched: ON CREATE skipped
    assert users["Frank"]["origin"] == "merge"  # created


def test_merge_on_arms_idempotent_on_replay(fixture_graph):
    """Replaying the same conditional-upsert batch: the second run takes
    the ON MATCH arm for rows the first run created."""
    stmt = (
        "UNWIND $rows AS r MERGE (u:User {name: r.name}) "
        "ON CREATE SET u.visits = 1 ON MATCH SET u.visits = 2"
    )
    batch = {"rows": [{"name": "Grace"}]}
    g2 = cypher_write(fixture_graph, stmt, batch)
    assert g2.nodes("User").filter("name = 'Grace'").collect()[0]["visits"] == 1
    g3 = cypher_write(g2, stmt, batch)
    grace = g3.nodes("User").filter("name = 'Grace'").collect()
    assert len(grace) == 1 and grace[0]["visits"] == 2


def test_merge_arm_clause_validation(fixture_graph):
    rows = {"rows": [{"name": "x"}]}
    with pytest.raises(CypherSyntaxError, match="duplicate ON CREATE"):
        cypher_write(
            fixture_graph,
            "UNWIND $rows AS r MERGE (u:User {name: r.name}) "
            "ON CREATE SET u.a = 1 ON CREATE SET u.b = 2",
            rows,
        )
    with pytest.raises(CypherSyntaxError, match="assigned in both"):
        cypher_write(
            fixture_graph,
            "UNWIND $rows AS r MERGE (u:User {name: r.name}) "
            "ON MATCH SET u.a = 1 SET u.a = 2",
            rows,
        )
    with pytest.raises(CypherSyntaxError, match="MERGE key"):
        cypher_write(
            fixture_graph,
            "UNWIND $rows AS r MERGE (u:User {name: r.name}) "
            "ON MATCH SET u.name = 'y'",
            rows,
        )
    with pytest.raises(CypherSyntaxError, match="expected CREATE or MATCH"):
        cypher_write(
            fixture_graph,
            "UNWIND $rows AS r MERGE (u:User {name: r.name}) ON DELETE SET u.a = 1",
            rows,
        )


def test_merge_requires_label_and_single_key(fixture_graph):
    with pytest.raises(CypherSyntaxError):
        cypher_write(
            fixture_graph,
            "UNWIND $rows AS r MERGE (u {name: r.name})",
            {"rows": [{"name": "x"}]},
        )
    with pytest.raises(CypherSyntaxError):
        cypher_write(
            fixture_graph,
            "UNWIND $rows AS r MERGE (u:User {name: r.name, born: r.born})",
            {"rows": [{"name": "x", "born": 1}]},
        )


def test_skip_pages_ordered_result(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) RETURN u.name AS name ORDER BY name SKIP 1 LIMIT 1",
    ).collect()
    assert [r["name"] for r in rows] == ["Bob"]


def test_skip_without_limit(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) RETURN u.name AS name ORDER BY name SKIP 2",
    ).collect()
    assert [r["name"] for r in rows] == ["Eve"]


def test_skip_inside_with_stage(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) WITH u.name AS name ORDER BY name SKIP 1 LIMIT 1 "
        "RETURN name",
    ).collect()
    assert [r["name"] for r in rows] == ["Bob"]


def test_skip_requires_integer(fixture_graph):
    with pytest.raises(CypherSyntaxError):
        cypher_read(
            fixture_graph,
            "MATCH (u:User) RETURN u.name AS name SKIP 1.5",
        )


def test_in_list_predicate(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) WHERE u.name IN ['Alice', 'Eve'] "
        "RETURN u.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice", "Eve"]


def test_in_empty_list_is_never_true(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) WHERE u.name IN [] RETURN u.name AS name",
    ).collect()
    assert rows == []


def test_starts_with_and_contains(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) WHERE u.name STARTS WITH 'A' OR u.name CONTAINS 'v' "
        "RETURN u.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice", "Eve"]


def test_ends_with(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) WHERE u.name ENDS WITH 'e' "
        "RETURN u.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice", "Eve"]


def test_union_dedup_and_all(fixture_graph):
    dedup = cypher_read(
        fixture_graph,
        "MATCH (u:User) WHERE u.name = 'Alice' RETURN u.name AS name "
        "UNION MATCH (v:User) WHERE v.name = 'Alice' RETURN v.name AS name",
    ).collect()
    assert len(dedup) == 1
    dup = cypher_read(
        fixture_graph,
        "MATCH (u:User) WHERE u.name = 'Alice' RETURN u.name AS name "
        "UNION ALL MATCH (v:User) WHERE v.name = 'Alice' RETURN v.name AS name",
    ).collect()
    assert len(dup) == 2


def test_union_column_mismatch_raises(fixture_graph):
    with pytest.raises(CypherSyntaxError):
        cypher_read(
            fixture_graph,
            "MATCH (u:User) RETURN u.name AS a "
            "UNION MATCH (v:User) RETURN v.name AS b",
        )


def test_pattern_predicate_negated(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) WHERE NOT (u)-[:KNOWS]->() "
        "RETURN u.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Eve"]


def test_pattern_predicate_positive_with_label_and_cond(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (u:User) WHERE (u)-[:KNOWS]->(:User) AND u.born = 1984 "
        "RETURN u.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice"]


def test_pattern_predicate_rejects_or(fixture_graph):
    with pytest.raises(CypherSyntaxError):
        cypher_read(
            fixture_graph,
            "MATCH (u:User) WHERE (u)-[:KNOWS]->() OR u.born = 1984 "
            "RETURN u.name AS name",
        ).collect()


def test_collect_aggregate_sorted(fixture_graph):
    """collect(x.prop) materializes the group's values as a SORTED list
    (deterministic-value contract; openCypher leaves order unspecified)."""
    from flink_neo4j_spark.cypher_frontend import cypher_read

    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) "
        "RETURN a.name AS src, collect(b.name) AS peers",
    )
    rows = {r["src"]: list(r["peers"]) for r in df.collect()}
    assert rows["Alice"] == sorted(rows["Alice"])
    assert all(peers == sorted(peers) for peers in rows.values())


def test_collect_requires_argument(fixture_graph):
    import pytest as _pytest

    from flink_neo4j_spark.cypher_frontend import CypherSyntaxError, cypher_read

    with _pytest.raises(CypherSyntaxError):
        cypher_read(fixture_graph, "MATCH (n:User) RETURN collect(*) AS xs")


def test_shortest_path_basic(fixture_graph):
    """shortestPath returns the minimum hop count per endpoint pair; the
    fixture's Alice->Bob->Eve chain gives hops(Alice,Eve)=2 even though a
    longer path may exist."""
    from flink_neo4j_spark.cypher_frontend import cypher_read

    df = cypher_read(
        fixture_graph,
        "MATCH p = shortestPath((a:User)-[*1..3]->(b:User)) "
        "RETURN a.name AS src, b.name AS dst, length(p) AS hops "
        "ORDER BY src, dst",
    )
    rows = {(r["src"], r["dst"]): r["hops"] for r in df.collect()}
    assert rows[("Alice", "Bob")] == 1
    assert rows.get(("Alice", "Eve"), 2) == 2


@pytest.fixture(scope="module")
def chain_vl_graph(spark):
    """A->B->C (T edges), C->D and B->D (S edges) — the var-length-in-chain
    shapes: reachability composed with a property hop."""
    return cypher_create_graph(
        spark,
        "CREATE (a:N {name: 'A'}), (b:N {name: 'B'}), (c:N {name: 'C'}),"
        " (d:N {name: 'D'}),"
        " (a)-[:T]->(b), (b)-[:T]->(c), (c)-[:S]->(d), (b)-[:S]->(d)",
    )


def test_varlength_in_chain(chain_vl_graph):
    """Variable-length segments compose with single-hop clauses, both as a
    comma chain (one MATCH) and across MATCH clauses (round-8)."""
    for q in (
        "MATCH (a:N)-[:T*1..2]->(b), (b)-[:S]->(c) WHERE a.name = 'A' "
        "RETURN a.name AS s, b.name AS m, c.name AS t ORDER BY m",
        "MATCH (a:N)-[:T*1..2]->(b) MATCH (b)-[:S]->(c) WHERE a.name = 'A' "
        "RETURN a.name AS s, b.name AS m, c.name AS t ORDER BY m",
    ):
        assert [tuple(r) for r in cypher_read(chain_vl_graph, q).collect()] == [
            ("A", "B", "D"),
            ("A", "C", "D"),
        ]


def test_varlength_in_chain_isomorphism(chain_vl_graph):
    """openCypher relationship isomorphism holds WITHIN one MATCH clause:
    an undirected var-length segment may not reuse the sibling clause's
    edge in the same comma chain — but the same shapes in SEPARATE MATCH
    clauses may share edges."""
    # same clause: every (x)-[:S*1..1]-(d) binding consumes the only S
    # edge (d)-[:S]->(q) could use -> empty
    assert (
        cypher_read(
            chain_vl_graph,
            "MATCH (x:N)-[:S*1..1]-(d), (d)-[:S]->(q) "
            "RETURN x.name AS x, d.name AS d, q.name AS q",
        ).count()
        == 0
    )
    # separate clauses: edge reuse is legal, rows come back
    assert (
        cypher_read(
            chain_vl_graph,
            "MATCH (x:N)-[:S*1..1]-(d) MATCH (d)-[:S]->(q) "
            "RETURN x.name AS x, d.name AS d, q.name AS q",
        ).count()
        == 2  # (D,C,D) and (D,B,D)
    )
    # undirected var-length + a DIFFERENT rel type in the same clause
    assert sorted(
        tuple(r)
        for r in cypher_read(
            chain_vl_graph,
            "MATCH (x:N)-[:T*1..1]-(d), (d)-[:S]->(q) "
            "RETURN x.name AS x, d.name AS d, q.name AS q",
        ).collect()
    ) == [("A", "B", "D"), ("B", "C", "D"), ("C", "B", "D")]


def test_optional_match_after_chain(chain_vl_graph):
    """OPTIONAL MATCH after a multi-clause/comma MATCH chain: left join on
    the chain frame; failed bindings read null (the whole variable too)."""
    df = cypher_read(
        chain_vl_graph,
        "MATCH (a:N)-[:T]->(b), (b)-[:T]->(c) "
        "OPTIONAL MATCH (c)-[e:S]->(d:N) "
        "RETURN a.name AS s, c.name AS m, d.name AS t ORDER BY s",
    )
    assert [tuple(r) for r in df.collect()] == [("A", "C", "D")]
    # anchor with no optional match: null-extended row, null whole-var
    df = cypher_read(
        chain_vl_graph,
        "MATCH (a:N)-[:T]->(b), (b)-[:S]->(c) "
        "OPTIONAL MATCH (c)-[e:S]->(d:N) "
        "RETURN a.name AS s, c.name AS m, d AS whole ORDER BY s",
    )
    rows = df.collect()
    assert [(r["s"], r["m"], r["whole"]) for r in rows] == [
        ("A", "D", None),
        ("B", "D", None),
    ]
    # undirected optional after a chain
    df = cypher_read(
        chain_vl_graph,
        "MATCH (a:N)-[:T]->(b), (b)-[:T]->(c) "
        "OPTIONAL MATCH (c)-[e:S]-(d:N) "
        "RETURN a.name AS s, d.name AS t ORDER BY t",
    )
    assert [tuple(r) for r in df.collect()] == [("A", "D")]


def test_undirected_varlength(fixture_graph):
    """General undirected variable-length expansion (round-8): the two
    KNOWS edges between Alice and Bob are DISTINCT relationships, so each
    is its own 1-hop undirected path, and their two orderings are the two
    2-hop paths back to the start node."""
    df = cypher_read(
        fixture_graph,
        "MATCH p = (a:User)-[:KNOWS*1..2]-(b:User) WHERE a.name = 'Alice' "
        "RETURN b.name AS dst, length(p) AS hops ORDER BY hops, dst",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Bob", 1),
        ("Bob", 1),
        ("Alice", 2),
        ("Alice", 2),
    ]
    # isolated node: no paths in either orientation
    assert (
        cypher_read(
            fixture_graph,
            "MATCH p = (a:User)-[:KNOWS*1..2]-(b:User) "
            "WHERE a.name = 'Eve' RETURN b.name AS dst",
        ).count()
        == 0
    )
    # unbounded undirected drains through the iterative form too
    df2 = cypher_read(
        fixture_graph,
        "MATCH p = (a:User)-[:KNOWS*]-(b:User) WHERE a.name = 'Alice' "
        "RETURN b.name AS dst, length(p) AS hops ORDER BY hops, dst",
    )
    assert [tuple(r) for r in df2.collect()] == [
        ("Bob", 1),
        ("Bob", 1),
        ("Alice", 2),
        ("Alice", 2),
    ]


def test_lambda_where_conjunct_not_pushed(fixture_graph):
    """A WHERE conjunct whose variable references live INSIDE a lambda body
    (`[x IN split(a.name, ',') WHERE x = b.name]` references both a and b)
    must not be misclassified as single-var and pushed into the source
    prefilter, where b is out of scope."""
    df = cypher_read(
        fixture_graph,
        "MATCH p = shortestPath((a:User)-[:KNOWS*1..3]->(b:User)) "
        "WHERE size([x IN split(a.name, ',') WHERE x = b.name]) = 0 "
        "RETURN a.name AS src, b.name AS dst ORDER BY src, dst",
    )
    # the predicate is `b.name NOT IN [a.name]`, i.e. src != dst
    assert [(r["src"], r["dst"]) for r in df.collect()] == [
        ("Alice", "Bob"),
        ("Bob", "Alice"),
    ]
    # reduce() lambda bodies count their outer references the same way
    df2 = cypher_read(
        fixture_graph,
        "MATCH p = shortestPath((a:User)-[:KNOWS*1..3]->(b:User)) "
        "WHERE reduce(s = '', x IN split(a.name, 'l') | s + x + b.name) "
        "= 'ABobiceBob' "
        "RETURN a.name AS src, b.name AS dst ORDER BY src, dst",
    )
    # 'Alice' splits to [A, ice]; the fold interleaves b.name — only
    # (Alice, Bob) produces the expected string
    assert [(r["src"], r["dst"]) for r in df2.collect()] == [("Alice", "Bob")]


def test_shortest_path_requires_varlength(fixture_graph):
    import pytest as _pytest

    from flink_neo4j_spark.cypher_frontend import CypherSyntaxError, cypher_read

    with _pytest.raises(CypherSyntaxError, match="variable-length"):
        cypher_read(
            fixture_graph,
            "MATCH p = shortestPath((a:User)-[:KNOWS]->(b:User)) "
            "RETURN length(p) AS hops",
        )


def test_path_length_only_accessor(fixture_graph):
    import pytest as _pytest

    from flink_neo4j_spark.cypher_frontend import CypherSyntaxError, cypher_read

    with _pytest.raises(CypherSyntaxError, match="length"):
        cypher_read(
            fixture_graph,
            "MATCH p = shortestPath((a:User)-[*1..2]->(b:User)) "
            "RETURN p.nodes AS xs",
        )


def test_scalar_string_functions(fixture_graph):
    from flink_neo4j_spark.cypher_frontend import cypher_read

    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN toUpper(n.name) AS up, toLower(n.name) AS lo "
        "ORDER BY up",
    )
    rows = [(r["up"], r["lo"]) for r in df.collect()]
    assert all(u == u.upper() and lo == lo.lower() for u, lo in rows)
    assert rows == sorted(rows)


def test_unknown_function_rejected(fixture_graph):
    import pytest as _pytest

    from flink_neo4j_spark.cypher_frontend import CypherSyntaxError, cypher_read

    with _pytest.raises(CypherSyntaxError):
        cypher_read(
            fixture_graph, "MATCH (n:User) RETURN frobnicate(n.name) AS r"
        )


def test_is_null_predicates(spark, fixture_graph):
    """IS [NOT] NULL — Neo4j's missing-property semantics (B5): a property
    SET on some vertices reads as null on the others."""
    from flink_neo4j_spark.cypher_frontend import cypher_read, cypher_write

    names = [r["name"] for r in fixture_graph.nodes("User", "name").collect()]
    tagged = cypher_write(
        fixture_graph,
        "UNWIND $rows AS r MERGE (n:User {name: r.name}) SET n.vip = r.vip",
        {"rows": [{"name": names[0], "vip": True}]},
    )
    nulls = cypher_read(
        tagged,
        "MATCH (n:User) WHERE n.vip IS NULL RETURN n.name AS name ORDER BY name",
    )
    assert [r["name"] for r in nulls.collect()] == sorted(names[1:])
    non_nulls = cypher_read(
        tagged,
        "MATCH (n:User) WHERE n.vip IS NOT NULL RETURN n.name AS name",
    )
    assert [r["name"] for r in non_nulls.collect()] == [names[0]]


def test_missing_property_predicates(fixture_graph):
    """A property NO write ever created (absent from the vertex schema
    entirely) follows Neo4j semantics instead of erroring: IS NULL is true
    for every node, IS NOT NULL for none, and any comparison is
    null → never passes the WHERE."""
    all_null = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.nickname IS NULL RETURN n.name AS name",
    )
    assert all_null.count() == 3
    none_set = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.nickname IS NOT NULL RETURN n.name AS name",
    )
    assert none_set.count() == 0
    never_true = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.nickname = 'Al' RETURN n.name AS name",
    )
    assert never_true.count() == 0
    # disjunction: the resolvable side still matches
    mixed = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.nickname = 'Al' OR n.name = 'Alice' "
        "RETURN n.name AS name",
    )
    assert [r["name"] for r in mixed.collect()] == ["Alice"]


def test_create_ids_dense_and_stable(spark, fixture_graph):
    """Write-batch id allocation is dense (max inflates by exactly the
    batch size, no mono-id partition striding) and stable (two separate
    actions on the same returned graph read identical ids)."""
    base_max = fixture_graph.vertices.agg({"id": "max"}).collect()[0][0]
    batch = spark.createDataFrame(
        [(f"u{i}",) for i in range(7)], "name string"
    ).repartition(4)  # multi-partition batch: mono-id alone would stride
    g2 = fixture_graph.create_nodes(batch, "User")
    new_ids_a = sorted(
        r["id"]
        for r in g2.vertices.filter(g2.vertices.id > base_max).collect()
    )
    new_ids_b = sorted(
        r["id"]
        for r in g2.vertices.filter(g2.vertices.id > base_max).collect()
    )
    assert new_ids_a == list(range(base_max + 1, base_max + 8))  # dense
    assert new_ids_a == new_ids_b  # stable across actions

    e_max = fixture_graph.edges.agg({"id": "max"}).collect()[0][0]
    eps = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    ).repartition(3)
    g3 = fixture_graph.create_relationships(eps, "KNOWS")
    eids = sorted(
        r["id"] for r in g3.edges.filter(g3.edges.id > e_max).collect()
    )
    assert eids == list(range(e_max + 1, e_max + 4))


def test_labels_type_coalesce_size(fixture_graph):
    """The four scalar functions every Neo4j user types daily (round-4
    parity additions): labels()/type() graph accessors, coalesce() over a
    missing property, size() on strings."""
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN labels(n) AS lbls, "
        "coalesce(n.nickname, n.name) AS display, size(n.name) AS len "
        "ORDER BY display",
    )
    rows = df.collect()
    assert [r["lbls"] for r in rows] == [["User"]] * 3
    assert [r["display"] for r in rows] == ["Alice", "Bob", "Eve"]
    assert [r["len"] for r in rows] == [5, 3, 3]

    edf = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e]->(b:User) RETURN type(e) AS t, "
        "coalesce(e.since, 0) AS since ORDER BY since",
    )
    erows = edf.collect()
    assert [r["t"] for r in erows] == ["KNOWS", "KNOWS"]
    assert [r["since"] for r in erows] == [2001, 2002]


def test_scalar_fns_after_with_stage(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n.name AS nm, n.born AS born WHERE born = 1984 "
        "RETURN coalesce(nm, 'anon') AS who, size(nm) AS ln ORDER BY who",
    )
    assert [(r["who"], r["ln"]) for r in df.collect()] == [("Alice", 5), ("Eve", 3)]


def test_coalesce_literal_fallback(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN coalesce(n.nickname, 'anon') AS who",
    )
    assert [r["who"] for r in df.collect()] == ["anon"] * 3


def test_bare_detach_delete(spark):
    """`MATCH (n:L) WHERE ... [DETACH] DELETE n` without UNWIND — Neo4j's
    most common interactive delete (round-4 parity addition)."""
    g = cypher_create_graph(spark, FIXTURE)
    g2 = cypher_write(g, "MATCH (n:User) WHERE n.born = 1984 DETACH DELETE n")
    assert [r["name"] for r in g2.nodes("User", "name").collect()] == ["Bob"]
    assert g2.edges.count() == 0

    # plain DELETE keeps the still-has-relationships refusal
    with pytest.raises(ValueError, match="incident relationship"):
        cypher_write(g, "MATCH (n:User) WHERE n.name = 'Alice' DELETE n")
    # ... but works on isolated nodes
    g3 = cypher_write(g, "MATCH (n:User) WHERE n.name = 'Eve' DELETE n")
    assert sorted(r["name"] for r in g3.nodes("User", "name").collect()) == [
        "Alice",
        "Bob",
    ]
    # unlabeled wipe
    g4 = cypher_write(g, "MATCH (n) DETACH DELETE n")
    assert g4.vertices.count() == 0 and g4.edges.count() == 0


def test_aggregate_distinct(fixture_graph):
    """count/sum/collect(DISTINCT ...) — openCypher's in-aggregate
    DISTINCT (round-4 parity addition)."""
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN count(DISTINCT n.born) AS yrs, "
        "sum(DISTINCT n.born) AS sum_yrs, collect(DISTINCT n.born) AS lst",
    )
    row = df.collect()[0]
    assert row["yrs"] == 2
    assert row["sum_yrs"] == 1983 + 1984
    assert row["lst"] == [1983, 1984]

    # count(DISTINCT n) counts distinct matched nodes, not rows
    df2 = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e]->(b:User) RETURN count(DISTINCT a) AS people, "
        "count(*) AS rows_matched",
    )
    row2 = df2.collect()[0]
    assert (row2["people"], row2["rows_matched"]) == (2, 2)

    # grouped form through a WITH stage
    df3 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n.born AS born, count(DISTINCT n.name) AS names "
        "RETURN born, names ORDER BY born",
    )
    assert [(r["born"], r["names"]) for r in df3.collect()] == [
        (1983, 1),
        (1984, 2),
    ]


def test_return_arithmetic(fixture_graph):
    """Arithmetic in RETURN/WITH (round-4 addition): +,-,*,/,% with
    precedence and parens; Cypher integer division truncates; aggregates
    compose via a WITH alias, never inline."""
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, n.born + 1 AS next_year, "
        "2025 - n.born AS age, n.born % 10 AS last_digit, "
        "n.born / 10 AS decade, n.height * 100 AS cm "
        "ORDER BY name",
    )
    rows = df.collect()
    alice = rows[0]
    assert (alice["next_year"], alice["age"]) == (1985, 41)
    assert alice["last_digit"] == 4
    assert alice["decade"] == 198  # integer division truncates
    assert abs(alice["cm"] - 172.0) < 1e-9  # float operand -> float math

    # precedence and parens
    df2 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Bob' "
        "RETURN n.born + 2 * 10 AS a, (n.born + 2) * 10 AS b",
    )
    r = df2.collect()[0]
    assert (r["a"], r["b"]) == (2003, 19850)

    # post-aggregate arithmetic through a WITH stage
    df3 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH sum(n.born) AS s, count(*) AS c "
        "RETURN s / c AS avg_born",
    )
    assert df3.collect()[0]["avg_born"] == (1984 + 1983 + 1984) // 3

    # round 8: aggregates inline in arithmetic now compile (composite
    # aggregate expressions — one hash aggregate + fused post-projection)
    df4 = cypher_read(
        fixture_graph, "MATCH (n:User) RETURN sum(n.born) / 3 AS x"
    )
    assert df4.collect()[0]["x"] == (1984 + 1983 + 1984) // 3
    # arithmetic items need an alias
    with pytest.raises(CypherSyntaxError, match="AS alias"):
        cypher_read(fixture_graph, "MATCH (n:User) RETURN n.born + 1")


def test_arithmetic_glued_negative_number(fixture_graph):
    """`n.born-1` lexes "-1" as one number token; the parser must re-read
    it as binary subtraction, with precedence intact for `-1*2`."""
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Alice' "
        "RETURN n.born-1 AS a, n.born -1 AS b, 2-1 AS c, n.born-1*2 AS d",
    )
    r = df.collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (1983, 1983, 1, 1982)


def test_integer_division_through_coalesce(fixture_graph):
    """Cypher's integer-division rule must survive the canonical
    coalesce-with-integer-default pattern."""
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Alice' "
        "RETURN coalesce(n.born, 0) / 10 AS d, "
        "coalesce(n.height, 0) / 2 AS h",
    )
    r = df.collect()[0]
    assert r["d"] == 198  # int via coalesce -> truncating division
    assert abs(r["h"] - 0.86) < 1e-9  # float operand stays float


def test_return_missing_property_is_null(fixture_graph):
    """Missing-property-reads-null holds in EVERY clause, not just WHERE:
    plain RETURN, arithmetic, and aggregates over a property no write
    ever created."""
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, n.nickname AS nick, "
        "n.nickname + 1 AS nick_math ORDER BY name",
    )
    rows = df.collect()
    assert [r["nick"] for r in rows] == [None] * 3
    assert [r["nick_math"] for r in rows] == [None] * 3
    agg = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN count(n.nickname) AS c, sum(n.nickname) AS s",
    ).collect()[0]
    assert (agg["c"], agg["s"]) == (0, None)


def test_order_by_property_ref(fixture_graph):
    """`ORDER BY n.prop` — Neo4j's sort-by-projected-expression idiom
    (round-4 addition): the ref must match a projected item and sorts by
    that item's output column."""
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name, n.born ORDER BY n.born DESC, n.name",
    )
    assert [r["n_name"] for r in df.collect()] == ["Alice", "Eve", "Bob"]

    # aliased projection: the ref still resolves to the item's alias
    df2 = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS who ORDER BY n.name DESC",
    )
    assert [r["who"] for r in df2.collect()] == ["Eve", "Bob", "Alice"]

    # un-projected ref sorts by the hidden pre-projection key (round-6:
    # Neo4j allows ORDER BY over any in-scope expression after RETURN)
    df_hidden = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name ORDER BY n.born, n.name",
    )
    assert [r["n_name"] for r in df_hidden.collect()] == [
        "Bob", "Alice", "Eve"]

    # WITH-stage form
    df3 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n.name AS nm, n.born AS born "
        "ORDER BY n.born DESC, n.name LIMIT 2 RETURN nm",
    )
    assert [r["nm"] for r in df3.collect()] == ["Alice", "Eve"]


# -- round 4: pattern directions ---------------------------------------------


def test_incoming_pattern_equals_reversed_outgoing(fixture_graph):
    """(a)<-[e]-(b) is (b)-[e]->(a): the parser normalizes by swapping
    endpoints, so every downstream stage works unchanged."""
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)<-[e:KNOWS]-(b:User) "
        "RETURN b.name AS frm, a.name AS dst, e.since AS since ORDER BY since",
    )
    assert [(r["frm"], r["dst"], r["since"]) for r in df.collect()] == [
        ("Alice", "Bob", 2001),
        ("Bob", "Alice", 2002),
    ]


def test_undirected_pattern_matches_both_orientations(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]-(b:User) "
        "RETURN a.name AS a_name, b.name AS b_name, e.since AS since",
    )
    assert sorted(
        (r["a_name"], r["b_name"], r["since"]) for r in df.collect()
    ) == [
        ("Alice", "Bob", 2001),
        ("Alice", "Bob", 2002),
        ("Bob", "Alice", 2001),
        ("Bob", "Alice", 2002),
    ]


def test_undirected_degree_count(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User)-[e:KNOWS]-(m:User) "
        "RETURN n.name AS name, count(*) AS deg ORDER BY name",
    )
    assert [(r["name"], r["deg"]) for r in df.collect()] == [
        ("Alice", 2),
        ("Bob", 2),
    ]


def test_undirected_self_loop_matches_once(spark):
    g = cypher_create_graph(
        spark,
        "CREATE (a:N {k: 1}), (b:N {k: 2}), "
        "(a)-[:T {w: 1}]->(a), (a)-[:T {w: 2}]->(b)",
    )
    df = cypher_read(
        g, "MATCH (x:N)-[e:T]-(y:N) RETURN x.k AS xk, y.k AS yk, e.w AS w"
    )
    rows = sorted((r["xk"], r["yk"], r["w"]) for r in df.collect())
    # self-loop a-a matches ONCE; a-b matches in both orientations
    assert rows == [(1, 1, 1), (1, 2, 2), (2, 1, 2)]


def test_incoming_varlength_equals_swapped(fixture_graph):
    fwd = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[:KNOWS*1..2]->(b:User) RETURN id(a) AS x, id(b) AS y",
    )
    rev = cypher_read(
        fixture_graph,
        "MATCH (b:User)<-[:KNOWS*1..2]-(a:User) RETURN id(a) AS x, id(b) AS y",
    )
    key = lambda r: (r["x"], r["y"])
    assert sorted(map(key, fwd.collect())) == sorted(map(key, rev.collect()))


def test_incoming_optional_match(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) OPTIONAL MATCH (n)<-[e:KNOWS]-(m:User) "
        "RETURN n.name AS name, m.name AS who ORDER BY name",
    )
    assert [(r["name"], r["who"]) for r in df.collect()] == [
        ("Alice", "Bob"),
        ("Bob", "Alice"),
        ("Eve", None),
    ]


def test_undirected_chain_clause(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]-(b:User) MATCH (b)-[f:KNOWS]->(c:User) "
        "RETURN a.name AS an, b.name AS bn, c.name AS cn",
    )
    assert df.count() == 4  # 4 undirected bindings, each with one out-edge


def test_pattern_predicate_directions(fixture_graph):
    out_df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE (n)-[:KNOWS]->() RETURN n.name AS name",
    )
    in_df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE (n)<-[:KNOWS]-() RETURN n.name AS name",
    )
    none_df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE NOT (n)-[:KNOWS]-() RETURN n.name AS name",
    )
    assert {r["name"] for r in out_df.collect()} == {"Alice", "Bob"}
    assert {r["name"] for r in in_df.collect()} == {"Alice", "Bob"}
    assert {r["name"] for r in none_df.collect()} == {"Eve"}


def test_incoming_relationship_write(fixture_graph):
    g2 = cypher_write(
        fixture_graph,
        "UNWIND $rows AS r MATCH (a:User {name: r.a}), (b:User {name: r.b}) "
        "MERGE (a)<-[:LIKES]-(b)",
        {"rows": [{"a": "Eve", "b": "Alice"}]},
    )
    likes = g2.relationships("LIKES").collect()
    assert len(likes) == 1
    names = {r["id"]: r["name"] for r in g2.vertices.collect()}
    # (a)<-[:LIKES]-(b): stored direction is b -> a, i.e. Alice -> Eve
    assert names[likes[0]["src"]] == "Alice"
    assert names[likes[0]["dst"]] == "Eve"


def test_direction_syntax_rejections(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="not a valid pattern"):
        cypher_read(
            fixture_graph, "MATCH (a:User)<-[e:KNOWS]->(b:User) RETURN id(e)"
        )
    # undirected OPTIONAL MATCH matches either orientation (round-8)
    und = cypher_read(
        fixture_graph,
        "MATCH (n:User) OPTIONAL MATCH (n)-[e:KNOWS]-(m:User) "
        "RETURN n.name AS nm, count(e) AS deg ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in und] == [("Alice", 2), ("Bob", 2), ("Eve", 0)]
    with pytest.raises(CypherSyntaxError, match="CREATE requires a direction"):
        cypher_create_graph(
            fixture_graph.vertices.sparkSession,
            "CREATE (a:N {k: 1}), (b:N {k: 2}), (a)-[:T]-(b)",
        )
    with pytest.raises(CypherSyntaxError, match="requires a direction"):
        cypher_write(
            fixture_graph,
            "UNWIND $rows AS r MATCH (a:User {name: r.a}), "
            "(b:User {name: r.b}) MERGE (a)-[:LIKES]-(b)",
            {"rows": [{"a": "Eve", "b": "Alice"}]},
        )


def test_order_by_aggregate_expression(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.born AS born, count(*) AS c "
        "ORDER BY count(*) DESC, born",
    )
    assert [(r["born"], r["c"]) for r in df.collect()] == [(1984, 2), (1983, 1)]

    # un-projected aggregate is rejected loudly
    with pytest.raises(CypherSyntaxError, match="must reference a RETURN"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN n.born AS born, count(*) AS c "
            "ORDER BY sum(n.height)",
        )


# -- round 4: CASE expressions and =~ regex ---------------------------------


def test_case_generic_form(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "CASE WHEN n.height >= 1.72 THEN 'tall' WHEN n.height >= 1.65 "
        "THEN 'mid' ELSE 'short' END AS bucket ORDER BY name",
    )
    assert [(r["name"], r["bucket"]) for r in df.collect()] == [
        ("Alice", "tall"),
        ("Bob", "tall"),
        ("Eve", "short"),
    ]


def test_case_simple_form_and_null_without_else(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "CASE n.born WHEN 1983 THEN 'b83' END AS tag ORDER BY name",
    )
    assert [(r["name"], r["tag"]) for r in df.collect()] == [
        ("Alice", None),
        ("Bob", "b83"),
        ("Eve", None),
    ]


def test_case_with_compound_predicate_and_refs(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "CASE WHEN n.born = 1984 AND n.trust = true THEN n.height "
        "ELSE 0.0 END AS h ORDER BY name",
    )
    assert [(r["name"], r["h"]) for r in df.collect()] == [
        ("Alice", 1.72),
        ("Bob", 0.0),
        ("Eve", 0.0),
    ]


def test_case_after_with_stage(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n.name AS name, n.born AS born "
        "RETURN name, CASE WHEN born = 1984 THEN 1 ELSE 0 END AS is84 "
        "ORDER BY name",
    )
    assert [(r["name"], r["is84"]) for r in df.collect()] == [
        ("Alice", 1),
        ("Bob", 0),
        ("Eve", 1),
    ]


def test_case_requires_alias_and_end(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="needs an AS alias"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN CASE WHEN n.born = 1984 THEN 1 END",
        )
    with pytest.raises(CypherSyntaxError, match="expected END"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN CASE WHEN n.born = 1984 THEN 1 AS x",
        )
    # round 8: aggregates inside CASE branches now compile (composite
    # aggregate expressions — Neo4j allows them in projection position)
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.born AS born, CASE WHEN n.born = 1984 "
        "THEN count(*) ELSE 0 END AS x ORDER BY born",
    )
    assert [(r["born"], r["x"]) for r in df.collect()] == [(1983, 0), (1984, 2)]


def test_regex_match_is_anchored(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name =~ '[AB].*' RETURN n.name AS name",
    )
    assert {r["name"] for r in df.collect()} == {"Alice", "Bob"}
    # Neo4j =~ matches the WHOLE string: 'li' alone must not match Alice
    df2 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name =~ 'li' RETURN n.name AS name",
    )
    assert df2.count() == 0
    df3 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name =~ '.*li.*' RETURN n.name AS name",
    )
    assert {r["name"] for r in df3.collect()} == {"Alice"}


def test_regex_requires_string_literal(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="string regex literal"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) WHERE n.name =~ 1984 RETURN n.name",
        )


# -- round 4: keys() / properties() -----------------------------------------


def test_keys_lists_present_properties(spark, fixture_graph):
    # give one user an extra property so keys() differs per row
    g2 = cypher_write(
        fixture_graph,
        "UNWIND $rows AS r MATCH (p) WHERE p.name = r.name SET p.nick = r.nick",
        {"rows": [{"name": "Alice", "nick": "Al"}]},
    )
    df = cypher_read(
        g2, "MATCH (n:User) RETURN n.name AS name, keys(n) AS ks ORDER BY name"
    )
    rows = {r["name"]: list(r["ks"]) for r in df.collect()}
    assert rows["Alice"] == ["born", "height", "name", "nick", "trust"]
    assert rows["Bob"] == ["born", "height", "name", "trust"]  # no nick


def test_properties_returns_canonical_json(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Eve' RETURN properties(n) AS props",
    )
    import json

    props = json.loads(df.collect()[0]["props"])
    assert props == {
        "born": 1984,
        "height": 1.62,
        "name": "Eve",
        "trust": False,
    }


def test_keys_on_edge_and_endpoint_vars(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) "
        "RETURN a.name AS name, keys(e) AS eks, keys(b) AS bks ORDER BY name",
    )
    row = df.collect()[0]
    assert list(row["eks"]) == ["since"]
    assert list(row["bks"]) == ["born", "height", "name", "trust"]


def test_keys_out_of_scope_raises(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="not supported in this clause"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) WITH n.name AS name RETURN keys(name) AS k",
        )


# -- round 4: general NOT and whole-variable RETURN --------------------------


def test_not_negates_single_conditions(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE NOT n.born = 1984 RETURN n.name AS name",
    )
    assert [r["name"] for r in df.collect()] == ["Bob"]

    df2 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE NOT n.name CONTAINS 'e' AND NOT n.born = 1983 "
        "RETURN n.name AS name",
    )
    # Alice/Eve contain 'e'; Bob is 1983 -> nobody
    assert df2.count() == 0

    df3 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE NOT n.name IN ['Alice', 'Bob'] "
        "RETURN n.name AS name",
    )
    assert [r["name"] for r in df3.collect()] == ["Eve"]


def test_not_on_missing_property_is_three_valued(fixture_graph):
    # NOT (null = 1) is null: the row never passes (openCypher 3VL)
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE NOT n.nickname = 'x' RETURN n.name AS name",
    )
    assert df.count() == 0
    # but NOT n.nickname IS NOT NULL == IS NULL: all rows pass
    df2 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE NOT n.nickname IS NOT NULL RETURN n.name AS name",
    )
    assert df2.count() == 3


def test_not_never_silently_drops_in_set_key(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="must be"):
        cypher_write(
            fixture_graph,
            "UNWIND $rows AS r MATCH (p) WHERE NOT p.name = r.name "
            "SET p.trust = r.trust",
            {"rows": [{"name": "Alice", "trust": False}]},
        )


def test_return_whole_node_variable(fixture_graph):
    df = cypher_read(
        fixture_graph, "MATCH (n:User) WHERE n.name = 'Bob' RETURN n"
    )
    assert df.columns == ["n"]
    row = df.collect()[0]["n"]
    assert row["label"] == "User"
    assert (row["name"], row["born"], row["height"], row["trust"]) == (
        "Bob", 1983, 1.81, True,
    )


def test_return_whole_edge_and_nodes(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) RETURN a, e, b ORDER BY a LIMIT 1",
    )
    row = df.collect()[0]
    assert row["e"]["rel_type"] == "KNOWS"
    assert row["e"]["since"] in (2001, 2002)
    assert row["e"]["src"] == row["a"]["id"]
    assert row["e"]["dst"] == row["b"]["id"]


def test_whole_variable_unknown_raises(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="not supported in this|unknown"):
        cypher_read(fixture_graph, "MATCH (n:User) RETURN m")


# -- round 4: bare SET/REMOVE and exists() ----------------------------------


def test_bare_set_updates_matched_rows_only(fixture_graph):
    g2 = cypher_write(
        fixture_graph,
        "MATCH (n:User) WHERE n.born = 1984 SET n.cohort = 'c84', n.trust = false",
    )
    rows = {r["name"]: r for r in g2.nodes("User").collect()}
    assert rows["Alice"]["cohort"] == "c84" and rows["Alice"]["trust"] is False
    assert rows["Eve"]["cohort"] == "c84"
    assert rows["Bob"]["cohort"] is None          # unmatched: new prop null
    assert rows["Bob"]["trust"] is True           # unmatched: old value kept
    # original graph untouched (immutable value semantics)
    assert "cohort" not in fixture_graph.vertices.columns


def test_bare_set_null_removes_and_remove_is_sugar(fixture_graph):
    g2 = cypher_write(
        fixture_graph, "MATCH (n:User) WHERE n.name = 'Bob' SET n.height = null"
    )
    rows = {r["name"]: r for r in g2.nodes("User").collect()}
    assert rows["Bob"]["height"] is None
    assert rows["Alice"]["height"] == 1.72

    g3 = cypher_write(
        fixture_graph, "MATCH (n:User) WHERE n.name = 'Bob' REMOVE n.height"
    )
    rows3 = {r["name"]: r for r in g3.nodes("User").collect()}
    assert rows3["Bob"]["height"] is None
    assert rows3["Alice"]["height"] == 1.72
    # REMOVE of a never-created property is a no-op, not a new column
    g4 = cypher_write(fixture_graph, "MATCH (n:User) REMOVE n.ghost")
    assert "ghost" not in g4.vertices.columns


def test_bare_set_without_where_hits_label_only(fixture_graph):
    g2 = cypher_write(fixture_graph, "MATCH (n:User) SET n.seen = 1")
    assert g2.nodes("User").filter("seen = 1").count() == 3


def test_exists_property_and_pattern(spark, fixture_graph):
    g2 = cypher_write(
        fixture_graph,
        "UNWIND $rows AS r MATCH (p) WHERE p.name = r.name SET p.nick = r.nick",
        {"rows": [{"name": "Alice", "nick": "Al"}]},
    )
    df = cypher_read(
        g2, "MATCH (n:User) WHERE exists(n.nick) RETURN n.name AS name"
    )
    assert [r["name"] for r in df.collect()] == ["Alice"]
    df2 = cypher_read(
        g2, "MATCH (n:User) WHERE NOT exists(n.nick) RETURN n.name AS name"
    )
    assert {r["name"] for r in df2.collect()} == {"Bob", "Eve"}
    # exists on a never-created property: false everywhere, NOT -> all
    df3 = cypher_read(
        g2, "MATCH (n:User) WHERE NOT exists(n.ghost) RETURN n.name AS name"
    )
    assert df3.count() == 3
    # pattern form
    df4 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE exists((n)-[:KNOWS]->()) RETURN n.name AS name",
    )
    assert {r["name"] for r in df4.collect()} == {"Alice", "Bob"}
    df5 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE NOT exists((n)-[:KNOWS]->()) "
        "RETURN n.name AS name",
    )
    assert {r["name"] for r in df5.collect()} == {"Eve"}


def test_return_star(fixture_graph):
    df = cypher_read(
        fixture_graph, "MATCH (n:User) WHERE n.name = 'Eve' RETURN *"
    )
    assert df.columns == ["n"]
    assert df.collect()[0]["n"]["name"] == "Eve"

    df2 = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) RETURN * ORDER BY e LIMIT 1",
    )
    assert df2.columns == ["a", "b", "e"]

    # after a WITH horizon, * expands to the projected names
    df3 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n.name AS name, n.born AS born "
        "RETURN * ORDER BY name LIMIT 1",
    )
    assert df3.columns == ["born", "name"]
    assert df3.collect()[0]["name"] == "Alice"

    # star plus an extra item
    df4 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Bob' RETURN *, n.born AS born",
    )
    assert df4.columns == ["n", "born"]


def test_inline_property_maps(fixture_graph):
    # openCypher: (n:L {k: v}) == (n:L) WHERE n.k = v — on nodes (named or
    # anonymous), relationships, and OPTIONAL MATCH's optional side
    df = cypher_read(
        fixture_graph, "MATCH (n:User {name:'Alice'}) RETURN n.height AS h"
    )
    assert [r["h"] for r in df.collect()] == [1.72]
    df2 = cypher_read(
        fixture_graph,
        "MATCH (n:User {born:1984, trust:true}) RETURN n.name AS name",
    )
    assert [r["name"] for r in df2.collect()] == ["Alice"]
    df3 = cypher_read(
        fixture_graph, "MATCH (:User {name:'Eve'}) RETURN count(*) AS c"
    )
    assert df3.collect()[0]["c"] == 1
    df4 = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS {since:2001}]->(b) RETURN b.name AS name",
    )
    assert [r["name"] for r in df4.collect()] == ["Bob"]
    # map combines (ANDs) with an explicit WHERE disjunction
    df5 = cypher_read(
        fixture_graph,
        "MATCH (n:User {born:1984}) WHERE n.trust OR n.height < 1.65 "
        "RETURN n.name AS name ORDER BY name",
    )
    assert [r["name"] for r in df5.collect()] == ["Alice", "Eve"]
    # optional side: unmatched map null-extends, never drops the base row
    df6 = cypher_read(
        fixture_graph,
        "MATCH (a:User) OPTIONAL MATCH (a)-[e:KNOWS {since:2001}]->(b) "
        "RETURN a.name AS name, count(b) AS c ORDER BY name",
    )
    assert [tuple(r) for r in df6.collect()] == [
        ("Alice", 1), ("Bob", 0), ("Eve", 0),
    ]
    with pytest.raises(CypherSyntaxError):
        cypher_read(
            fixture_graph,
            "MATCH (a:User)-[:KNOWS*1..2 {since:2001}]->(b) RETURN b.name",
        )


def test_bare_boolean_predicates(fixture_graph):
    # WHERE n.trust — openCypher truthiness, three-valued (missing/null
    # properties never pass, in either polarity)
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.trust RETURN n.name AS name ORDER BY name",
    )
    assert [r["name"] for r in df.collect()] == ["Alice", "Bob"]
    df2 = cypher_read(
        fixture_graph, "MATCH (n:User) WHERE NOT n.trust RETURN n.name AS name"
    )
    assert [r["name"] for r in df2.collect()] == ["Eve"]
    df3 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Eve' OR NOT n.trust "
        "RETURN n.name AS name",
    )
    assert [r["name"] for r in df3.collect()] == ["Eve"]
    assert (
        cypher_read(
            fixture_graph, "MATCH (n:User) WHERE n.ghost RETURN n.name"
        ).count()
        == 0
    )
    assert (
        cypher_read(
            fixture_graph, "MATCH (n:User) WHERE NOT n.ghost RETURN n.name"
        ).count()
        == 0
    )


def test_single_pattern_chains(fixture_graph):
    # (a)-[]->(b)-[]->(c) in ONE pattern — desugared to the multi-clause
    # join machinery, with relationship isomorphism WITHIN the clause
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[:KNOWS]->(b)-[:KNOWS]->(c) "
        "RETURN a.name AS an, c.name AS cn ORDER BY an",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "Alice"), ("Bob", "Bob"),
    ]
    # (a)-->(b)<--(c): both edges between Alice and Bob bind b's in-edges;
    # the only candidates re-use one edge twice, so isomorphism empties it
    df2 = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[:KNOWS]->(b)<-[:KNOWS]-(c) "
        "RETURN a.name AS an, c.name AS cn",
    )
    assert df2.count() == 0
    # comma-separated parts share variables exactly like MATCH ... MATCH
    # (isomorphism applies within the whole clause)
    df3 = cypher_read(
        fixture_graph,
        "MATCH (a:User {name:'Alice'})-[:KNOWS]->(b), (b)-[:KNOWS]->(c) "
        "RETURN b.name AS bn, c.name AS cn",
    )
    assert [tuple(r) for r in df3.collect()] == [("Bob", "Alice")]
    # across clauses isomorphism does NOT apply: the same edge may bind
    df4 = cypher_read(
        fixture_graph,
        "MATCH (a:User {name:'Alice'})-[e:KNOWS]->(b) "
        "MATCH (a)-[f:KNOWS]->(c) "
        "RETURN b.name AS bn, c.name AS cn",
    )
    assert [tuple(r) for r in df4.collect()] == [("Bob", "Bob")]


def test_count_var_counts_non_null_bindings(fixture_graph):
    # count(b) under OPTIONAL MATCH counts matched bindings, count(*) rows
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User) OPTIONAL MATCH (a)-[e:KNOWS]->(b) "
        "RETURN a.name AS name, count(b) AS cb, count(*) AS cr "
        "ORDER BY name",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", 1, 1), ("Bob", 1, 1), ("Eve", 0, 1),
    ]
    with pytest.raises(CypherSyntaxError):
        cypher_read(fixture_graph, "MATCH (n:User) RETURN sum(n) AS s")


def test_scalar_function_breadth(fixture_graph):
    # string/number/list functions with nested-expression arguments, in
    # RETURN and WHERE positions
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "toUpper(substring(n.name, 0, 1)) AS initial, "
        "size(n.name) AS sz, abs(n.born - 1984) AS drift, "
        "round(n.height, 1) AS h1, toInteger(n.height) AS hint "
        "ORDER BY name",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", "A", 5, 0, 1.7, 1),
        ("Bob", "B", 3, 1, 1.8, 1),
        ("Eve", "E", 3, 0, 1.6, 1),
    ]
    # split/head/last; Cypher split is a literal (non-regex) delimiter
    r = cypher_read(
        fixture_graph,
        "MATCH (n:User {name:'Alice'}) RETURN split(n.name, 'l') AS parts, "
        "head(split(n.name, 'l')) AS h, last(split(n.name, 'l')) AS l",
    ).collect()[0]
    assert (list(r["parts"]), r["h"], r["l"]) == (["A", "ice"], "A", "ice")
    # left/right/replace/reverse
    r2 = cypher_read(
        fixture_graph,
        "MATCH (n:User {name:'Alice'}) RETURN left(n.name, 2) AS l, "
        "right(n.name, 2) AS r, replace(n.name, 'e', '3') AS rep, "
        "reverse(n.name) AS rev",
    ).collect()[0]
    assert tuple(r2) == ("Al", "ce", "Alic3", "ecilA")
    # toInteger on unparseable input is null, never a runtime error
    # (Spark's default ANSI cast would throw — try_cast contract)
    assert [
        r["bad"]
        for r in cypher_read(
            fixture_graph, "MATCH (n:User) RETURN toInteger(n.name) AS bad"
        ).collect()
    ] == [None, None, None]
    # WHERE positions: function on the left, function as right operand
    assert [
        r["name"]
        for r in cypher_read(
            fixture_graph,
            "MATCH (n:User) WHERE toLower(n.name) = 'alice' "
            "RETURN n.name AS name",
        ).collect()
    ] == ["Alice"]
    assert [
        r["name"]
        for r in cypher_read(
            fixture_graph,
            "MATCH (n:User) WHERE n.born = toInteger('1983') "
            "RETURN n.name AS name",
        ).collect()
    ] == ["Bob"]
    # arity errors are loud and typed
    with pytest.raises(CypherSyntaxError):
        cypher_read(fixture_graph, "MATCH (n:User) RETURN substring(n.name) AS x")
    with pytest.raises(CypherSyntaxError):
        cypher_read(
            fixture_graph, "MATCH (n:User) RETURN round(n.height, 'x') AS x"
        )
    # round 8: scalar functions over aggregates now compile (composite
    # aggregate expressions) — size over a collect, abs over a sum, etc.
    rows = cypher_read(
        fixture_graph, "MATCH (n:User) RETURN size(collect(n.name)) AS x"
    ).collect()
    assert rows[0]["x"] == 3


def test_unwind_read_forms(fixture_graph):
    # standalone literal-list UNWIND (no scan), arithmetic downstream
    df = cypher_read(
        fixture_graph, "UNWIND [1, 2, 3] AS x RETURN x * 2 AS y ORDER BY y"
    )
    assert [r["y"] for r in df.collect()] == [2, 4, 6]
    assert cypher_read(fixture_graph, "UNWIND [] AS x RETURN x").count() == 0
    # pipeline UNWIND after a WITH horizon: collect -> explode roundtrip
    df2 = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH collect(n.name) AS names "
        "UNWIND names AS nm RETURN nm ORDER BY nm",
    )
    assert [r["nm"] for r in df2.collect()] == ["Alice", "Bob", "Eve"]
    # UNWIND keeps the other projected columns
    df3 = cypher_read(
        fixture_graph,
        "MATCH (n:User {name:'Alice'}) WITH n.name AS name, "
        "split(n.name, 'l') AS parts UNWIND parts AS part "
        "RETURN name, part ORDER BY part",
    )
    assert [tuple(r) for r in df3.collect()] == [("Alice", "A"), ("Alice", "ice")]
    # pattern scopes must project through WITH first — loud, typed error
    with pytest.raises(CypherSyntaxError):
        cypher_read(fixture_graph, "MATCH (n:User) UNWIND n.tags AS t RETURN t")


def test_bare_write_inline_map(spark, fixture_graph):
    # (n:L {k: v}) in bare SET/REMOVE/DELETE — same desugar as reads
    g2 = cypher_write(
        fixture_graph, "MATCH (n:User {name:'Alice'}) SET n.vip = true"
    )
    rows = {r["name"]: r["vip"] for r in g2.nodes("User").collect()}
    assert rows == {"Alice": True, "Bob": None, "Eve": None}
    g3 = cypher_write(g2, "MATCH (n:User {born:1984}) REMOVE n.vip")
    assert {r["vip"] for r in g3.nodes("User").collect()} == {None}
    g4 = cypher_write(
        fixture_graph, "MATCH (n:User {name:'Eve'}) DETACH DELETE n"
    )
    assert {r["name"] for r in g4.nodes("User").collect()} == {"Alice", "Bob"}
    with pytest.raises(CypherSyntaxError):
        cypher_write(fixture_graph, "MATCH (:User {name:'Eve'}) SET n.x = 1")


def test_create_inline_declaration_and_chains(spark):
    # CREATE declares a named node at its first occurrence — inline in an
    # edge chain included; anonymous nodes are each fresh (distinct ids)
    g = cypher_create_graph(
        spark,
        "CREATE (a:User {name:'A'})-[:KNOWS {since:1}]->"
        "(b:User {name:'B'})-[:KNOWS {since:2}]->(c:User {name:'C'})",
    )
    rows = cypher_read(
        g,
        "MATCH (x:User)-[e:KNOWS]->(y:User) "
        "RETURN x.name AS xn, e.since AS s, y.name AS yn ORDER BY s",
    ).collect()
    assert [tuple(r) for r in rows] == [("A", 1, "B"), ("B", 2, "C")]
    g2 = cypher_create_graph(spark, "CREATE (:A {x:1}), (:B {y:2}), ()-[:T]->()")
    assert g2.vertices.count() == 4
    assert sorted(r["id"] for r in g2.vertices.collect()) == [0, 1, 2, 3]
    with pytest.raises(CypherSyntaxError):
        cypher_create_graph(spark, "CREATE (a:User {x:1}), (a:User {x:2})")


def test_query_parameters(fixture_graph):
    # $name resolution in WHERE operands, inline maps, IN lists, UNWIND
    # sources, RETURN literals, and bare-write SET values — resolved at
    # parse time, so values can never act as syntax
    assert [
        r["b"]
        for r in cypher_read(
            fixture_graph,
            "MATCH (n:User) WHERE n.name = $name RETURN n.born AS b",
            {"name": "Alice"},
        ).collect()
    ] == [1984]
    assert [
        r["b"]
        for r in cypher_read(
            fixture_graph,
            "MATCH (n:User {name: $name}) RETURN n.born AS b",
            {"name": "Bob"},
        ).collect()
    ] == [1983]
    assert [
        r["nm"]
        for r in cypher_read(
            fixture_graph,
            "MATCH (n:User) WHERE n.name IN $names "
            "RETURN n.name AS nm ORDER BY nm",
            {"names": ["Alice", "Eve"]},
        ).collect()
    ] == ["Alice", "Eve"]
    assert [
        r["y"]
        for r in cypher_read(
            fixture_graph,
            "UNWIND $xs AS x RETURN x + 1 AS y ORDER BY y",
            {"xs": [1, 2]},
        ).collect()
    ] == [2, 3]
    # a would-be-injection value is data, not syntax
    assert (
        cypher_read(
            fixture_graph,
            "MATCH (n:User) WHERE n.name = $name RETURN n.name AS nm",
            {"name": "' OR 1=1 RETURN n.name //"},
        ).count()
        == 0
    )
    g2 = cypher_write(
        fixture_graph,
        "MATCH (n:User {name: $who}) SET n.vip = true",
        {"who": "Eve"},
    )
    assert {
        (r["name"], r["vip"]) for r in g2.nodes("User").collect()
    } == {("Alice", None), ("Bob", None), ("Eve", True)}
    with pytest.raises(CypherSyntaxError):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) WHERE n.name = $nope RETURN n.name",
            {},
        )


def test_computed_order_by(spark):
    g = cypher_create_graph(
        spark,
        "CREATE (a:User {name:'alpha', born:1984}), "
        "(b:User {name:'Bravo', born:1983}), "
        "(c:User {name:'charlie', born:1985})",
    )
    # computed key over the projected output name (case-insensitive sort)
    assert [
        r["name"]
        for r in cypher_read(
            g, "MATCH (n:User) RETURN n.name AS name ORDER BY toLower(name)"
        ).collect()
    ] == ["alpha", "Bravo", "charlie"]
    assert [
        r["name"]
        for r in cypher_read(
            g,
            "MATCH (n:User) RETURN n.name AS name "
            "ORDER BY size(name) DESC, name",
        ).collect()
    ] == ["charlie", "Bravo", "alpha"]
    # arithmetic inside the key; WITH position too
    assert [
        r["name"]
        for r in cypher_read(
            g,
            "MATCH (n:User) WITH n.name AS name ORDER BY toUpper(name) DESC "
            "LIMIT 2 RETURN name",
        ).collect()
    ] == ["charlie", "Bravo"]
    with pytest.raises(CypherSyntaxError):
        cypher_read(
            g, "MATCH (n:User) RETURN n.name AS name ORDER BY frob(name)"
        )


def test_statistical_aggregates(spark):
    g = cypher_create_graph(
        spark, "CREATE (a:U {x:1}), (b:U {x:2}), (c:U {x:3}), (d:U {x:4})"
    )
    r = cypher_read(
        g,
        "MATCH (n:U) RETURN percentileCont(n.x, 0.5) AS med, "
        "percentileDisc(n.x, 0.5) AS dmed, stdev(n.x) AS sd, "
        "stdevp(n.x) AS sdp",
    ).collect()[0]
    assert r["med"] == 2.5           # linear interpolation between 2 and 3
    assert r["dmed"] == 2            # an actual data value
    assert round(r["sd"], 6) == round((5 / 3) ** 0.5, 6)   # sample
    assert round(r["sdp"], 6) == round(1.25 ** 0.5, 6)     # population
    with pytest.raises(CypherSyntaxError):
        cypher_read(g, "MATCH (n:U) RETURN percentileCont(n.x) AS m")
    with pytest.raises(CypherSyntaxError):
        cypher_read(g, "MATCH (n:U) RETURN percentileCont(n.x, 1.5) AS m")
    with pytest.raises(CypherSyntaxError):
        cypher_read(g, "MATCH (n:U) RETURN sum(n.x, 0.5) AS s")


def test_parameterized_plan_equals_literal(fixture_graph):
    # the $param contract: parse-time literal resolution means the
    # parameterized query produces the IDENTICAL optimized plan as its
    # literal twin — same pushdown, same broadcast decisions
    lit = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Alice' RETURN n.born AS b",
    )
    par = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = $who RETURN n.born AS b",
        {"who": "Alice"},
    )
    import re as _re

    def norm(df):
        # expression IDs (#12L) are allocation-order counters, not plan
        # structure — normalize before comparing
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return _re.sub(r"#\d+", "#x", plan)

    assert norm(lit) == norm(par)


def test_unwind_list_homogeneity(fixture_graph):
    # mixed-type lists are a typed parse error, not a runtime cast crash;
    # int+float promote to float; null ELEMENTS yield null rows (only a
    # null/empty LIST produces no rows, per openCypher)
    with pytest.raises(CypherSyntaxError):
        cypher_read(fixture_graph, "UNWIND [1, 'a'] AS x RETURN x")
    with pytest.raises(CypherSyntaxError):
        cypher_read(fixture_graph, "UNWIND $xs AS x RETURN x", {"xs": [1, "a"]})
    assert [
        r["x"]
        for r in cypher_read(
            fixture_graph, "UNWIND [1, 2.5] AS x RETURN x ORDER BY x"
        ).collect()
    ] == [1.0, 2.5]
    rows = cypher_read(
        fixture_graph, "UNWIND [1, null, 3] AS x RETURN x"
    ).collect()
    assert sorted((r["x"] for r in rows), key=lambda v: (v is None, v)) == [1, 3, None]


def test_plus_concatenates_strings(fixture_graph):
    # Cypher's overloaded +: string concatenation when either operand is a
    # string, the other side stringified (Neo4j: 'a' + 1 = 'a1')
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name + '!' AS bang, "
        "'Hi ' + n.name AS hi, n.name + n.born AS tag, "
        "n.born + n.name AS gat ORDER BY bang",
    )
    rows = df.collect()
    assert [r["bang"] for r in rows] == ["Alice!", "Bob!", "Eve!"]
    assert rows[0]["hi"] == "Hi Alice"
    assert rows[0]["tag"] == "Alice1984"
    assert rows[0]["gat"] == "1984Alice"


def test_plus_concatenates_lists(fixture_graph):
    # list + list concatenates, element + list prepends, list + element
    # appends — inside comprehensions the lambda element type resolves
    # through the probe twin
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Alice' "
        "WITH split(n.name, 'l') AS parts "
        "RETURN parts + ['z'] AS app, 'z' + parts AS pre, "
        "[w IN parts | w + '.'] AS dotted",
    )
    row = df.collect()[0]
    assert row["app"] == ["A", "ice", "z"]
    assert row["pre"] == ["z", "A", "ice"]
    assert row["dotted"] == ["A.", "ice."]


def test_plus_arithmetic_unchanged(fixture_graph):
    # numeric + stays arithmetic; integer division still truncates
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Alice' "
        "RETURN n.born + 1 AS np, n.born / 10 AS dv",
    )
    row = df.collect()[0]
    assert (row["np"], row["dv"]) == (1985, 198)


def test_non_plus_on_strings_raises(fixture_graph):
    # Neo4j: -,*,/,% are type errors on strings/lists — OUR error, not a
    # raw Spark analysis exception
    with pytest.raises(CypherSyntaxError, match="not defined on string"):
        cypher_read(fixture_graph, "MATCH (n:User) RETURN n.name - '!' AS x")
    with pytest.raises(CypherSyntaxError, match="not defined on string"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) WITH split(n.name, 'l') AS p RETURN p * 2 AS x",
        )


def test_whole_var_scope_after_with(fixture_graph):
    # WITH n carries the node as a struct; n.prop resolves to a struct
    # field past the horizon, a never-written property reads null
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n WHERE n.born = 1984 "
        "RETURN n.name AS nm, n.nickname AS nick ORDER BY nm",
    )
    rows = df.collect()
    assert [r["nm"] for r in rows] == ["Alice", "Eve"]
    assert [r["nick"] for r in rows] == [None, None]


def test_ordered_collect_follows_with_order(fixture_graph):
    # THE Cypher ordered-collect idiom: collect() observes the preceding
    # WITH ... ORDER BY row order (Neo4j semantics; plain collect stays
    # sorted-by-value for layout independence)
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n ORDER BY n.born DESC, n.name "
        "RETURN collect(n.name) AS names",
    )
    assert df.collect()[0]["names"] == ["Alice", "Eve", "Bob"]
    # grouped variant: per-group lists each follow the key order
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n ORDER BY n.name DESC "
        "RETURN n.born AS b, collect(n.name) AS names ORDER BY b",
    )
    rows = df.collect()
    assert rows[0]["b"] == 1983 and rows[0]["names"] == ["Bob"]
    assert rows[1]["b"] == 1984 and rows[1]["names"] == ["Eve", "Alice"]


def test_ordered_collect_survives_projection(fixture_graph):
    # row order persists through plain WITH projections (hidden __ord
    # carry), through LIMIT, and into collect(DISTINCT ...)
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n ORDER BY n.born DESC, n.name "
        "WITH n.name AS nm RETURN collect(nm) AS names",
    )
    assert df.collect()[0]["names"] == ["Alice", "Eve", "Bob"]
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n ORDER BY n.born DESC "
        "RETURN collect(DISTINCT n.born) AS borns",
    )
    assert df.collect()[0]["borns"] == [1984, 1983]


def test_ordered_collect_key_is_value_fast_path(fixture_graph):
    # collect(k) under WITH ... ORDER BY k (single key == collected value)
    # compiles to a natural sort_array instead of the interpreted lambda
    # comparator — results must be identical, including null skipping
    # (null values never enter a Cypher collect) and DISTINCT adjacency.
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n ORDER BY n.name DESC "
        "RETURN collect(n.name) AS names",
    )
    assert df.collect()[0]["names"] == ["Eve", "Bob", "Alice"]
    # the fast path must not plan the interpreted comparator
    assert "lambdafunction" not in df._jdf.queryExecution().analyzed().toString()
    # null values are skipped exactly like the general path (Eve's
    # trust=false makes her CASE value null)
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH CASE WHEN n.trust THEN n.name END AS t "
        "ORDER BY t RETURN collect(t) AS names",
    )
    assert df.collect()[0]["names"] == ["Alice", "Bob"]
    # two keys keep the general comparator path (order: born DESC breaks
    # the name tie universe, then name ASC within born groups)
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n ORDER BY n.born DESC, n.name "
        "RETURN collect(n.name) AS names",
    )
    assert "lambdafunction" in df._jdf.queryExecution().analyzed().toString()
    assert df.collect()[0]["names"] == ["Alice", "Eve", "Bob"]


def test_plain_collect_still_value_sorted(fixture_graph):
    # without an ORDER BY horizon the determinism contract holds: the
    # list is sorted by value, independent of partition layout
    df = cypher_read(fixture_graph, "MATCH (n:User) RETURN collect(n.name) AS names")
    assert df.collect()[0]["names"] == ["Alice", "Bob", "Eve"]


def test_map_projection(fixture_graph):
    # n {.name, .born} — selected properties as one struct; .* selects
    # every property; a never-written property reads null
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n {.name, .born} AS card ORDER BY n.name",
    )
    rows = df.collect()
    assert rows[0]["card"].asDict() == {"name": "Alice", "born": 1984}
    df = cypher_read(fixture_graph, "MATCH (n:User) RETURN n {.*} AS card")
    assert set(df.schema["card"].dataType.names) == {
        "born", "height", "name", "trust",
    }
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Eve' RETURN n {.name, .nick} AS card",
    )
    assert df.collect()[0]["card"].asDict() == {"name": "Eve", "nick": None}


def test_map_projection_after_with_and_on_edges(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n WHERE n.born = 1983 "
        "RETURN n {.name, .born} AS card",
    )
    assert df.collect()[0]["card"].asDict() == {"name": "Bob", "born": 1983}
    df = cypher_read(
        fixture_graph,
        "MATCH (a)-[e:KNOWS]->(b) RETURN e {.*} AS props, e.since AS s "
        "ORDER BY s",
    )
    assert [r["props"].asDict() for r in df.collect()] == [
        {"since": 2001}, {"since": 2002},
    ]


def test_map_projection_rejections(fixture_graph):
    # round 6: computed entries {key: expr} are now SUPPORTED — only the
    # unknown-variable case still rejects
    rows = cypher_read(
        fixture_graph, "MATCH (n:User) RETURN n {name: 1} AS x LIMIT 1"
    ).collect()
    assert rows[0]["x"].asDict() == {"name": 1}
    with pytest.raises(CypherSyntaxError, match="unknown variable"):
        cypher_read(fixture_graph, "MATCH (n:User) RETURN z {.name} AS x")


def test_standalone_return(fixture_graph):
    # RETURN without MATCH: one-row expression evaluation (the client
    # calculator / connectivity-probe idiom)
    df = cypher_read(fixture_graph, "RETURN 1 + 1 AS x, toUpper('hi') AS s")
    assert df.collect() == [(2, "HI")]
    df = cypher_read(
        fixture_graph, "WITH date('2024-01-15') AS d RETURN d.year AS y"
    )
    assert df.collect()[0]["y"] == 2024


def test_temporal_constructors_and_accessors(fixture_graph):
    import datetime

    df = cypher_read(
        fixture_graph,
        "UNWIND ['1995-03-07', 'bogus'] AS s WITH date(s) AS d "
        "RETURN d, d.year AS y, d.month AS m, d.day AS day, "
        "d.dayOfWeek AS dow ORDER BY d",
    )
    rows = df.collect()
    # 1995-03-07 was a Tuesday: ISO dayOfWeek = 2 (Neo4j, not Spark's
    # Sunday-based dayofweek); unparseable input is null via try_cast
    assert tuple(rows[0]) == (datetime.date(1995, 3, 7), 1995, 3, 7, 2)
    assert tuple(rows[1]) == (None, None, None, None, None)
    df = cypher_read(
        fixture_graph,
        "UNWIND ['1995-03-07T10:30:15'] AS s WITH datetime(s) AS t "
        "RETURN t.hour AS h, t.minute AS mi, t.second AS sec",
    )
    assert tuple(df.collect()[0]) == (10, 30, 15)


def test_temporal_predicates_and_rejections(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "UNWIND ['1995-03-07', '1996-12-31'] AS s WITH date(s) AS d "
        "WHERE d >= date('1996-01-01') RETURN d",
    )
    assert len(df.collect()) == 1
    # time-of-day component on a date is a loud error (Neo4j type error)
    with pytest.raises(CypherSyntaxError, match="time component"):
        cypher_read(
            fixture_graph,
            "UNWIND ['1995-03-07'] AS s WITH date(s) AS d RETURN d.hour AS h",
        )


def test_field_access_on_expressions(fixture_graph):
    # postfix .field on computed expressions: temporal components on
    # date(x), chained from a property cast
    df = cypher_read(
        fixture_graph,
        "RETURN date('2024-01-15').year AS y, "
        "date('2024-01-15').dayOfWeek AS dow",
    )
    assert tuple(df.collect()[0]) == (2024, 1)  # a Monday, ISO 1
    with pytest.raises(CypherSyntaxError, match="not an accessor"):
        cypher_read(fixture_graph, "RETURN date('2024-01-15').bogus AS x")


def test_duration_functions(fixture_graph):
    # duration.between: whole calendar months first (clamp-aware:
    # Jan 31 + 1M = Feb 28), then leftover days — Neo4j's semantics
    df = cypher_read(
        fixture_graph,
        "RETURN duration.between(date('1995-01-31'), date('1995-03-10')) AS d, "
        "duration.between(date('1995-01-30'), date('1995-02-28')).months AS cm, "
        "duration.inDays(date('1995-01-01'), date('1996-01-01')).days AS days, "
        "duration.inSeconds(datetime('1995-01-01T00:00:00'), "
        "datetime('1995-01-01T01:30:05')).seconds AS s",
    )
    row = df.collect()[0]
    # the compiler-internal __dur type tag (duration-arithmetic dispatch)
    # is stripped at the final RETURN — users see the value, not the tag
    assert row["d"].asDict() == {"months": 1, "days": 10}
    assert row["cm"] == 1  # the /31-fraction undercount case, corrected
    assert (row["days"], row["s"]) == (365, 5405)
    with pytest.raises(CypherSyntaxError, match="date operands"):
        cypher_read(
            fixture_graph,
            "RETURN duration.between(datetime('1995-01-01T00:00:00'), "
            "datetime('1995-01-02T00:00:00')).days AS d",
        )


def test_duration_tag_internal_only(fixture_graph):
    # the __dur dispatch tag survives intermediate WITH horizons (the
    # arithmetic below needs it) but never reaches the user: whole
    # durations and collect()ed duration lists come back tag-free
    df = cypher_read(
        fixture_graph,
        "WITH duration({months: 1, days: 2}) AS d "
        "RETURN d, date('2024-01-31') + d AS moved",
    )
    row = df.collect()[0]
    assert row["d"].asDict() == {"months": 1, "days": 2}
    assert str(row["moved"]) == "2024-03-02"  # clamp to Feb 29, then +2d
    assert "__dur" not in str(df.schema)
    df2 = cypher_read(
        fixture_graph,
        "UNWIND [1, 2] AS k WITH duration({days: k}) AS d "
        "RETURN collect(d) AS ds",
    )
    assert [v.asDict() for v in df2.collect()[0]["ds"]] == [
        {"months": 0, "days": 1},
        {"months": 0, "days": 2},
    ]


def test_xor_predicates(fixture_graph):
    # trust XOR born=1984 over Alice(T,T)/Bob(T,F)/Eve(F,T); AND binds
    # tighter, OR looser; null XOR x is null (row never passes)
    names = lambda q: [r[0] for r in cypher_read(fixture_graph, q).collect()]
    assert names(
        "MATCH (n:User) WHERE n.trust XOR n.born = 1984 "
        "RETURN n.name ORDER BY n.name"
    ) == ["Bob", "Eve"]
    assert names(
        "MATCH (n:User) WHERE n.name = 'Bob' OR n.trust XOR n.born = 1984 "
        "RETURN n.name ORDER BY n.name"
    ) == ["Bob", "Eve"]
    assert names(
        "MATCH (n:User) WHERE n.nickname = 'x' XOR n.trust RETURN n.name"
    ) == []
    # chained XOR folds left-associatively: t^t^t == t
    assert names(
        "MATCH (n:User) WHERE n.trust XOR n.trust XOR n.trust "
        "RETURN n.name ORDER BY n.name"
    ) == ["Alice", "Bob"]
    # parenthesized boolean groups distribute into the DNF
    assert names(
        "MATCH (n:User) WHERE (n.name = 'Alice' OR n.name = 'Bob') "
        "AND n.born = 1984 RETURN n.name ORDER BY n.name"
    ) == ["Alice"]
    assert names(
        "MATCH (n:User) WHERE NOT (n.name = 'Alice' OR n.name = 'Bob') "
        "RETURN n.name"
    ) == ["Eve"]
    assert names(
        "MATCH (n:User) WHERE NOT (n.trust XOR n.born = 1984) "
        "RETURN n.name ORDER BY n.name"
    ) == ["Alice"]  # ¬(T^T)=T for Alice; Bob/Eve ¬(T)=F; 3VL keeps nulls out


def test_set_replace_map(spark, fixture_graph):
    from flink_neo4j_spark.cypher_frontend import cypher_write

    g2 = cypher_write(
        fixture_graph,
        "MATCH (n:User) WHERE n.name = 'Alice' "
        "SET n = {name: 'ALICE', city: 'Oslo'}",
    )
    rows = {
        r["nm"]: r
        for r in cypher_read(
            g2,
            "MATCH (n:User) RETURN n.name AS nm, n.born AS b, "
            "n.trust AS t, n.city AS c",
        ).collect()
    }
    # replacement nulls every unlisted property on the matched row only
    assert rows["ALICE"]["b"] is None and rows["ALICE"]["t"] is None
    assert rows["ALICE"]["c"] == "Oslo"
    assert rows["Bob"]["b"] == 1983 and rows["Bob"]["c"] is None
    with pytest.raises(CypherSyntaxError, match="label"):
        cypher_write(fixture_graph, "MATCH (n:User) SET n = {label: 'X'}")


def test_call_subquery_blocks(fixture_graph):
    # CALL { ... UNION ... } <pipeline>: post-union processing — the form
    # a bare UNION chain cannot express
    df = cypher_read(
        fixture_graph,
        "CALL { MATCH (u:User) WHERE u.trust RETURN u.name AS name "
        "UNION MATCH (u:User) WHERE u.born = 1984 RETURN u.name AS name } "
        "RETURN count(*) AS n",
    )
    assert df.collect()[0]["n"] == 3  # Alice+Bob (trust) ∪ Alice+Eve (1984)
    df = cypher_read(
        fixture_graph,
        "CALL { MATCH (u:User) RETURN u UNION ALL MATCH (u:User) RETURN u } "
        "WITH u ORDER BY u.name RETURN collect(u.born) AS borns",
    )
    assert df.collect()[0]["borns"] == [1984, 1984, 1983, 1983, 1984, 1984]
    with pytest.raises(CypherSyntaxError):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) CALL { MATCH (m:User) RETURN m.name AS x } "
            "RETURN n.name, x",
        )


def test_point_constructor_and_accessors(fixture_graph):
    """point({x,y}) / point({longitude,latitude}) build (x, y, crs)
    struct values; geographic points alias .longitude/.latitude onto
    .x/.y (Neo4j), and the struct carries through WITH like any value."""
    row = cypher_read(
        fixture_graph,
        "RETURN point({x: 3, y: 4}) AS c, "
        "point({longitude: 10, latitude: 20}) AS g",
    ).collect()[0]
    assert (row["c"]["x"], row["c"]["y"], row["c"]["crs"]) == (3.0, 4.0, "cartesian")
    assert (row["g"]["x"], row["g"]["y"], row["g"]["crs"]) == (10.0, 20.0, "wgs-84")
    row = cypher_read(
        fixture_graph,
        "WITH point({longitude: 10, latitude: 20}) AS p "
        "RETURN p.x AS x, p.crs AS crs, "
        "point({longitude: 10, latitude: 20}).latitude AS lat",
    ).collect()[0]
    assert (row["x"], row["crs"], row["lat"]) == (10.0, "wgs-84", 20.0)


def test_point_distance_semantics(fixture_graph):
    """Euclidean for cartesian, haversine meters for wgs-84, null for
    mixed CRS (Neo4j 5 contract)."""
    row = cypher_read(
        fixture_graph,
        "RETURN point.distance(point({x: 0, y: 0}), point({x: 3, y: 4})) "
        "AS e, "
        "point.distance(point({x: 0, y: 0}), "
        "point({longitude: 0, latitude: 0})) AS mixed, "
        "round(point.distance(point({longitude: 2.35, latitude: 48.85}), "
        "point({longitude: -0.13, latitude: 51.51})) / 1000, 0) AS km",
    ).collect()[0]
    assert row["e"] == 5.0
    assert row["mixed"] is None
    assert row["km"] == 344.0  # Paris-London great circle
    # distance to self is 0 in both systems
    row = cypher_read(
        fixture_graph,
        "WITH point({longitude: 7, latitude: 7}) AS p "
        "RETURN point.distance(p, p) AS z",
    ).collect()[0]
    assert row["z"] == 0.0


def test_point_within_bbox(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND [0, 3, 5, 9] AS x "
        "WITH x, point({x: x, y: x}) AS p "
        "WHERE point.withinBBox(p, point({x: 2, y: 2}), "
        "point({x: 5, y: 5})) "
        "RETURN x ORDER BY x",
    ).collect()
    assert [r["x"] for r in rows] == [3, 5]  # bounds inclusive


def test_point_validation(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="point\\(\\) map"):
        cypher_read(fixture_graph, "RETURN point({x: 1, z: 2}) AS p")
    with pytest.raises(CypherSyntaxError, match="takes a map"):
        cypher_read(fixture_graph, "RETURN point(1) AS p")
    with pytest.raises(CypherSyntaxError, match="unknown spatial"):
        cypher_read(
            fixture_graph,
            "RETURN point.area(point({x: 1, y: 1}), point({x: 2, y: 2})) AS a",
        )
    with pytest.raises(CypherSyntaxError, match="2 arguments"):
        cypher_read(
            fixture_graph, "RETURN point.distance(point({x: 1, y: 1})) AS d"
        )


def test_correlated_call_topk_per_key(fixture_graph):
    """CALL { WITH n MATCH … ORDER BY … LIMIT k }: per-anchor top-k —
    ORDER BY + LIMIT apply per imported row, never globally."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
        "RETURN b.name AS friend ORDER BY b.name LIMIT 1 } "
        "RETURN a.name AS name, friend ORDER BY name",
    ).collect()
    got = {(r["name"], r["friend"]) for r in rows}
    # fixture KNOWS edges: Alice->Bob (2001), Bob->Alice (2002); Eve has
    # no outgoing KNOWS and drops entirely (inner-join semantics, Neo4j)
    assert got == {("Alice", "Bob"), ("Bob", "Alice")}


def test_correlated_call_inner_where_and_pipeline(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) WHERE e.since > 2001 "
        "RETURN b.name AS friend, e.since AS since ORDER BY e.since } "
        "WITH a, friend, since WHERE since >= 2002 "
        "RETURN a.name AS name, friend, since ORDER BY name, friend",
    ).collect()
    assert [(r["name"], r["friend"], r["since"]) for r in rows] == [
        ("Bob", "Alice", 2002)
    ]


def test_correlated_call_validations(fixture_graph):
    cases = [
        ("CALL { MATCH (m:User) RETURN m.name AS x }", "import"),
        (
            "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
            "RETURN b.name AS x LIMIT 2 }",
            "ORDER BY",
        ),
        (
            # aggregate-only: one row per anchor, a SKIP/LIMIT cut would
            # have to apply to left-join-fabricated zero rows — loud
            "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
            "RETURN count(*) AS c ORDER BY c LIMIT 1 }",
            "aggregate-only",
        ),
        (
            "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
            "RETURN b.name AS name }",
            "collides",
        ),
    ]
    for block, match in cases:
        with pytest.raises(CypherSyntaxError, match=match):
            cypher_read(
                fixture_graph,
                "MATCH (a:User) WITH a, a.name AS name " + block +
                " RETURN name",
            )


def test_correlated_call_aggregates(fixture_graph):
    """Aggregates inside a correlated CALL (round-8): per-anchor groupBy
    on the expansion side; aggregate-only RETURNs keep empty anchors
    (count 0 / sum null / collect []) via a left join."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
        "RETURN count(*) AS deg, sum(e.since) AS ts, "
        "collect(b.name) AS friends } "
        "RETURN a.name AS nm, deg, ts, friends ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", 1, 2001, ["Bob"]),
        ("Bob", 1, 2002, ["Alice"]),
        ("Eve", 0, None, []),
    ]
    # mixed grouping keys: per anchor per key, empty anchors drop
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
        "RETURN b.name AS friend, count(*) AS c } "
        "RETURN a.name AS nm, friend, c ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", "Bob", 1),
        ("Bob", "Alice", 1),
    ]


def test_correlated_call_distinct(fixture_graph):
    """RETURN DISTINCT inside CALL dedups the projected inner rows per
    anchor BEFORE the join; ORDER BY aliases + SKIP/LIMIT rank after."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
        "RETURN DISTINCT b.born AS yr ORDER BY yr LIMIT 1 } "
        "RETURN a.name AS nm, yr ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [("Alice", 1983), ("Bob", 1984)]
    with pytest.raises(CypherSyntaxError, match="aliases"):
        cypher_read(
            fixture_graph,
            "MATCH (a:User) WITH a "
            "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
            "RETURN DISTINCT b.born AS yr ORDER BY b.name } "
            "RETURN a.name AS nm, yr",
        )


def test_pipeline_match_inline_props(fixture_graph):
    """Inline property maps in pipeline MATCH positions desugar to WHERE
    conjuncts (round-8): on the edge / free endpoint they filter the
    expansion side; on the bound endpoint they filter the current rows
    (plain MATCH only); on an unanchored pipeline MATCH they AND into the
    correlating WHERE."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n "
        "MATCH (n)-[e:KNOWS {since: 2001}]->(m:User) "
        "RETURN n.name AS nm, m.name AS friend",
    ).collect()
    assert [tuple(r) for r in rows] == [("Alice", "Bob")]
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n "
        "MATCH (n {name: 'Bob'})-[e:KNOWS]->(m:User) "
        "RETURN n.name AS nm, m.name AS friend",
    ).collect()
    assert [tuple(r) for r in rows] == [("Bob", "Alice")]
    # OPTIONAL + bound-endpoint map: a predicate of the optional pattern —
    # failing rows null-extend via the LEFT-join condition (round 8)
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n "
        "OPTIONAL MATCH (n {name: 'Bob'})-[e:KNOWS]->(m:User) "
        "RETURN n.name AS nm, m.name AS friend ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", None),
        ("Bob", "Alice"),
        ("Eve", None),
    ]
    # unanchored pipeline MATCH: the map ANDs into the correlating WHERE
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1984] AS y MATCH (u:User {trust: true}) "
        "WHERE u.born = y RETURN u.name AS nm",
    ).collect()
    assert [tuple(r) for r in rows] == [("Alice",)]
    # pipeline undirected [OPTIONAL] MATCH over the symmetrized frame
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n "
        "OPTIONAL MATCH (n)-[e:KNOWS]-(m:User) "
        "RETURN n.name AS nm, count(e) AS deg ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [("Alice", 2), ("Bob", 2), ("Eve", 0)]


def test_correlated_call_inline_props_and_undirected(fixture_graph):
    """Inline property maps in a CALL pattern desugar to the inner WHERE;
    undirected CALL patterns run over the symmetrized frame."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS {since: 2001}]->(b:User) "
        "RETURN b.name AS friend } "
        "RETURN a.name AS nm, friend ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [("Alice", "Bob")]
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]-(b:User) "
        "RETURN count(*) AS deg } "
        "RETURN a.name AS nm, deg ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", 2),
        ("Bob", 2),
        ("Eve", 0),
    ]


def test_optional_bound_endpoint_map_first_stage(fixture_graph):
    """Inline map on the BOUND endpoint of a first-stage OPTIONAL MATCH:
    a predicate of the optional pattern, so failing base rows null-extend
    (Neo4j) — carried in the LEFT-join condition, never a pre-filter."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) "
        "OPTIONAL MATCH (n {name: 'Bob'})-[e:KNOWS]->(m:User) "
        "RETURN n.name AS nm, m.name AS friend ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", None),
        ("Bob", "Alice"),
        ("Eve", None),
    ]
    # a map whose property exists nowhere never matches — every row
    # null-extends, none drop (missing-property 3VL, not an error)
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) "
        "OPTIONAL MATCH (n {ghost: 1})-[e:KNOWS]->(m:User) "
        "RETURN n.name AS nm, m.name AS friend ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", None),
        ("Bob", None),
        ("Eve", None),
    ]


def test_optional_bound_endpoint_map_after_chain(fixture_graph):
    """Bound-endpoint map on an OPTIONAL MATCH after a multi-clause MATCH
    chain rides the left-join condition through the chain colmap."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e1:KNOWS]->(b:User), (b)-[e2:KNOWS]->(a) "
        "OPTIONAL MATCH (b {born: 1984})-[e3:KNOWS]->(c:User) "
        "RETURN a.name AS nm, c.name AS via ORDER BY nm",
    ).collect()
    # chain rows: (Alice,Bob) and (Bob,Alice); only b=Alice has born 1984
    assert [tuple(r) for r in rows] == [("Alice", None), ("Bob", "Bob")]


def test_optional_after_single_edge_match(fixture_graph):
    """OPTIONAL MATCH after a single-EDGE base pattern (``MATCH
    (a)-[e]->(b) OPTIONAL MATCH (b)-[e2]->(c)``): runs as a one-clause
    chain — one left join per optional clause, null-extended."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) "
        "OPTIONAL MATCH (b)-[e2:KNOWS]->(c:User) WHERE e2.since > 2001 "
        "RETURN a.name AS nm, b.name AS via, c.name AS far ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", "Bob", "Alice"),
        ("Bob", "Alice", None),
    ]


def test_correlated_call_agg_orderby_limit(fixture_graph):
    """Aggregating CALL with grouping keys + ORDER BY/SKIP/LIMIT: a
    per-anchor cut over the grouped rows (top-k groups per anchor)."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]-(b:User) "
        "RETURN b.name AS friend, count(*) AS c "
        "ORDER BY c DESC, friend LIMIT 1 } "
        "RETURN a.name AS nm, friend, c ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", "Bob", 2),
        ("Bob", "Alice", 2),
    ]
    # DISTINCT over an aggregating RETURN is a no-op (accepted, ignored)
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
        "RETURN DISTINCT count(*) AS deg } "
        "RETURN a.name AS nm, deg ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", 1),
        ("Bob", 1),
        ("Eve", 0),
    ]
    # a key that is NEITHER a RETURN item nor an expression over one
    # stays loud (Neo4j rejects non-projected variables after aggregation)
    with pytest.raises(CypherSyntaxError, match="post-aggregation"):
        cypher_read(
            fixture_graph,
            "MATCH (a:User) WITH a "
            "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
            "RETURN b.name AS friend, count(*) AS c ORDER BY b.born } "
            "RETURN a.name AS nm, friend, c",
        )


def test_call_agg_orderby_restated_key_expression(fixture_graph):
    """ORDER BY in an aggregating CALL accepts an expression EQUAL to a
    projected item (Neo4j lets ORDER BY restate a grouping key) and
    expressions computed over the RETURN aliases — round-8 verdict ask
    #5."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
        "RETURN b.born AS born, count(*) AS c "
        "ORDER BY b.born DESC LIMIT 1 } "
        "RETURN a.name AS nm, born, c ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", 1983, 1),
        ("Bob", 1984, 1),
    ]
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
        "RETURN b.name AS friend, count(*) AS c "
        "ORDER BY toLower(friend) DESC LIMIT 1 } "
        "RETURN a.name AS nm, friend, c ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", "Bob", 1),
        ("Bob", "Alice", 1),
    ]


def test_call_distinct_expression_orderby(fixture_graph):
    """ORDER BY inside CALL { RETURN DISTINCT } accepts expressions over
    the RETURN aliases (post-dedup scope), not just bare alias names."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]-(b:User) "
        "RETURN DISTINCT b.name AS friend "
        "ORDER BY toLower(friend) DESC LIMIT 1 } "
        "RETURN a.name AS nm, friend ORDER BY nm",
    ).collect()
    # Eve has no KNOWS edges: plain (non-aggregating) CALL inner-joins,
    # so her anchor row drops — Neo4j's unit-subquery contract
    assert [tuple(r) for r in rows] == [
        ("Alice", "Bob"),
        ("Bob", "Alice"),
    ]


def test_call_distinct_orders_by_projected_expression(fixture_graph):
    """Inside CALL { RETURN DISTINCT } an ORDER BY key equal to a
    projected item sorts by that item, as it does in RETURN/WITH and in
    the plain and aggregating CALL forms."""
    def call(key: str):
        return [
            tuple(r)
            for r in cypher_read(
                fixture_graph,
                "MATCH (a:User) WITH a "
                "CALL { WITH a MATCH (a)-[e:KNOWS]-(b:User) "
                f"RETURN DISTINCT b.name AS nm ORDER BY {key} DESC LIMIT 1 }} "
                "RETURN a.name AS an, nm ORDER BY an",
            ).collect()
        ]

    assert call("b.name") == call("nm") == [("Alice", "Bob"), ("Bob", "Alice")]


def test_correlated_call_whole_variable_return(fixture_graph):
    """Whole-variable projection inside a correlated CALL (``RETURN b``):
    the full node/edge struct lands in the outer scope, so dot access and
    collect() work downstream exactly like a WITH-carried variable."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
        "RETURN b ORDER BY b.name LIMIT 1 } "
        "RETURN a.name AS nm, b.name AS friend, b.born AS yr ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", "Bob", 1983),
        ("Bob", "Alice", 1984),
    ]
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a "
        "CALL { WITH a MATCH (a)-[e:KNOWS]->(b:User) "
        "RETURN e ORDER BY e.since LIMIT 1 } "
        "RETURN a.name AS nm, e.since AS since ORDER BY nm",
    ).collect()
    assert [tuple(r) for r in rows] == [("Alice", 2001), ("Bob", 2002)]


def test_pattern_comprehension_whole_variable(fixture_graph):
    """Whole-variable projection in a pattern comprehension
    (``[(a)-[e:KNOWS]->(b:User) | b]``): collects the full node/edge
    structs per anchor — node identity/order is id-based (Neo4j)."""
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) RETURN a.name AS nm, "
        "[(a)-[e:KNOWS]->(b:User) | b] AS friends ORDER BY nm",
    ).collect()
    got = {r["nm"]: [f["name"] for f in r["friends"]] for r in rows}
    assert got == {"Alice": ["Bob"], "Bob": ["Alice"], "Eve": []}
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) RETURN a.name AS nm, "
        "[(a)-[e:KNOWS]->(b:User) | e] AS rels ORDER BY nm",
    ).collect()
    got = {r["nm"]: [x["since"] for x in r["rels"]] for r in rows}
    assert got == {"Alice": [2001], "Bob": [2002], "Eve": []}


def test_bare_write_computed_where_operands(fixture_graph):
    """Computed WHERE operands in the bare SET / DELETE fast paths
    (``MATCH (n:L) WHERE n.born % 2 = 0 SET …``) — previously the two
    write paths passed no frame to the WHERE compiler and raised."""
    g2 = cypher_write(
        fixture_graph,
        "MATCH (n:User) WHERE n.born % 2 = 0 SET n.even = true",
    )
    rows = {r["name"]: r["even"] for r in g2.nodes("User").collect()}
    assert rows == {"Alice": True, "Bob": None, "Eve": True}
    g3 = cypher_write(
        fixture_graph,
        "MATCH (n:User) WHERE n.born + 1 = 1984 DETACH DELETE n",
    )
    assert {r["name"] for r in g3.nodes("User").collect()} == {
        "Alice", "Eve",
    }


# --- list quantifier predicates + isEmpty + math surface (X220) ---


def test_quantifier_predicates_return(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "any(x IN split(n.name, 'e') WHERE size(x) >= 3) AS a, "
        "all(x IN split(n.name, 'e') WHERE size(x) > 0) AS al, "
        "none(x IN split(n.name, 'e') WHERE x = 'zz') AS no, "
        "single(x IN split(n.name, 'e') WHERE size(x) >= 3) AS si "
        "ORDER BY name",
    ).collect()
    got = {r["name"]: (r["a"], r["al"], r["no"], r["si"]) for r in rows}
    # Alice -> ['Alic', '']: any True, all False (empty seg), none True,
    # single True; Bob -> ['Bob']: any True... (size 3), single True;
    # Eve -> ['Ev', '']: any False, single False
    assert got["Alice"] == (True, False, True, True)
    assert got["Bob"] == (True, True, True, True)
    assert got["Eve"] == (False, False, True, False)


def test_quantifier_in_where(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE any(x IN split(n.name, 'e') WHERE size(x) >= 3) "
        "RETURN n.name AS name ORDER BY name",
    ).collect()
    assert [r["name"] for r in rows] == ["Alice", "Bob"]


def test_quantifier_null_list(fixture_graph):
    # quantifier over a missing property (null list) answers null, Neo4j
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "any(x IN n.missing WHERE x > 0) AS a, "
        "all(x IN n.missing WHERE x > 0) AS al ORDER BY name",
    ).collect()
    assert all(r["a"] is None and r["al"] is None for r in rows)


def test_quantifier_empty_list_semantics(fixture_graph):
    # all/none over an empty list are vacuously true; any/single false
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1] AS o WITH [x IN [1] WHERE x > 5] AS empty "
        "RETURN any(x IN empty WHERE x > 0) AS a, "
        "all(x IN empty WHERE x > 0) AS al, "
        "none(x IN empty WHERE x > 0) AS no, "
        "single(x IN empty WHERE x > 0) AS si",
    ).collect()
    assert [tuple(r) for r in rows] == [(False, True, True, False)]


def test_quantifier_requires_where(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="WHERE"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN any(x IN split(n.name, 'e')) AS a",
        )


def test_is_empty_dispatch(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND ['', 'x'] AS s "
        "RETURN s, isEmpty(s) AS es, "
        "isEmpty([y IN [1] WHERE y > 5]) AS el, "
        "isEmpty([1, 2]) AS enl ORDER BY s",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("", True, True, False), ("x", False, True, False)]


def test_is_empty_null(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN isEmpty(n.missing) AS e LIMIT 1",
    ).collect()
    assert rows[0]["e"] is None


def test_math_functions(fixture_graph):
    import math as m

    rows = cypher_read(
        fixture_graph,
        "UNWIND [1] AS o RETURN round(log(e()), 6) AS ln1, "
        "round(log10(1000), 6) AS l10, round(sin(pi() / 2), 6) AS s1, "
        "round(cos(0), 6) AS c1, round(tan(0), 6) AS t0, "
        "round(asin(1), 6) AS as1, round(acos(1), 6) AS ac0, "
        "round(atan(1) * 4, 6) AS api, round(atan2(1, 1) * 4, 6) AS a2pi, "
        "round(degrees(pi()), 6) AS deg, round(radians(180), 6) AS rad",
    ).collect()
    r = rows[0]
    assert (r["ln1"], r["l10"], r["s1"], r["c1"], r["t0"]) == (1.0, 3.0, 1.0, 1.0, 0.0)
    assert (r["as1"], r["ac0"]) == (round(m.pi / 2, 6), 0.0)
    assert r["api"] == r["a2pi"] == round(m.pi, 6)
    assert (r["deg"], r["rad"]) == (180.0, round(m.pi, 6))


def test_math_log_null_on_nonpositive(fixture_graph):
    # Spark's log of a non-positive double is null; Neo4j raises — we
    # null through (documented divergence consistent with try_cast style)
    rows = cypher_read(
        fixture_graph, "UNWIND [-1, 0] AS x RETURN x, log(x) AS l ORDER BY x"
    ).collect()
    assert all(r["l"] is None for r in rows)


def test_zero_arg_constants_arity(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="argument"):
        cypher_read(fixture_graph, "UNWIND [1] AS o RETURN pi(2) AS p")


# --- tail() / IS NULL expressions / duration arithmetic (X223) ---


def test_tail_semantics(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "tail(split(n.name, '')) AS t, size(tail([9])) AS st, "
        "tail(n.missing) AS tn ORDER BY name LIMIT 1",
    ).collect()
    r = rows[0]
    assert r["st"] == 0 and r["tn"] is None
    assert r["t"] == list("Alice"[1:]) or r["t"] == list("Alice")[1:]


def test_is_null_expression_position(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, "
        "n.missing IS NULL AS miss, n.born IS NOT NULL AS has_born, "
        "coalesce(n.missing, n.born) IS NULL AS both ORDER BY name",
    ).collect()
    assert all(
        r["miss"] is True and r["has_born"] is True and r["both"] is False
        for r in rows
    )


def test_is_null_on_aggregate_raises(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="aggregate"):
        cypher_read(
            fixture_graph, "MATCH (n:User) RETURN count(*) IS NULL AS x"
        )


def test_duration_constructor_and_date_arithmetic(fixture_graph):
    import datetime

    rows = cypher_read(
        fixture_graph,
        "UNWIND [1] AS o RETURN "
        "date('2024-01-15') + duration({days: 3}) AS d1, "
        "date('2024-01-31') + duration({months: 1}) AS clamp, "
        "date('2024-03-10') - duration({years: 1, days: 9}) AS back, "
        "duration({weeks: 2}) + date('2024-01-01') AS commuted",
    ).collect()
    r = rows[0]
    assert r["d1"] == datetime.date(2024, 1, 18)
    assert r["clamp"] == datetime.date(2024, 2, 29)  # month-end clamp
    assert r["back"] == datetime.date(2023, 3, 1)
    assert r["commuted"] == datetime.date(2024, 1, 15)


def test_duration_plus_duration(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1] AS o WITH duration({days: 2}) + "
        "duration({months: 1, days: 3}) AS d "
        "RETURN d.months AS m, d.days AS dd",
    ).collect()
    assert tuple(rows[0]) == (1, 5)


def test_duration_time_components_raise(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="calendar components"):
        cypher_read(
            fixture_graph,
            "UNWIND [1] AS o RETURN date('2024-01-01') + "
            "duration({hours: 3}) AS bad",
        )


def test_duration_minus_date_raises(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="not defined"):
        cypher_read(
            fixture_graph,
            "UNWIND [1] AS o RETURN duration({days: 1}) - "
            "date('2024-01-01') AS bad",
        )


def test_plain_map_never_ducktypes_as_duration(fixture_graph):
    # round-6 advisory: {days: 2} is a MAP, not a duration — Neo4j raises
    # a type error on date + map; before the __dur tag the field-name
    # duck-typing silently applied duration arithmetic to it
    with pytest.raises(Exception):
        cypher_read(
            fixture_graph,
            "UNWIND [1] AS o RETURN date('2024-01-01') + {days: 2} AS bad",
        ).collect()
    # and a map-literal "sum" is no longer a field-wise duration sum
    with pytest.raises(Exception):
        cypher_read(
            fixture_graph,
            "UNWIND [1] AS o RETURN {days: 1} + {days: 2} AS bad",
        ).collect()


def test_isempty_type_errors(fixture_graph):
    # round-6 advisory: isEmpty(42) must raise like Neo4j, not implicitly
    # cast through length() and answer false
    with pytest.raises(CypherSyntaxError, match="isEmpty"):
        cypher_read(fixture_graph, "UNWIND [1] AS o RETURN isEmpty(42) AS b")
    with pytest.raises(CypherSyntaxError, match="isEmpty"):
        cypher_read(
            fixture_graph,
            "UNWIND [1] AS o RETURN isEmpty(date('2024-01-01')) AS b",
        )
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1] AS o RETURN isEmpty('') AS s, isEmpty([]) AS l, "
        "isEmpty(null) AS nn, isEmpty('x') AS sx",
    ).collect()
    assert tuple(rows[0]) == (True, True, None, False)


def test_pipeline_match_requires_toplevel_equality(fixture_graph):
    # round-6 advisory: correlation hidden inside an OR branch (or a
    # non-equality correlation) still plans a cartesian — reject loudly
    with pytest.raises(CypherSyntaxError, match="top-level equality"):
        cypher_read(
            fixture_graph,
            "UNWIND [1984] AS y MATCH (n:User) "
            "WHERE n.born = 1 OR y = 2 RETURN n.name",
        )
    with pytest.raises(CypherSyntaxError, match="top-level equality"):
        cypher_read(
            fixture_graph,
            "UNWIND [1984] AS y MATCH (n:User) "
            "WHERE n.born > y RETURN n.name",
        )
    # per-branch DIFFERENT correlation keys are still a nested loop
    with pytest.raises(CypherSyntaxError, match="top-level equality"):
        cypher_read(
            fixture_graph,
            "UNWIND [1984] AS y MATCH (n:User) "
            "WHERE n.born = y OR id(n) = y RETURN n.name",
        )
    # the legitimate idiom keeps working, including AND-of-(OR) forms
    # where the equality is a genuine top-level conjunct
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1984] AS y MATCH (n:User) "
        "WHERE n.born = y AND (n.trust OR n.name = 'Bob') "
        "RETURN n.name ORDER BY n.name",
    ).collect()
    # Alice(trust, born 1984) passes; Eve(born 1984, no trust, not Bob)
    # and Bob(born != 1984) do not
    assert [r[0] for r in rows] == ["Alice"]


def test_aggregate_subscript_raises_typed(fixture_graph):
    # round 8: subscripts over an aggregate now compile (composite
    # aggregate expressions) — collect(o)[0] is the first-element idiom
    rows = cypher_read(
        fixture_graph, "UNWIND [1] AS o RETURN collect(o)[0] AS first_o"
    ).collect()
    assert rows[0]["first_o"] == 1


# --- unanchored pipeline MATCH: UNWIND params MATCH lookup (X224) ---


def test_unwind_match_lookup(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND [1983, 1984] AS y MATCH (n:User) WHERE n.born = y "
        "RETURN y, n.name AS name ORDER BY y, name",
    ).collect()
    assert [(r["y"], r["name"]) for r in rows] == [
        (1983, "Bob"), (1984, "Alice"), (1984, "Eve")]


def test_unwind_match_inner_join_drops_misses(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "UNWIND ['Alice', 'Zed'] AS nm MATCH (n:User) WHERE n.name = nm "
        "RETURN nm, id(n) AS nid ORDER BY nm",
    ).collect()
    assert [(r["nm"], r["nid"]) for r in rows] == [("Alice", 0)]


def test_with_self_join_via_fresh_match(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User) WITH a.born AS ab, a.name AS an "
        "MATCH (m:User) WHERE m.born = ab AND m.name <> an "
        "RETURN an, m.name AS other ORDER BY an",
    ).collect()
    assert [(r["an"], r["other"]) for r in rows] == [
        ("Alice", "Eve"), ("Eve", "Alice")]


def test_uncorrelated_fresh_match_raises(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="cartesian"):
        cypher_read(
            fixture_graph,
            "UNWIND [1] AS o MATCH (n:User) RETURN count(*) AS c",
        )


def test_fresh_match_correlation_becomes_equi_join(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "UNWIND [1983, 1984] AS y MATCH (n:User) WHERE n.born = y "
        "RETURN y, n.name AS name ORDER BY y, name",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# --- legacy exists(n.prop) + id(startNode/endNode) (X227) ---


def test_exists_property(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.name AS name, exists(n.born) AS hb, "
        "exists(n.nope) AS hn ORDER BY name",
    ).collect()
    assert all(r["hb"] is True and r["hn"] is False for r in rows)


def test_exists_in_where(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WHERE exists(n.born) RETURN count(*) AS c",
    ).collect()
    assert rows[0]["c"] == 3


def test_exists_requires_prop_ref(fixture_graph):
    with pytest.raises(CypherSyntaxError):
        cypher_read(
            fixture_graph, "MATCH (n:User) RETURN exists(n.born + 1) AS x"
        )


def test_start_end_node_ids(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) "
        "RETURN id(startNode(e)) AS s, id(endNode(e)) AS d, "
        "id(a) AS ia, id(b) AS ib ORDER BY s",
    ).collect()
    assert all(r["s"] == r["ia"] and r["d"] == r["ib"] for r in rows)


# --- implicit WITH * before CALL / pipeline MATCH (X230) ---


def test_call_directly_after_match(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) CALL { WITH n MATCH (n)-[e:KNOWS]->(b:User) "
        "RETURN b.name AS f ORDER BY b.name LIMIT 1 } "
        "RETURN n.name AS name, f ORDER BY name",
    ).collect()
    assert [(r["name"], r["f"]) for r in rows] == [
        ("Alice", "Bob"), ("Bob", "Alice")]


def test_optional_match_after_with_star_desugar(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) OPTIONAL MATCH (n)-[e:KNOWS]->(m:User) "
        "RETURN n.name AS a, m.name AS b ORDER BY a",
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [
        ("Alice", "Bob"), ("Bob", "Alice"), ("Eve", None)]


def test_fresh_match_after_explicit_with_star(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH * MATCH (m:User) "
        "WHERE m.born = n.born AND m.name <> n.name "
        "RETURN n.name AS a, m.name AS b ORDER BY a",
    ).collect()
    assert [(r["a"], r["b"]) for r in rows] == [
        ("Alice", "Eve"), ("Eve", "Alice")]


# --- RETURN ... ORDER BY non-projected expressions (X231) ---


def test_order_by_unprojected_property(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.born AS b ORDER BY n.name DESC",
    ).collect()
    assert [r["b"] for r in rows] == [1984, 1983, 1984]  # Eve, Bob, Alice


def test_order_by_mixed_hidden_and_alias_keys(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN toUpper(n.name) AS u "
        "ORDER BY size(n.name) DESC, u",
    ).collect()
    assert [r["u"] for r in rows] == ["ALICE", "BOB", "EVE"]


def test_order_by_unprojected_with_distinct_raises(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="RETURN column"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN DISTINCT n.born AS b ORDER BY n.name",
        )


def test_order_by_unprojected_with_aggregate_raises(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="RETURN column"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN count(*) AS c ORDER BY n.name",
        )


# --- map-projection computed entries (X232) ---


def test_map_projection_computed_entries(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n {.name, yr: n.born + 1, "
        "ini: toUpper(left(n.name, 1))} AS rec ORDER BY n.name LIMIT 2",
    ).collect()
    recs = [r["rec"].asDict() for r in rows]
    assert recs == [
        {"name": "Alice", "yr": 1985, "ini": "A"},
        {"name": "Bob", "yr": 1984, "ini": "B"},
    ]


def test_map_projection_duplicate_key_raises(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="duplicate"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN n {.name, name: 'dup'} AS rec",
        )


def test_map_projection_aggregate_entry_raises(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="aggregate"):
        cypher_read(
            fixture_graph, "MATCH (n:User) RETURN n {cnt: count(*)} AS rec"
        )


# --- unbounded variable-length paths (round-7: the bare-star idiom) ---


def test_unbounded_varlength_enumerates_edge_distinct_paths(fixture_graph):
    # alice<->bob 2-cycle: each direction yields a 1-hop path plus the
    # 2-hop round trip (then stops: both edges used — relationship
    # isomorphism is the termination rule, exactly Cypher)
    rows = cypher_read(
        fixture_graph,
        "MATCH p = (x:User)-[:KNOWS*]->(y) "
        "RETURN x.name AS a, y.name AS b, length(p) AS l ORDER BY a, l",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", "Bob", 1),
        ("Alice", "Alice", 2),
        ("Bob", "Alice", 1),
        ("Bob", "Bob", 2),
    ]


def test_unbounded_lower_bound_and_sugar(fixture_graph):
    got = lambda q: [tuple(r) for r in cypher_read(fixture_graph, q).collect()]
    # *2.. keeps only the round trips
    assert got(
        "MATCH (x:User)-[:KNOWS*2..]->(y) "
        "RETURN x.name AS a, y.name AS b ORDER BY a"
    ) == [("Alice", "Alice"), ("Bob", "Bob")]
    # *..1 is 1..1 sugar
    assert got(
        "MATCH (x:User)-[:KNOWS*..1]->(y) "
        "RETURN x.name AS a, y.name AS b ORDER BY a"
    ) == [("Alice", "Bob"), ("Bob", "Alice")]
    # zero lower bound: adds one zero-length self-path per User
    assert got(
        "MATCH (x:User)-[:KNOWS*0..]->(y:User) "
        "RETURN count(*) AS n"
    ) == [(7,)]


def test_unbounded_named_path_accessors(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH p = (x:User)-[:KNOWS*]->(y) WHERE x.name = 'Alice' "
        "RETURN size(nodes(p)) AS nn, size(relationships(p)) AS nr "
        "ORDER BY nr",
    ).collect()
    assert [tuple(r) for r in rows] == [(2, 1), (3, 2)]


def test_unbounded_shortest_path(fixture_graph):
    rows = cypher_read(
        fixture_graph,
        "MATCH p = shortestPath((x:User)-[:KNOWS*]->(y)) "
        "RETURN x.name AS a, y.name AS b, length(p) AS l ORDER BY a",
    ).collect()
    assert [tuple(r) for r in rows] == [("Alice", "Bob", 1), ("Bob", "Alice", 1)]


def test_unbounded_nondrain_raises(spark, monkeypatch):
    # a 6-chain has paths up to length 5; a ceiling of 3 must raise
    # LOUDLY (drain-or-raise), never silently truncate
    import flink_neo4j_spark.cypher_frontend as cf

    g = cypher_create_graph(
        spark,
        "CREATE (a:N {i:0}), (b:N {i:1}), (c:N {i:2}), (d:N {i:3}), "
        "(e:N {i:4}), (f:N {i:5}), (a)-[:T]->(b), (b)-[:T]->(c), "
        "(c)-[:T]->(d), (d)-[:T]->(e), (e)-[:T]->(f)",
    )
    monkeypatch.setattr(cf, "VAR_UNBOUNDED_MAX_ROUNDS", 3)
    with pytest.raises(RuntimeError, match="did not drain"):
        cypher_read(g, "MATCH (x:N)-[:T*]->(y) RETURN id(x)").collect()


def test_unbounded_ceiling_equal_to_longest_path_drains(spark, monkeypatch):
    # a 4-chain's longest path (and diameter) is 3 hops: a ceiling of 3
    # admits it in both the enumeration and the shortestPath BFS
    import flink_neo4j_spark.cypher_frontend as cf

    g = cypher_create_graph(
        spark,
        "CREATE (a:N {i:0}), (b:N {i:1}), (c:N {i:2}), (d:N {i:3}), "
        "(a)-[:T]->(b), (b)-[:T]->(c), (c)-[:T]->(d)",
    )
    monkeypatch.setattr(cf, "VAR_UNBOUNDED_MAX_ROUNDS", 3)
    for q in (
        "MATCH (x:N)-[:T*]->(y) RETURN x.i AS x, y.i AS y",
        "MATCH p = shortestPath((x:N)-[:T*]->(y:N)) RETURN x.i AS x, y.i AS y",
    ):
        got = sorted(tuple(r) for r in cypher_read(g, q).collect())
        assert got == [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)], q


def test_unbounded_frontier_cap_raises(fixture_graph, monkeypatch):
    import flink_neo4j_spark.cypher_frontend as cf

    monkeypatch.setattr(cf, "VAR_UNBOUNDED_MAX_FRONTIER", 1)
    with pytest.raises(RuntimeError, match="frontier hit"):
        cypher_read(
            fixture_graph, "MATCH (x:User)-[:KNOWS*]->(y) RETURN id(x)"
        ).collect()


# --- relationship property SET/REMOVE/DELETE (round-7) ---


@pytest.fixture()
def edge_write_graph(spark):
    return cypher_create_graph(
        spark,
        "CREATE (a:User {name:'Alice'}), (b:User {name:'Bob'}), "
        "(c:Org {name:'Acme'}), "
        "(a)-[:KNOWS {since: 2001, w: 1}]->(b), "
        "(b)-[:KNOWS {since: 2002, w: 2}]->(a), "
        "(a)-[:WORKS_AT {since: 2010}]->(c)",
    )


def _edge_rows(g, q):
    return sorted(
        (tuple(r) for r in cypher_read(g, q).collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_edge_set_fast_path(edge_write_graph):
    # no endpoint labels, WHERE over the edge var only -> pure conditional
    # projection; RHS reads the PRE-update property (e.w + 10)
    g = cypher_write(
        edge_write_graph,
        "MATCH ()-[e:KNOWS]->() WHERE e.since = 2001 "
        "SET e.w = e.w + 10, e.tag = 'x'",
    )
    assert _edge_rows(
        g, "MATCH (a)-[e:KNOWS]->(b) RETURN e.since AS s, e.w AS w, e.tag AS t"
    ) == [(2001, 11, "x"), (2002, 2, None)]
    # untouched rel types keep their schema reading the new column as null
    assert _edge_rows(
        g, "MATCH (a)-[e:WORKS_AT]->(b) RETURN e.since AS s, e.tag AS t"
    ) == [(2010, None)]


def test_edge_set_endpoint_constrained(edge_write_graph):
    g = cypher_write(
        edge_write_graph,
        "MATCH (a:User)-[e:WORKS_AT]->(o:Org) WHERE o.name = 'Acme' "
        "SET e.role = 'eng'",
    )
    assert _edge_rows(
        g, "MATCH (a)-[e:WORKS_AT]->(b) RETURN e.since AS s, e.role AS r"
    ) == [(2010, "eng")]
    # KNOWS edges unmatched: read role as null
    assert _edge_rows(
        g, "MATCH (a)-[e:KNOWS]->(b) RETURN e.since AS s, e.role AS r"
    ) == [(2001, None), (2002, None)]


def test_edge_set_map_merge_and_replace(edge_write_graph):
    g = cypher_write(
        edge_write_graph,
        "MATCH ()-[e:KNOWS]->() SET e += {w: 99, extra: true}",
    )
    assert _edge_rows(
        g, "MATCH (a)-[e:KNOWS]->(b) RETURN e.w AS w, e.extra AS x, e.since AS s"
    ) == [(99, True, 2001), (99, True, 2002)]
    # replace form: unlisted user properties null out on matched rows only
    g2 = cypher_write(
        edge_write_graph,
        "MATCH ()-[e:KNOWS]->() WHERE e.since = 2002 SET e = {w: 5}",
    )
    assert _edge_rows(
        g2, "MATCH (a)-[e:KNOWS]->(b) RETURN e.w AS w, e.since AS s"
    ) == [(1, 2001), (5, None)]


def test_edge_remove_and_inline_props(edge_write_graph):
    g = cypher_write(
        edge_write_graph,
        "MATCH ()-[e:KNOWS {since: 2001}]->() SET e.tag = 'x'",
    )
    g = cypher_write(g, "MATCH ()-[e:KNOWS]->() WHERE e.since = 2001 REMOVE e.tag")
    assert _edge_rows(
        g, "MATCH (a)-[e:KNOWS]->(b) RETURN e.since AS s, e.tag AS t"
    ) == [(2001, None), (2002, None)]


def test_edge_delete(edge_write_graph):
    g = cypher_write(
        edge_write_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) WHERE b.name = 'Alice' DELETE e",
    )
    assert cypher_read(
        g, "MATCH (a)-[e:KNOWS]->(b) RETURN count(*) AS n"
    ).collect()[0][0] == 1
    # vertices untouched
    assert cypher_read(g, "MATCH (n) RETURN count(*) AS n").collect()[0][0] == 3


def test_edge_write_rejections(edge_write_graph):
    cases = [
        ("MATCH ()-[e:KNOWS]->() SET e:Heavy", "exactly one type"),
        ("MATCH ()-[e:KNOWS]->() SET e.src = 1", "reserved"),
        ("MATCH ()-[e:KNOWS]->() SET e = {rel_type: 'X'}", "reserved"),
        ("MATCH (a:User)-[e:KNOWS]->(b) SET e.w = b.since", "own properties"),
        ("MATCH ()-[e:KNOWS*1..2]->() SET e.w = 1", "variable-length"),
        ("MATCH ()-[:KNOWS]->() SET e.w = 1", "edge variable"),
        ("MATCH (a)-[e:KNOWS]-(b) SET e.w = 1", "directed"),
        ("MATCH (a:User)-[e:KNOWS]->(b) DETACH DELETE e", "DETACH"),
        ("MATCH (a:User)-[e:KNOWS]->(b) SET e.w = count(*)", "aggregates"),
    ]
    for q, pat in cases:
        with pytest.raises(CypherSyntaxError, match=pat):
            cypher_write(edge_write_graph, q)


def test_edge_set_fast_path_computed_where(edge_write_graph):
    # computed WHERE operands (e.since % 2 = 0) work on the no-endpoint
    # fast path exactly as they do once a label forces the expand path
    g = cypher_write(
        edge_write_graph,
        "MATCH ()-[e:KNOWS]->() WHERE e.since % 2 = 0 SET e.even = true",
    )
    assert _edge_rows(
        g, "MATCH (a)-[e:KNOWS]->(b) RETURN e.since AS s, e.even AS v"
    ) == [(2001, None), (2002, True)]


@pytest.fixture(scope="module")
def bare_write_graph(spark):
    # a K chain A->B->C, an L edge closing the cycle and a K self-loop on
    # D, so every predicate below matches some rows and misses others
    return cypher_create_graph(
        spark,
        "CREATE (a:U {name: 'A'}), (b:U {name: 'B'}), (c:U {name: 'C'}), "
        "(d:U {name: 'D'}), (a)-[:K {w: 1}]->(b), (b)-[:K {w: 2}]->(c), "
        "(c)-[:L {w: 3}]->(a), (d)-[:K {w: 4}]->(d)",
    )


@pytest.mark.parametrize(
    "match, var, write",
    [
        pytest.param(
            "MATCH (n:U) WHERE (n)-[:K]->()", "n", "SET n.x = 1",
            id="node-set-pattern-predicate",
        ),
        pytest.param(
            "MATCH (n:U) WHERE NOT (n)-[:K]->()", "n", "DETACH DELETE n",
            id="node-detach-delete-negated-pattern",
        ),
        pytest.param(
            "MATCH (n:U) WHERE COUNT { (n)-[:K]->() } >= 1", "n",
            "SET n.x = 1", id="node-set-count-subquery",
        ),
        pytest.param(
            "MATCH (n:U) WHERE EXISTS { (n)-[:K]->() }", "n", "SET n.x = 1",
            id="node-set-exists",
        ),
        pytest.param(
            "MATCH (a:U)-[e:K]->(b) WHERE (b)-[:K]->()", "e", "SET e.x = 1",
            id="edge-set-endpoint-pattern-predicate",
        ),
        pytest.param(
            "MATCH (n:U) WHERE n.name = 'A'", "n", "SET n.x = 1",
            id="node-set-plain",
        ),
        pytest.param(
            "MATCH ()-[e:K]->() WHERE e.w = 2", "e", "SET e.x = 1",
            id="edge-set-plain",
        ),
        pytest.param(
            "MATCH (a:U)-[e:K]->(b:U) WHERE b.name = 'C'", "e", "SET e.x = 1",
            id="edge-set-endpoint-label",
        ),
        pytest.param(
            "MATCH (a)-[e:K]->(a)", "e", "SET e.x = 1",
            id="edge-set-self-loop-pattern",
        ),
    ],
)
def test_bare_write_where_matches_read(bare_write_graph, match, var, write):
    # a bare write's MATCH is a read: the ids it changes are exactly the
    # ids the same MATCH … WHERE returns
    g = bare_write_graph
    want = {
        r[0]
        for r in cypher_read(g, f"{match} RETURN id({var}) AS i").collect()
    }
    g2 = cypher_write(g, f"{match} {write}")
    if write.startswith("DETACH"):
        changed = {r[0] for r in g.vertices.select("id").collect()} - {
            r[0] for r in g2.vertices.select("id").collect()
        }
    else:
        table = g2.edges if var == "e" else g2.vertices
        changed = {r[0] for r in table.filter("x IS NOT NULL").select("id").collect()}
    assert want
    assert changed == want


# --- allShortestPaths accessors: capped tie enumeration (round-7) ---


def test_allshortest_accessors_enumerate_ties_unbounded(diamond_graph):
    # the UNBOUNDED form over the tie diamond: same enumeration
    rows = cypher_read(
        diamond_graph,
        "MATCH p = allShortestPaths((x:N)-[:E*]->(y:N)) "
        "WHERE x.name = 'A' AND y.name = 'D' "
        "RETURN nodes(p) AS ns, relationships(p) AS rs, length(p) AS l",
    ).collect()
    got = sorted((tuple(r["ns"]), tuple(r["rs"]), r["l"]) for r in rows)
    assert got == [((0, 1, 4), (0, 2), 2), ((0, 2, 4), (1, 3), 2)]


def test_allshortest_accessor_cap_raises(diamond_graph, monkeypatch):
    import flink_neo4j_spark.cypher_frontend as cf

    monkeypatch.setattr(cf, "ALL_PATHS_TIE_CAP", 1)
    with pytest.raises(Exception, match="tied paths"):
        cypher_read(
            diamond_graph,
            "MATCH p = allShortestPaths((x:N)-[:E*]->(y:N)) "
            "WHERE x.name = 'A' AND y.name = 'D' RETURN nodes(p) AS ns",
        ).collect()
    # without an accessor the same query keeps the cheap count-explode
    # path and is untouched by the cap
    rows = cypher_read(
        diamond_graph,
        "MATCH p = allShortestPaths((x:N)-[:E*]->(y:N)) "
        "WHERE x.name = 'A' AND y.name = 'D' RETURN length(p) AS l",
    ).collect()
    assert [r["l"] for r in rows] == [2, 2]


def test_zero_length_paths(fixture_graph):
    # *0..1: three zero-length self-paths (Eve included — no edges
    # needed) plus the two real hops
    rows = cypher_read(
        fixture_graph,
        "MATCH p = (x:User)-[:KNOWS*0..1]->(y:User) "
        "RETURN x.name AS a, y.name AS b, length(p) AS l ORDER BY a, l",
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("Alice", "Alice", 0), ("Alice", "Bob", 1),
        ("Bob", "Bob", 0), ("Bob", "Alice", 1),
        ("Eve", "Eve", 0),
    ]
    # zero-length accessors: nodes(p)=[n], relationships(p)=[]
    z = cypher_read(
        fixture_graph,
        "MATCH p = (x:User)-[:KNOWS*0..0]->(y:User) "
        "RETURN size(nodes(p)) AS nn, size(relationships(p)) AS nr",
    ).collect()
    assert sorted(tuple(r) for r in z) == [(1, 0)] * 3
    # unbounded *0..: 3 zero + 4 enumerated = 7 rows
    rows_u = cypher_read(
        fixture_graph,
        "MATCH (x:User)-[:KNOWS*0..]->(y:User) RETURN count(*) AS n",
    ).collect()
    assert rows_u[0][0] == 7
    # shortestPath *0..: the self-pair settles at length 0
    sp = cypher_read(
        fixture_graph,
        "MATCH p = shortestPath((x:User)-[:KNOWS*0..]->(y:User)) "
        "WHERE x.name = 'Alice' RETURN y.name AS b, length(p) AS l "
        "ORDER BY b",
    ).collect()
    assert [tuple(r) for r in sp] == [("Alice", 0), ("Bob", 1)]
    # still-invalid bounds stay rejected
    with pytest.raises(CypherSyntaxError, match="bounds"):
        cypher_read(
            fixture_graph, "MATCH (x)-[:KNOWS*2..1]->(y) RETURN id(x)"
        )


def test_shortestpath_source_predicate_pushdown(fixture_graph):
    # round-7 scale fix: a WHERE (or inline map) pinning the anchor must
    # prefilter the BFS source set, not run the all-sources BFS and
    # filter at the end. Semantics are identical either way — assert the
    # filtered forms agree with the unfiltered + post-filter baseline.
    full = cypher_read(
        fixture_graph,
        "MATCH p = shortestPath((x:User)-[:KNOWS*]->(y)) "
        "RETURN x.name AS a, y.name AS b, length(p) AS l ORDER BY a, b",
    ).collect()
    baseline = [tuple(r) for r in full if r["a"] == "Alice"]
    for q in (
        # plain WHERE equality on the source
        "MATCH p = shortestPath((x:User)-[:KNOWS*]->(y)) "
        "WHERE x.name = 'Alice' "
        "RETURN x.name AS a, y.name AS b, length(p) AS l ORDER BY a, b",
        # inline property map (desugars into the same conjuncts)
        "MATCH p = shortestPath((x:User {name: 'Alice'})-[:KNOWS*]->(y)) "
        "RETURN x.name AS a, y.name AS b, length(p) AS l ORDER BY a, b",
        # source conjunct alongside a cross-variable conjunct: only the
        # source-only part pushes; the rest filters post-translation
        "MATCH p = shortestPath((x:User)-[:KNOWS*]->(y)) "
        "WHERE x.name = 'Alice' AND x.name <> y.name "
        "RETURN x.name AS a, y.name AS b, length(p) AS l ORDER BY a, b",
    ):
        got = [tuple(r) for r in cypher_read(fixture_graph, q).collect()]
        assert got == baseline, q
    # OR-only source predicates must NOT push (not implied per-branch):
    # answers stay correct via the post-translation WHERE
    rows = cypher_read(
        fixture_graph,
        "MATCH p = shortestPath((x:User)-[:KNOWS*]->(y)) "
        "WHERE x.name = 'Alice' OR y.name = 'Alice' "
        "RETURN x.name AS a, y.name AS b ORDER BY a",
    ).collect()
    assert [tuple(r) for r in rows] == [("Alice", "Bob"), ("Bob", "Alice")]


def test_unbounded_source_predicate_pushdown(fixture_graph):
    got = cypher_read(
        fixture_graph,
        "MATCH (x:User {name: 'Bob'})-[:KNOWS*]->(y) "
        "RETURN y.name AS b ORDER BY b",
    ).collect()
    assert [r["b"] for r in got] == ["Alice", "Bob"]


# ---------------------------------------------------------------------------
# Composite aggregate expressions (round 8): Neo4j's implicit grouping with
# mixed aggregate/scalar projections — ``sum(x) / count(*)``, ``round(avg(x),
# 2)``, ``CASE WHEN count(*) … END`` — and aggregates over COMPUTED
# arguments — ``sum(CASE … END)``, ``sum(a * b)`` (TPC-H Q1's shape through
# the front end). The reference ships any such string opaquely
# (Neo4jFormatBase.java:48,60); the engine compiles the aggregate subtrees
# and implicit keys into ONE hash aggregate plus a fused post-projection.
# ---------------------------------------------------------------------------


def test_composite_agg_arithmetic(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN sum(n.born) * 1.0 / count(*) AS avg_born",
    )
    assert abs(df.collect()[0]["avg_born"] - (1984 + 1983 + 1984) / 3) < 1e-9


def test_composite_agg_scalar_fn(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN round(avg(n.height), 1) AS h, "
        "toInteger(max(n.born) - min(n.born)) AS spread",
    )
    r = df.collect()[0]
    assert r["h"] == 1.7 and r["spread"] == 1


def test_agg_over_computed_expression(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN sum(n.born - 1980) AS s, "
        "sum(CASE WHEN n.trust THEN 1 ELSE 0 END) AS trusted",
    )
    r = df.collect()[0]
    assert r["s"] == 11 and r["trusted"] == 2


def test_composite_agg_implicit_key(fixture_graph):
    # the non-aggregate subtree n.born becomes an implicit grouping key
    # (Neo4j: RETURN n.born + count(*) groups by n.born)
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.born + count(*) AS bc ORDER BY bc",
    )
    assert [r["bc"] for r in df.collect()] == [1984, 1986]


def test_composite_agg_key_reuse(fixture_graph):
    # an explicit key item with the same AST is reused, not re-grouped
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.born AS born, 100 * count(*) AS c "
        "ORDER BY born",
    )
    assert [(r["born"], r["c"]) for r in df.collect()] == [
        (1983, 100),
        (1984, 200),
    ]


def test_composite_agg_case_over_count(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN CASE WHEN count(*) > 2 THEN 'many' "
        "ELSE 'few' END AS sz",
    )
    assert df.collect()[0]["sz"] == "many"


def test_composite_agg_case_in_list_condition(fixture_graph):
    # round 9 (ADVICE): an IN-list WHEN condition alongside an aggregate
    # branch — the raw Python list operand must stay verbatim (the IN
    # compiler star-expands it), never become a BareRef grouping key
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN n.born AS born, "
        "CASE WHEN n.born IN [1984, 1999] THEN count(*) ELSE 0 END AS c",
    )
    assert sorted((r["born"], r["c"]) for r in df.collect()) == [
        (1983, 0),
        (1984, 2),
    ]


def test_composite_agg_case_in_list_no_key(fixture_graph):
    # same shape without an explicit key item: the WHEN condition's n.born
    # operand registers as the implicit grouping key
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN "
        "CASE WHEN n.born IN [1984, 1999] THEN count(*) ELSE 0 END AS c",
    )
    assert sorted(r["c"] for r in df.collect()) == [0, 2]


def test_composite_agg_subscript_and_list(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN collect(n.name)[0] AS first_name, "
        "[min(n.born), max(n.born)] AS rng",
    )
    r = df.collect()[0]
    assert r["first_name"] == "Alice" and list(r["rng"]) == [1983, 1984]


def test_composite_agg_map_literal(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN {lo: min(n.born), hi: max(n.born)} AS m",
    )
    m = df.collect()[0]["m"]
    assert (m["lo"], m["hi"]) == (1983, 1984)


def test_composite_agg_dedup_same_aggregate(fixture_graph):
    # count(*) appears twice but computes once (AST-equality dedup)
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN count(*) AS c, 2 * count(*) AS c2",
    )
    r = df.collect()[0]
    assert (r["c"], r["c2"]) == (3, 6)


def test_comprehension_and_reduce_over_collect(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) RETURN [x IN collect(n.born) | x + 1] AS b1, "
        "reduce(s = 0, x IN collect(n.born) | s + x) AS tot",
    )
    r = df.collect()[0]
    assert list(r["b1"]) == [1984, 1985, 1985] and r["tot"] == 5951


def test_composite_agg_string_concat(fixture_graph):
    df = cypher_read(
        fixture_graph, "MATCH (n:User) RETURN 'n=' + count(*) AS s"
    )
    assert df.collect()[0]["s"] == "n=3"


def test_composite_agg_in_with_stage(fixture_graph):
    # WITH-stage composite then HAVING-style filter on the alias
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) WITH n.born AS born, count(*) * 1.0 AS c "
        "WHERE c > 1 RETURN born, c",
    )
    assert [(r["born"], r["c"]) for r in df.collect()] == [(1984, 2.0)]


def test_aggregates_still_rejected_in_predicates(fixture_graph):
    # WHERE rejects aggregates however deeply they nest (Neo4j's
    # "invalid use of aggregating function") — the deep check, not the
    # old top-level isinstance
    for q in (
        "MATCH (n:User) WHERE count(*) > 1 RETURN n.name",
        "MATCH (n:User) WHERE sum(n.born) + 1 > 2 RETURN n.name",
        "MATCH (n:User) WHERE round(avg(n.born)) > 2 RETURN n.name",
    ):
        with pytest.raises(CypherSyntaxError, match="not allowed in WHERE"):
            cypher_read(fixture_graph, q)
    with pytest.raises(CypherSyntaxError, match="needs a WITH stage"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) WITH n UNWIND collect(n.born) AS b RETURN b",
        )


def test_agg_over_computed_needs_alias(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="AS alias"):
        cypher_read(
            fixture_graph, "MATCH (n:User) RETURN sum(n.born - 1980)"
        )


def test_aggregates_cannot_nest(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="cannot nest"):
        cypher_read(
            fixture_graph,
            "MATCH (n:User) RETURN sum(count(*) + 1) AS x",
        )


# ---------------------------------------------------------------------------
# Pattern subqueries over multi-variable scopes (round 8): COUNT { },
# pattern comprehensions and pattern predicates previously bound only in
# single-node MATCH scope; they now anchor on ANY node variable of an
# edge-pattern or chain scope — the same semi/anti-join and one-row-per-node
# left-join plans, keyed on that variable's id column.
# ---------------------------------------------------------------------------


def test_count_subquery_in_edge_pattern_scope(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) "
        "RETURN a.name AS a, b.name AS b, "
        "COUNT { (b)-[:KNOWS]->() } AS bdeg ORDER BY a",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "Bob", 1),
        ("Bob", "Alice", 1),
    ]


def test_count_subquery_in_edge_pattern_where(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) "
        "WHERE COUNT { (b)<-[:KNOWS]-() } >= 1 "
        "RETURN a.name AS a ORDER BY a",
    )
    assert [r["a"] for r in df.collect()] == ["Alice", "Bob"]


def test_pattern_predicate_on_far_endpoint(fixture_graph):
    # (b)-[:KNOWS]->() holds for both Alice and Bob (they know each
    # other); Eve has no outgoing KNOWS, so a KNOWS edge into Eve would
    # drop — here both rows survive, and the NOT form drops both
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) WHERE (b)-[:KNOWS]->() "
        "RETURN a.name AS a ORDER BY a",
    )
    assert [r["a"] for r in df.collect()] == ["Alice", "Bob"]
    df2 = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) WHERE NOT (b)-[:KNOWS]->() "
        "RETURN a.name AS a",
    )
    assert df2.count() == 0


def test_pattern_comprehension_in_edge_pattern_scope(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[e:KNOWS]->(b:User) "
        "RETURN a.name AS a, [(b)-[k:KNOWS]->(m) | m.name] AS onward "
        "ORDER BY a",
    )
    rows = [(r["a"], list(r["onward"])) for r in df.collect()]
    assert rows == [("Alice", ["Alice"]), ("Bob", ["Bob"])]


def test_count_subquery_in_chain_scope(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[:KNOWS]->(b:User), (b)-[:KNOWS]->(c:User) "
        "RETURN a.name AS a, c.name AS c, "
        "COUNT { (b)<-[:KNOWS]-() } AS b_in ORDER BY a",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "Alice", 1),
        ("Bob", "Bob", 1),
    ]


def test_pattern_subquery_on_edge_var_rejected(fixture_graph):
    with pytest.raises(CypherSyntaxError, match="node"):
        cypher_read(
            fixture_graph,
            "MATCH (a:User)-[e:KNOWS]->(b:User) WHERE (e)-[:X]->() "
            "RETURN a.name AS a",
        )


# ---------------------------------------------------------------------------
# Cross-variable OPTIONAL MATCH WHERE (round 8): the WHERE of an OPTIONAL
# MATCH may reference the base row's variables (Neo4j: the predicate is part
# of the optional pattern — failing rows NULL-EXTEND, never drop). Compiled
# into the LEFT-join condition; side-only predicates keep the pre-filter
# pushdown.
# ---------------------------------------------------------------------------


def test_optional_where_references_base_variable(fixture_graph):
    # f.born < n.born: Alice(1984)-KNOWS->Bob(1983) passes; Bob-KNOWS->
    # Alice(1984 > 1983) fails -> Bob NULL-EXTENDS (not dropped); Eve has
    # no KNOWS edge at all -> null too
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) OPTIONAL MATCH (n)-[e:KNOWS]->(f) "
        "WHERE f.born < n.born "
        "RETURN n.name AS name, f.name AS friend ORDER BY name",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "Bob"),
        ("Bob", None),
        ("Eve", None),
    ]


def test_optional_where_mixed_side_and_base(fixture_graph):
    # side-only conjunct (e.since = 2001) AND cross conjunct (n.born =
    # 1984): only Alice's 2001 edge survives; everyone else null-extends
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) OPTIONAL MATCH (n)-[e:KNOWS]->(f) "
        "WHERE e.since = 2001 AND n.born = 1984 "
        "RETURN n.name AS name, f.name AS friend ORDER BY name",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "Bob"),
        ("Bob", None),
        ("Eve", None),
    ]


def test_optional_where_base_only_predicate(fixture_graph):
    # a predicate over ONLY the base variable still null-extends failing
    # rows (it is part of the optional pattern, not a base filter)
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) OPTIONAL MATCH (n)-[e:KNOWS]->(f) "
        "WHERE n.name = 'Bob' "
        "RETURN n.name AS name, f.name AS friend ORDER BY name",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", None),
        ("Bob", "Alice"),
        ("Eve", None),
    ]


def test_optional_where_cross_after_chain(fixture_graph):
    # chain base (a)-[:KNOWS]->(b), optional hop off b with a WHERE
    # referencing the chain's other variable a
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[k:KNOWS]->(b:User) "
        "OPTIONAL MATCH (b)-[e:KNOWS]->(f) WHERE f.born < a.born "
        "RETURN a.name AS a, f.name AS back ORDER BY a",
    )
    # (Alice,Bob): back-hop Bob->Alice has f.born 1984 < a.born 1984 ✗ ->
    # null; (Bob,Alice): Alice->Bob has f.born 1983 < a.born 1983 ✗ ->
    # null... use <=: Alice row still ✗ (1984 <= 1984 ✓) — assert the <=
    # form where Alice matches and Bob matches too
    df2 = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[k:KNOWS]->(b:User) "
        "OPTIONAL MATCH (b)-[e:KNOWS]->(f) WHERE f.born <= a.born "
        "RETURN a.name AS a, f.name AS back ORDER BY a",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", None),
        ("Bob", None),
    ]
    assert [tuple(r) for r in df2.collect()] == [
        ("Alice", "Alice"),
        ("Bob", "Bob"),
    ]


def test_optional_match_chained_off_optional_variable(fixture_graph):
    # second OPTIONAL anchors on the FIRST optional's far endpoint f;
    # rows where f is null (Eve) null-extend through the chained clause
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) OPTIONAL MATCH (n)-[e:KNOWS]->(f) "
        "OPTIONAL MATCH (f)-[e2:KNOWS]->(g) "
        "RETURN n.name AS name, f.name AS friend, g.name AS foaf "
        "ORDER BY name",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "Bob", "Alice"),
        ("Bob", "Alice", "Bob"),
        ("Eve", None, None),
    ]


def test_optional_match_chained_with_cross_where(fixture_graph):
    # chained optional + cross-variable WHERE over the ORIGINAL base
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) OPTIONAL MATCH (n)-[e:KNOWS]->(f) "
        "OPTIONAL MATCH (f)-[e2:KNOWS]->(g) WHERE g.born = n.born "
        "RETURN n.name AS name, g.name AS foaf ORDER BY name",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "Alice"),
        ("Bob", "Bob"),
        ("Eve", None),
    ]


# ---------------------------------------------------------------------------
# shortestPath composition (round 8): OPTIONAL MATCH clauses, COUNT { } and
# pattern predicates now compose with a shortestPath/allShortestPaths base —
# the path's endpoints are ordinary node variables of the scope.
# ---------------------------------------------------------------------------


def test_shortest_path_with_optional_match(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH p = shortestPath((x:User {name:'Alice'})-[:KNOWS*1..2]->(y)) "
        "OPTIONAL MATCH (y)-[k2:KNOWS]->(m) WHERE m.name <> 'Alice' "
        "RETURN y.name AS y, length(p) AS hops, m.name AS onward ORDER BY y",
    )
    # Alice's only in-bound-reachable node is Bob (the self-pair settles
    # at distance 0, below lo=1); Bob's one KNOWS edge goes back to
    # Alice, which the optional WHERE excludes -> null-extends
    assert [tuple(r) for r in df.collect()] == [("Bob", 1, None)]
    df2 = cypher_read(
        fixture_graph,
        "MATCH p = shortestPath((x:User {name:'Alice'})-[:KNOWS*1..2]->(y)) "
        "OPTIONAL MATCH (y)-[k2:KNOWS]->(m) "
        "RETURN y.name AS y, m.name AS onward ORDER BY y",
    )
    assert [tuple(r) for r in df2.collect()] == [("Bob", "Alice")]


def test_shortest_path_base_where_then_optional(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH p = shortestPath((x:User)-[:KNOWS*1..2]->(y)) "
        "WHERE x.name = 'Alice' AND y.name <> 'Alice' "
        "OPTIONAL MATCH (y)-[k2:KNOWS]->(m) "
        "RETURN y.name AS y, m.name AS onward ORDER BY y",
    )
    assert [tuple(r) for r in df.collect()] == [("Bob", "Alice")]


def test_shortest_path_count_subquery_on_endpoint(fixture_graph):
    df = cypher_read(
        fixture_graph,
        "MATCH p = shortestPath((x:User {name:'Alice'})-[:KNOWS*1..2]->(y)) "
        "RETURN y.name AS y, COUNT { (y)-[:KNOWS]->() } AS outdeg "
        "ORDER BY y",
    )
    assert [tuple(r) for r in df.collect()] == [("Bob", 1)]


def test_shortest_path_pattern_predicate_on_endpoint(fixture_graph):
    # both shortest-path pairs (Alice->Bob, Bob->Alice) have a y with an
    # outgoing KNOWS edge; Eve never appears as y (no edges at all)
    df = cypher_read(
        fixture_graph,
        "MATCH p = shortestPath((x:User)-[:KNOWS*1..2]->(y)) "
        "WHERE (y)-[:KNOWS]->() RETURN x.name AS x, y.name AS y ORDER BY x",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "Bob"),
        ("Bob", "Alice"),
    ]


def test_optional_where_computed_cross_operand(fixture_graph):
    # computed operands in a cross-variable OPTIONAL WHERE compile against
    # a schema-probe frame and ride the left-join condition
    df = cypher_read(
        fixture_graph,
        "MATCH (n:User) OPTIONAL MATCH (n)-[e:KNOWS]->(f) "
        "WHERE f.born - n.born > 0 "
        "RETURN n.name AS name, f.name AS friend ORDER BY name",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", None),
        ("Bob", "Alice"),
        ("Eve", None),
    ]
    df2 = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[k:KNOWS]->(b:User) "
        "OPTIONAL MATCH (b)-[e:KNOWS]->(f) WHERE f.born + 1 > a.born "
        "RETURN a.name AS a, f.name AS f ORDER BY a",
    )
    assert [tuple(r) for r in df2.collect()] == [
        ("Alice", "Alice"),
        ("Bob", "Bob"),
    ]


def test_varlength_scope_pattern_subqueries(fixture_graph):
    # pattern predicates and COUNT { } anchor on var-length endpoints
    df = cypher_read(
        fixture_graph,
        "MATCH (a:User)-[:KNOWS*1..2]->(b) WHERE (b)-[:KNOWS]->() "
        "RETURN a.name AS a, b.name AS b ORDER BY a, b",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "Alice"),
        ("Alice", "Bob"),
        ("Bob", "Alice"),
        ("Bob", "Bob"),
    ]
    df2 = cypher_read(
        fixture_graph,
        "MATCH (a:User {name:'Alice'})-[:KNOWS*1..2]->(b) "
        "RETURN b.name AS b, COUNT { (b)-[:KNOWS]->() } AS deg ORDER BY b",
    )
    assert [tuple(r) for r in df2.collect()] == [("Alice", 1), ("Bob", 1)]


# ---------------------------------------------------------------------------
# shortestPath chain composition (round 9): comma siblings in the same MATCH
# clause and subsequent MATCH clauses now compose with a shortestPath /
# allShortestPaths base — the counting-BFS frame seeds the chain joins.
# ---------------------------------------------------------------------------

#: two relationship types so same-clause composition has a disjoint sibling
SP_CHAIN_FIXTURE = (
    "CREATE"
    "(alice:User { name : 'Alice', born : 1984 }),"
    "(bob:User   { name : 'Bob',   born : 1983 }),"
    "(eve:User   { name : 'Eve',   born : 1984 }),"
    "(acme:Org   { name : 'Acme' }),"
    "(alice)-[:KNOWS {since : 2001}]->(bob),"
    "(bob)-[:KNOWS   {since : 2002}]->(alice),"
    "(bob)-[:KNOWS   {since : 2003}]->(eve),"
    "(alice)-[:WORKS_AT {role : 'eng'}]->(acme),"
    "(eve)-[:WORKS_AT {role : 'ops'}]->(acme)"
)


@pytest.fixture(scope="module")
def sp_chain_graph(spark):
    return cypher_create_graph(spark, SP_CHAIN_FIXTURE)


def test_shortest_path_comma_sibling(sp_chain_graph):
    df = cypher_read(
        sp_chain_graph,
        "MATCH p = shortestPath((a:User)-[:KNOWS*1..3]->(b:User)), "
        "(b)-[:WORKS_AT]->(o:Org) "
        "RETURN a.name AS a, b.name AS b, length(p) AS hops, o.name AS org "
        "ORDER BY a, b",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "Eve", 2, "Acme"),
        ("Bob", "Alice", 1, "Acme"),
        ("Bob", "Eve", 1, "Acme"),
    ]


def test_shortest_path_match_chain_clause(sp_chain_graph):
    df = cypher_read(
        sp_chain_graph,
        "MATCH p = shortestPath((a:User)-[:KNOWS*1..3]->(b:User)) "
        "MATCH (b)-[:WORKS_AT]->(o:Org) WHERE a.born = 1984 "
        "RETURN a.name AS a, b.name AS b, length(p) AS hops, o.name AS org "
        "ORDER BY a, b",
    )
    assert [tuple(r) for r in df.collect()] == [("Alice", "Eve", 2, "Acme")]


def test_shortest_path_chain_where_on_path_length(sp_chain_graph):
    # the chain WHERE sees the path accessor and every chain variable
    df = cypher_read(
        sp_chain_graph,
        "MATCH p = shortestPath((a:User)-[:KNOWS*1..3]->(b:User)), "
        "(b)-[:WORKS_AT]->(o:Org) "
        "WHERE o.name = 'Acme' AND length(p) >= 2 "
        "RETURN a.name AS a, b.name AS b, length(p) AS hops ORDER BY a, b",
    )
    assert [tuple(r) for r in df.collect()] == [("Alice", "Eve", 2)]


def test_shortest_path_chain_aggregation(sp_chain_graph):
    df = cypher_read(
        sp_chain_graph,
        "MATCH p = shortestPath((a:User)-[:KNOWS*1..3]->(b:User)) "
        "MATCH (b)-[:WORKS_AT]->(o:Org) "
        "RETURN o.name AS org, count(*) AS n, max(length(p)) AS maxhops",
    )
    assert [tuple(r) for r in df.collect()] == [("Acme", 3, 2)]


def test_shortest_path_chain_path_accessors(sp_chain_graph):
    df = cypher_read(
        sp_chain_graph,
        "MATCH p = shortestPath((a:User)-[:KNOWS*1..3]->(b:User)), "
        "(b)-[:WORKS_AT]->(o:Org) "
        "WHERE a.name = 'Alice' AND b.name = 'Eve' "
        "RETURN size(nodes(p)) AS n_nodes, o.name AS org",
    )
    assert [tuple(r) for r in df.collect()] == [(3, "Acme")]


def test_all_shortest_paths_chain_composition(sp_chain_graph):
    # allShortestPaths composes the same way (one row per tied path)
    df = cypher_read(
        sp_chain_graph,
        "MATCH p = allShortestPaths((a:User)-[:KNOWS*1..3]->(b:User)) "
        "MATCH (b)-[:WORKS_AT]->(o:Org) "
        "RETURN a.name AS a, b.name AS b, length(p) AS hops, o.name AS org "
        "ORDER BY a, b",
    )
    assert [tuple(r) for r in df.collect()] == [
        ("Alice", "Eve", 2, "Acme"),
        ("Bob", "Alice", 1, "Acme"),
        ("Bob", "Eve", 1, "Acme"),
    ]


def test_shortest_path_comma_overlapping_type_rejected(sp_chain_graph):
    # same-clause relationship uniqueness would interact with tie
    # selection, so a potentially overlapping sibling type stays loud
    with pytest.raises(CypherSyntaxError, match="disjoint"):
        cypher_read(
            sp_chain_graph,
            "MATCH p = shortestPath((a:User)-[:KNOWS*1..3]->(b:User)), "
            "(b)-[:KNOWS]->(c:User) RETURN a.name AS a",
        )
    with pytest.raises(CypherSyntaxError, match="disjoint"):
        cypher_read(
            sp_chain_graph,
            "MATCH p = shortestPath((a:User)-[:KNOWS*1..2]->(b:User)), "
            "(b)-[e]->(c) RETURN a.name AS a",
        )


#: one stored edge A->B plus a self-loop on A: an undirected one-hop
#: pattern anchored at A matches twice (the loop once), and a relationship
#: read from B's side keeps its stored endpoints
LOOP_FIXTURE = (
    "CREATE (a:U {name: 'A'}), (b:U {name: 'B'}), "
    "(a)-[:K {w: 1}]->(b), (a)-[:K {w: 2}]->(a)"
)


@pytest.fixture(scope="module")
def loop_graph(spark):
    return cypher_create_graph(spark, LOOP_FIXTURE)


@pytest.mark.parametrize(
    "query",
    [
        "MATCH (x:U {name: 'B'}) OPTIONAL MATCH (x)-[e]-(y) "
        "RETURN e.src AS s, e.dst AS d, e AS rel",
        "MATCH (x:U {name: 'B'}) WITH x MATCH (x)-[e]-(y) "
        "RETURN e.src AS s, e.dst AS d, e AS rel",
        "MATCH (x:U {name: 'B'}) WITH x CALL { WITH x MATCH (x)-[e]-(y) "
        "RETURN e.src AS s, e.dst AS d, e AS rel } RETURN s, d, rel",
    ],
    ids=["optional", "pipeline", "call"],
)
def test_undirected_expand_keeps_stored_endpoints(loop_graph, query):
    # every anchored form returns the relationship as stored, exactly like
    # plain MATCH: matching it against its direction swaps no endpoints
    def rows(q):
        return [
            (r["s"], r["d"], r["rel"].asDict())
            for r in cypher_read(loop_graph, q).collect()
        ]

    plain = rows(
        "MATCH (x:U {name: 'B'})-[e]-(y) "
        "RETURN e.src AS s, e.dst AS d, e AS rel"
    )
    assert [(s, d) for s, d, _ in plain] == [(0, 1)]
    assert rows(query) == plain


def test_undirected_subqueries_count_self_loop_once(loop_graph):
    # COUNT { } and pattern comprehensions expand like MATCH: the
    # self-loop is one match, not one per orientation
    def one(q):
        return cypher_read(loop_graph, q).collect()[0]["c"]

    assert one(
        "MATCH (x:U {name: 'A'})-[e:K]-(y) RETURN count(*) AS c"
    ) == 2
    assert one(
        "MATCH (x:U {name: 'A'}) RETURN COUNT { (x)-[:K]-() } AS c"
    ) == 2
    assert one(
        "MATCH (x:U {name: 'A'}) "
        "RETURN size([(x)-[e:K]-(y) | e.w]) AS c"
    ) == 2
    assert one(
        "MATCH (x:U {name: 'A'}) WITH x "
        "RETURN COUNT { (x)-[e:K]-(y) WHERE e.w > 0 } AS c"
    ) == 2


# -- literal batch frames ---------------------------------------------------


@pytest.mark.parametrize(
    "query,params",
    [
        ("UNWIND [{a: 1}, {a: 'x'}] AS r RETURN r.a AS a", None),
        ("UNWIND $rows AS r RETURN r.a AS a", {"rows": [{"a": 1}, {"a": "x"}]}),
        ("UNWIND $rows AS r RETURN r.a AS a", {"rows": [{"a": 2**63}]}),
        ("UNWIND [{a: null}, {a: null}] AS r RETURN r.a AS a", None),
        ("UNWIND [{a: 1}, {a: 2.5}] AS r RETURN r.a AS a", None),
    ],
    ids=["int-and-string", "param-int-and-string", "int-past-64-bits",
         "null-in-every-map", "int-and-float"],
)
def test_unwind_map_values_need_one_type(fixture_graph, query, params):
    # a key whose values fit no single column type is a typed error — never
    # a stringified '1' or a nulled 2^63
    with pytest.raises(CypherSyntaxError):
        cypher_read(fixture_graph, query, params).collect()


@pytest.mark.parametrize(
    "rows",
    [
        [{"v": 1}, {"v": "x"}],
        [{"v": 2**63}],
        [{"v": None}, {"v": None}],
        [{"v": []}],
        [{"v": 1}, {"v": 2.5}],
    ],
    ids=["int-and-string", "int-past-64-bits", "null-in-every-row",
         "empty-list", "int-and-float"],
)
def test_unwind_batch_values_need_one_type(fixture_graph, rows):
    with pytest.raises(CypherSyntaxError):
        cypher_write(
            fixture_graph,
            "UNWIND $rows AS r CREATE (n:T {v: r.v})",
            {"rows": rows},
        ).vertices.collect()


_BATCH_FAMILIES = {
    "unwind-map-list": lambda s, g: cypher_read(
        g, "UNWIND [{a: 1}, {a: 2}] AS r RETURN r.a AS a"
    ),
    "unwind-create": lambda s, g: cypher_write(
        g, "UNWIND $rows AS r CREATE (n:T {v: r.v})", {"rows": [{"v": 1}]}
    ),
    "merge": lambda s, g: cypher_write(
        g,
        "UNWIND $rows AS r MERGE (n:User {name: r.name}) SET n.tier = r.t",
        {"rows": [{"name": "Alice", "t": "gold"}, {"name": "Zed", "t": "new"}]},
    ),
    "merge-arms": lambda s, g: cypher_write(
        g,
        "UNWIND $rows AS r MERGE (n:User {name: r.name}) "
        "ON CREATE SET n.tier = r.t ON MATCH SET n.seen = r.t",
        {"rows": [{"name": "Alice", "t": "gold"}, {"name": "Zed", "t": "new"}]},
    ),
    "match-set": lambda s, g: cypher_write(
        g,
        "UNWIND $rows AS r MATCH (p) WHERE p.name = r.name SET p.w = r.w",
        {"rows": [{"name": "Alice", "w": 70}]},
    ),
    "delete": lambda s, g: cypher_write(
        g,
        "UNWIND $rows AS r MATCH (n:User {name: r.name}) DETACH DELETE n",
        {"rows": [{"name": "Eve"}]},
    ),
    "create-pattern": lambda s, g: cypher_create_graph(
        s, "CREATE (a:A {x: 1})-[:R {w: 2}]->(b:A {x: 3})"
    ),
    "from-rows": lambda s, g: PropertyGraph.from_rows(
        s,
        [(0, "User", "Alice"), (1, "User", "Bob")],
        "id long, label string, name string",
        [(0, 0, 1, "KNOWS")],
        "id long, src long, dst long, rel_type string",
    ),
}


@pytest.mark.parametrize("family", sorted(_BATCH_FAMILIES))
def test_literal_batches_are_local_relations(spark, fixture_graph, monkeypatch, family):
    # every driver-side batch reaches Spark as a LocalRelation: its scans
    # run in the JVM, with no Python worker behind a PythonRDD
    made = []
    create = type(spark).createDataFrame

    def recording(self, *args, **kwargs):
        df = create(self, *args, **kwargs)
        made.append(df)
        return df

    monkeypatch.setattr(type(spark), "createDataFrame", recording)
    _BATCH_FAMILIES[family](spark, fixture_graph)
    assert made
    for df in made:
        qe = df._jdf.queryExecution()
        assert qe.optimizedPlan().nodeName() == "LocalRelation"
        assert "PythonRDD" not in df._jdf.rdd().toDebugString()


def test_path_edges_memo_is_per_graph_frame(spark):
    # the path kernels checkpoint and count a graph's edges once: a second
    # shortestPath on the same graph skips those two jobs, and a write's
    # new graph walks its own, fresh edges
    g = cypher_create_graph(
        spark,
        "CREATE (a:U {name: 'a'})-[:K]->(b:U {name: 'b'})"
        "-[:K]->(c:U {name: 'c'})-[:K]->(d:U {name: 'd'})",
    )
    query = (
        "MATCH p = shortestPath((x:U)-[:K*]->(y:U)) "
        "WHERE x.name = 'a' AND y.name = 'd' RETURN length(p) AS n"
    )
    first = count_jobs(spark, lambda: cypher_read(g, query))
    second = count_jobs(spark, lambda: cypher_read(g, query))
    assert first - second == 2
    assert [r["n"] for r in cypher_read(g, query).collect()] == [3]
    g2 = cypher_write(
        g,
        "UNWIND $rows AS r MATCH (a:U {name: r.a}), (b:U {name: r.b}) "
        "CREATE (a)-[:K]->(b)",
        {"rows": [{"a": "a", "b": "d"}]},
    )
    assert [r["n"] for r in cypher_read(g2, query).collect()] == [1]
    assert [r["n"] for r in cypher_read(g, query).collect()] == [3]


def test_chained_creates_allocate_dense_ids(spark):
    # each write's id base is the max of the graph it writes to, so two
    # chained CREATEs stay dense above the second graph's maximum
    g = cypher_create_graph(spark, "CREATE (a:U {name: 'a'})-[:K]->(b:U {name: 'b'})")
    create = "UNWIND $rows AS r CREATE (n:U {name: r.name})"
    g1 = cypher_write(g, create, {"rows": [{"name": "c"}, {"name": "d"}]})
    g2 = cypher_write(g1, create, {"rows": [{"name": "e"}, {"name": "f"}]})
    ids = {r["name"]: r["id"] for r in g2.vertices.collect()}
    assert sorted(ids.values()) == list(range(6))
    assert {ids["e"], ids["f"]} == {4, 5}
    link = (
        "UNWIND $rows AS r MATCH (a:U {name: r.a}), (b:U {name: r.b}) "
        "CREATE (a)-[:K]->(b)"
    )
    g3 = cypher_write(g2, link, {"rows": [{"a": "c", "b": "d"}]})
    g4 = cypher_write(g3, link, {"rows": [{"a": "e", "b": "f"}]})
    assert sorted(r["id"] for r in g4.edges.collect()) == [0, 1, 2]


def test_where_binds_pattern_subqueries_nested_in_expressions(spark):
    # COUNT { } and pattern comprehensions bind wherever they sit in a
    # WHERE expression, CASE branches included
    g = cypher_create_graph(
        spark,
        "CREATE (a:U {name: 'a'}), (b:U {name: 'b'}), (c:U {name: 'c'}), "
        "(a)-[:K]->(b), (b)-[:K]->(c), (a)-[:K]->(c)",
    )

    def names(q):
        return sorted(r["name"] for r in cypher_read(g, q).collect())

    assert names(
        "MATCH (n:U) WHERE CASE WHEN COUNT { (n)-[:K]->() } > 0 "
        "THEN true ELSE false END RETURN n.name AS name"
    ) == ["a", "b"]
    assert names(
        "MATCH (n:U) WHERE CASE WHEN size([(n)-[:K]->(m) | m.name]) = 1 "
        "THEN true ELSE false END RETURN n.name AS name"
    ) == ["b"]
    g2 = cypher_write(
        g,
        "MATCH (n:U) WHERE CASE WHEN COUNT { (n)-[:K]->() } > 1 "
        "THEN true ELSE false END SET n.x = 1",
    )
    assert {r["name"]: r["x"] for r in g2.vertices.collect()} == {
        "a": 1, "b": None, "c": None,
    }
