"""PropertyGraph tests over the reference's own fixture
(`Neo4jFormatTest.java:14-19`): scans, patterns, mutations, degrees,
parquet persistence, and the full Cypher-connector round trip."""

from __future__ import annotations

import pytest

from flink_neo4j_spark.graph import PropertyGraph
from flink_neo4j_spark.sources.transport import FileTransport

V_ROWS = [
    (0, "User", "Alice", 1984, 1.72, True),
    (1, "User", "Bob", 1983, 1.81, True),
    (2, "User", "Eve", 1984, 1.62, False),
]
V_SCHEMA = "id long, label string, name string, born int, height double, trust boolean"
E_ROWS = [(0, 0, 1, "KNOWS", 2001), (1, 1, 0, "KNOWS", 2002)]
E_SCHEMA = "id long, src long, dst long, rel_type string, since int"


@pytest.fixture
def graph(spark):
    return PropertyGraph.from_rows(spark, V_ROWS, V_SCHEMA, E_ROWS, E_SCHEMA)


def test_node_scan_counts_and_values(graph):
    # InTest:72-73 asserts 3 vertices; :81-88 asserts field values
    rows = graph.nodes("User", "name", "born").orderBy("id").collect()
    assert len(rows) == 3
    assert [tuple(r) for r in rows] == [(0, "Alice", 1984), (1, "Bob", 1983), (2, "Eve", 1984)]


def test_edge_scan(graph):
    rows = graph.relationships("KNOWS", "User", "User", "since").orderBy("id").collect()
    assert [tuple(r) for r in rows] == [(0, 0, 1, 2001), (1, 1, 0, 2002)]


def test_unlabeled_match(graph):
    assert graph.nodes().count() == 3  # MATCH (p) — B8


def test_expand_one_hop(graph):
    df = graph.expand("User", "KNOWS", "User")
    rows = df.orderBy("id").select("a_name", "b_name", "since").collect()
    assert [tuple(r) for r in rows] == [("Alice", "Bob", 2001), ("Bob", "Alice", 2002)]


def test_create_nodes_allocates_fresh_ids(spark, graph):
    batch = spark.createDataFrame(
        [("Frank", 1982, 1.84, True), ("Dave", 1976, 1.82, True)],
        "name string, born int, height double, trust boolean",
    )
    g2 = graph.create_nodes(batch, "User")
    assert g2.nodes("User").count() == 5
    ids = [r["id"] for r in g2.vertices.select("id").collect()]
    assert len(set(ids)) == 5  # no collisions with existing ids


def test_update_nodes_new_column_and_untouched_rows(spark, graph):
    upd = spark.createDataFrame(
        [("Alice", 42, 1.74, False)], "name string, weight int, height double, trust boolean"
    )
    g2 = graph.update_nodes(upd, "name")
    alice = g2.vertices.filter("name = 'Alice'").first()
    assert alice["weight"] == 42 and alice["trust"] is False
    assert abs(alice["height"] - 1.74) < 1e-9
    bob = g2.vertices.filter("name = 'Bob'").first()
    assert bob["weight"] is None  # B5: missing property reads as null
    assert abs(bob["height"] - 1.81) < 1e-9


def test_update_nodes_null_clears_property(spark, graph):
    """Neo4j parity: ``SET n.p = null`` REMOVES the property — a matched
    row carrying a null update must read back null (not keep the old
    value), while unmatched rows are untouched."""
    upd = spark.createDataFrame(
        [("Alice", None, 2.0)], "name string, born int, height double"
    )
    g2 = graph.update_nodes(upd, "name")
    alice = g2.vertices.filter("name = 'Alice'").first()
    assert alice["born"] is None  # null update applied, not coalesced away
    assert abs(alice["height"] - 2.0) < 1e-9
    bob = g2.vertices.filter("name = 'Bob'").first()
    assert bob["born"] is not None  # unmatched row keeps its value


def test_degrees(graph):
    out = {r["vid"]: r["degree"] for r in graph.degrees("out").collect()}
    assert out == {0: 1, 1: 1}
    both = {r["vid"]: r["degree"] for r in graph.degrees("both").collect()}
    assert both == {0: 2, 1: 2}


def test_parquet_round_trip(graph, spark, tmp_path):
    path = str(tmp_path / "g")
    graph.write_parquet(path)
    g2 = PropertyGraph.read_parquet(spark, path)
    assert g2.vertices.count() == 3 and g2.edges.count() == 2
    assert set(g2.vertices.columns) == set(graph.vertices.columns)


def test_cypher_round_trip(graph, spark, tmp_path):
    """Sink the fixture graph, read it back via two Cypher scans — the
    reference's InTest read pattern composed with OutTest's write."""
    spool = str(tmp_path / "spool")

    class GraphTransport(FileTransport):
        def run(self, statement, rows=None):
            out = super().run(statement, rows)
            if rows is None:
                want_edges = "-[" in statement
                return [
                    r
                    for r in out
                    if ("src" in r) == want_edges
                ]
            return out

    def factory():
        return GraphTransport(spool)

    graph.to_cypher(factory, batch_size=2)
    g2 = PropertyGraph.from_cypher(
        spark,
        factory,
        "MATCH (n:User) RETURN id(n), n.name, n.born, n.height, n.trust",
        "id long, name string, born int, height double, trust boolean",
        "MATCH (a:User)-[e]->(b:User) RETURN id(e), id(a), id(b), e.since",
        "id long, src long, dst long, since int",
        default_label="User",
        default_rel_type="KNOWS",
    )
    g3 = g2
    assert sorted(tuple(r) for r in g3.nodes("User", "name", "born").collect()) == [
        (0, "Alice", 1984),
        (1, "Bob", 1983),
        (2, "Eve", 1984),
    ]
    assert g3.edges.count() == 2


def test_missing_required_columns(spark):
    import pyspark

    with pytest.raises(ValueError, match="missing required"):
        PropertyGraph(
            spark.createDataFrame([(1,)], "id long"),
            spark.createDataFrame([(1, 0, 1, "X")], "id long, src long, dst long, rel_type string"),
        )


def test_delete_nodes_plain_refuses_with_relationships(spark, graph):
    doomed = spark.createDataFrame([(0,)], "id long")  # Alice has KNOWS edges
    with pytest.raises(ValueError, match="DETACH"):
        graph.delete_nodes(doomed)


def test_delete_nodes_plain_on_isolated_vertex(spark, graph):
    doomed = spark.createDataFrame([(2,)], "id long")  # Eve has no edges
    g2 = graph.delete_nodes(doomed)
    assert sorted(r.id for r in g2.vertices.collect()) == [0, 1]
    assert g2.edges.count() == 2


def test_detach_delete_removes_incident_edges(spark, graph):
    doomed = spark.createDataFrame([(0,)], "id long")
    g2 = graph.delete_nodes(doomed, detach=True)
    assert sorted(r.id for r in g2.vertices.collect()) == [1, 2]
    assert g2.edges.count() == 0  # both KNOWS edges touched Alice


def test_delete_edges(spark, graph):
    g2 = graph.delete_edges(spark.createDataFrame([(0,)], "id long"))
    assert [r.id for r in g2.edges.collect()] == [1]
    assert g2.vertices.count() == 3


def test_unwind_delete_template():
    from flink_neo4j_spark.sources.cypher import unwind_delete_template

    assert (
        unwind_delete_template("User", "name", detach=True)
        == "UNWIND $rows AS r MATCH (n:User {name: r.name}) DETACH DELETE n"
    )
    assert unwind_delete_template("User", "name").endswith(" DELETE n")
    with pytest.raises(ValueError):
        unwind_delete_template("User`) DETACH DELETE (m", "name")


def test_merge_nodes_updates_inserts_and_new_column(spark, graph):
    """merge_nodes: matched keys update (new column created for all rows,
    null elsewhere), unmatched keys insert with fresh ids."""
    batch = spark.createDataFrame(
        [("Alice", "gold"), ("Zed", "silver")], "name string, tier string"
    )
    g2 = graph.merge_nodes(batch, "User", "name")
    rows = {r["name"]: r for r in g2.vertices.collect()}
    assert set(rows) == {"Alice", "Bob", "Eve", "Zed"}
    assert rows["Alice"]["tier"] == "gold"
    assert rows["Alice"]["id"] == 0            # updated in place
    assert rows["Bob"]["tier"] is None         # untouched rows: null new col
    assert rows["Bob"]["born"] == 1983
    assert rows["Zed"]["tier"] == "silver"
    assert rows["Zed"]["id"] > 2               # fresh id
    assert g2.edges.count() == 2               # edges untouched


def test_merge_nodes_label_scoped(spark, graph):
    """A matching key under a DIFFERENT label must not be updated; the row
    inserts under the merge label instead (Cypher MERGE label semantics)."""
    base = PropertyGraph(
        graph.vertices.unionByName(
            spark.createDataFrame(
                [(10, "Bot", "Alice", 2020, 0.0, False)], V_SCHEMA
            )
        ),
        graph.edges,
    )
    batch = spark.createDataFrame([("Alice", 1999)], "name string, born int")
    g2 = base.merge_nodes(batch, "Bot", "name")
    by_label = {
        (r["label"], r["name"]): r for r in g2.vertices.collect()
    }
    assert by_label[("Bot", "Alice")]["born"] == 1999    # Bot Alice updated
    assert by_label[("User", "Alice")]["born"] == 1984   # User Alice untouched


def test_merge_nodes_null_set_clears(spark, graph):
    """SET n.trust = null through merge clears the property on match
    (Neo4j SET-null-removes semantics, as update_nodes)."""
    batch = spark.createDataFrame(
        [("Alice", None)], "name string, trust boolean"
    )
    g2 = graph.merge_nodes(batch, "User", "name")
    rows = {r["name"]: r for r in g2.vertices.collect()}
    assert rows["Alice"]["trust"] is None
    assert rows["Bob"]["trust"] is True


def test_merge_nodes_unknown_key_raises(spark, graph):
    batch = spark.createDataFrame([("x",)], "nope string")
    with pytest.raises(ValueError, match="merge key"):
        graph.merge_nodes(batch, "User", "nope")


def test_update_nodes_rejects_structural_batch_columns(spark, graph):
    # a batch column named like a structural column would overwrite it:
    # a `label` column re-labelled Alice
    relabel = spark.createDataFrame([("Alice", "X")], "name string, label string")
    with pytest.raises(ValueError, match="structural"):
        graph.update_nodes(relabel, "name")
    with pytest.raises(ValueError, match="structural"):
        graph.merge_nodes(relabel, "User", "name")
    assert graph.update_nodes(
        spark.createDataFrame([(0, 7)], "id long, w int"), "id"
    ).vertices.filter("id = 0").collect()[0]["w"] == 7
