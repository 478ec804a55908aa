"""Parser robustness: whatever the input, the Cypher front end either
answers or raises CypherSyntaxError — never IndexError/KeyError/
AttributeError from a parser state the grammar writer didn't foresee.
Hypothesis drives (a) raw garbage and (b) token-level mutations of the
reference's real queries (the adversarial neighborhood of valid syntax)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_neo4j_spark.cypher_frontend import (
    CypherSyntaxError,
    _Parser,
    _tokenize,
)

VALID_QUERIES = [
    "MATCH (n:User) RETURN id(n), n.name, n.born",
    "MATCH (a:User)-[e]->(b:User) RETURN id(e), id(a), id(b), e.since",
    "MATCH (n:User) WHERE n.name = 'Frank' OR n.name = 'Dave' "
    "RETURN n.name AS name ORDER BY name SKIP 1 LIMIT 2",
    "MATCH (n:User) WITH n.born AS born, count(DISTINCT n.name) AS c "
    "WHERE born = 1984 RETURN born, c ORDER BY born",
    "MATCH (n:User) RETURN labels(n) AS l, coalesce(n.x, n.name) AS d, "
    "size(n.name) AS s, n.born + 1 AS y",
    "MATCH (a:User)-[:KNOWS*1..2]->(b:User) RETURN a.name AS x, b.name AS y",
    "MATCH (a:User)<-[e:KNOWS]-(b:User) RETURN b.name AS f, e.since AS s",
    "MATCH (a:User)-[e:KNOWS]-(b:User) WHERE b.name =~ '[AB].*' "
    "RETURN a.name AS x, CASE WHEN e.since > 2001 THEN 'new' ELSE 'old' "
    "END AS k ORDER BY x",
    "MATCH (a:User {name:'Alice'})-[:KNOWS]->(b)-[:KNOWS]->(c), (c)-[:KNOWS]->(d) "
    "RETURN d.name AS dn",
    "MATCH (n:User) WHERE toLower(n.name) CONTAINS 'a' "
    "WITH n.name AS name, split(n.name, '_') AS parts UNWIND parts AS part "
    "RETURN name, part, size(part) AS len ORDER BY name",
    "UNWIND [1, 2, 3] AS x RETURN x * 2 AS y ORDER BY y",
    "MATCH (n:User) RETURN toUpper(substring(n.name, 0, 1)) AS ini, "
    "round(n.height, 1) AS h, coalesce(n.nick, replace(n.name, 'e', '3')) AS d",
    # round-5 surface: range / comprehensions / reduce / subscripts /
    # arithmetic WHERE / allShortestPaths
    "UNWIND range(1, 100) AS x WITH x * x AS sq RETURN count(*) AS n, "
    "sum(sq) AS s",
    "UNWIND range(10, 1, -3) AS x WITH x WHERE x % 2 = 0 RETURN x",
    "MATCH (n:User) RETURN n.name AS name, "
    "[w IN split(n.name, 'o') WHERE size(w) > 1 | toUpper(w)] AS ws "
    "ORDER BY name",
    "UNWIND [1, 2, 3] AS x RETURN [y IN range(1, x) | y * 10] AS ys, "
    "reduce(acc = 0, y IN [1, 2, 3] | acc + y) AS folded",
    "UNWIND [1] AS o RETURN [10, 20, 30][1] AS i, [10, 20, 30][-1] AS l, "
    "[10, 20, 30, 40][1..3] AS m, [10, 20][..1] AS h2, range(1, 9)[2..] AS t",
    "MATCH (n:User) WHERE n.born + 1 > 1984 * 1 "
    "RETURN n.name AS name ORDER BY name",
    "MATCH p = allShortestPaths((a:User)-[:KNOWS*1..3]-(b:User)) "
    "WHERE a.name = 'Alice' RETURN b.name AS bn, length(p) AS l, "
    "count(*) AS paths ORDER BY bn",
    # round-5 surface: pattern comprehensions + filtered EXISTS/COUNT
    # blocks
    "MATCH (n:User) RETURN n.name AS name, "
    "[(n)-[e:KNOWS]->(f) WHERE e.since > 2001 | f.name] AS late, "
    "size([(n)<-[:KNOWS]-(f) | f.born]) AS deg ORDER BY name",
    "MATCH (n:User) WHERE EXISTS { (n)-[e:KNOWS]->(f) WHERE f.born < 1984 "
    "} RETURN n.name AS name",
    "MATCH (n:User) RETURN n.name AS name, "
    "COUNT { (n)-[e:KNOWS]-(f) WHERE f.trust } AS trusted ORDER BY name",
    "MATCH (n:User) WHERE COUNT { (n)-[:KNOWS]-() } >= 2 "
    "OR size([(n)-[:KNOWS]->(f) | f.name]) = 0 "
    "RETURN n.name AS name ORDER BY name",
    "MATCH (n:User) WHERE 'a' IN split(n.name, 'x') "
    "RETURN n.name AS name, {name: n.name, next: n.born + 1} AS rec "
    "ORDER BY name",
    "MATCH (a:User)-[e:KNOWS|LIKES]->(b:User) "
    "RETURN a.name AS x, b.name AS y ORDER BY x",
    # round-5/6 surface: XOR chains (Neo4j precedence), exponentiation,
    # chained comparisons, overloaded + (string/list concat)
    "MATCH (n:User) WHERE n.trust XOR n.born > 1983 "
    "RETURN n.name AS name ORDER BY name",
    "MATCH (n:User) WHERE (n.trust XOR n.born > 1983) AND n.name <> 'x' "
    "RETURN n.name AS name ORDER BY name",
    "UNWIND [1, 2, 3] AS x WITH x WHERE 1 < x <= 3 "
    "RETURN x ^ 2 AS sq, 2 ^ x AS p2 ORDER BY sq",
    "MATCH (c:User) WITH c.name + '@' + 'host' AS addr, "
    "split(c.name, '#') + ['tail'] AS toks "
    "RETURN addr, toks, size(toks) AS n ORDER BY addr",
    # map projections + map literals + temporal component maps
    "MATCH (n:User) RETURN n {.name, .born} AS proj, "
    "{a: 1, b: [1, 2], c: {d: n.name}} AS lit ORDER BY proj",
    "UNWIND ['2024-02-29', 'nope'] AS s "
    "RETURN date(s) AS d, date({year: 2024, month: 2, day: 29}) AS built, "
    "datetime.truncate('month', datetime('2024-02-29T12:30:00')) AS tr",
    "UNWIND ['2024-01-01'] AS s WITH date(s) AS d "
    "RETURN d.year AS y, d.quarter AS q, d.ordinalDay AS doy, "
    "d.dayOfWeek AS dow, duration.inDays(d, date('2024-03-01')) AS dur",
    # ordered collect + slices + DISTINCT-after-deferred-sort
    "MATCH (c:User)-[e:KNOWS]->(n:User) WITH n, c ORDER BY c.name DESC "
    "WITH n.name AS nation, collect(c.name) AS members "
    "RETURN nation, members[0..5] AS top5, size(members) AS n_c "
    "ORDER BY nation",
    "UNWIND [1, 3, 2, 3] AS v WITH v ORDER BY v DESC "
    "RETURN DISTINCT v LIMIT 2",
    # named paths + accessors (nodes/relationships carry arrays)
    "MATCH p = shortestPath((a:User)-[:KNOWS*1..3]->(b:User)) "
    "WHERE b.name = 'Dave' RETURN a.name AS an, length(p) AS l, "
    "nodes(p) AS ns, relationships(p) AS rs ORDER BY an",
    "MATCH p = (a:User)-[:KNOWS*2..2]->(b:User) "
    "RETURN nodes(p) AS ns, relationships(p) AS rs, length(p) AS l",
    "MATCH p = (a:User)-[:KNOWS*1..2]->(b:User) "
    "WHERE a.name = 'Alice' RETURN length(p) AS l ORDER BY l",
    # reduce() over collect, postfix field access, IN over list exprs
    "MATCH (c:User)-[e:KNOWS]->(n:User) "
    "WITH n.name AS g, collect(c.name) AS names "
    "WHERE 'Alice' IN names OR size(names) >= 0 "
    "RETURN g, names[0] AS first_c, "
    "reduce(acc = 0, x IN names | acc + size(x)) AS chars ORDER BY g",
    # pattern comprehension inside size() inside arithmetic
    "MATCH (n:User) WHERE size([(n)-[:KNOWS]->(f) | f.name]) * 2 >= 2 "
    "RETURN n.name AS name ORDER BY name",
    # list quantifier predicates + isEmpty + math surface (X220)
    "MATCH (n:User) WHERE any(x IN split(n.name, 'e') WHERE size(x) >= 3) "
    "RETURN n.name AS name, all(x IN split(n.name, '_') WHERE size(x) > 0) "
    "AS al, none(x IN split(n.name, 'e') WHERE x = 'q') AS no, "
    "single(x IN split(n.name, 'e') WHERE size(x) > 1) AS si ORDER BY name",
    "UNWIND [1] AS o RETURN isEmpty([x IN [1, 2] WHERE x > 5]) AS e, "
    "round(log10(100) + sin(pi() / 2) + atan2(1, 1) - e(), 6) AS m",
    "UNWIND [1] AS o RETURN tail([1, 2, 3]) AS t, "
    "date('2024-01-31') + duration({months: 1, days: 2}) AS d, "
    "duration({weeks: 1}) + duration({days: 1}) AS dd",
    "MATCH (n:User) RETURN n.name AS name, n.nick IS NOT NULL AS hn, "
    "n.born IS NULL AS nb ORDER BY name",
    # unanchored pipeline MATCH (parameter-batch lookup)
    "UNWIND [1983, 1984] AS y MATCH (n:User) WHERE n.born = y "
    "RETURN y, n.name AS name ORDER BY y, name",
    # legacy exists() + endpoint-id accessors
    "MATCH (a:User)-[e:KNOWS]->(b:User) WHERE exists(a.born) "
    "RETURN id(startNode(e)) AS s, id(endNode(e)) AS d ORDER BY s",
]


def _parse_only(query: str) -> None:
    """Drive the read grammar without a graph: tokenise and run the parser
    entry points used by cypher_read (UNWIND source or pattern seq, WHERE,
    WITH/UNWIND stages, RETURN, tail) — the same clause order _read_single
    and _finish_read use, minus translation."""
    from flink_neo4j_spark.cypher_frontend import _Parser, _tokenize

    p = _Parser(_tokenize(query))
    if p.at("kw", "UNWIND"):
        p.next()
        if p.at("word") and p.peek().text == "range":
            p.next()
            p.expect("punct", "(")
            while True:
                p.parse_value(None)
                if p.at("punct", ","):
                    p.next()
                    continue
                break
            p.expect("punct", ")")
        else:
            p.expect("punct", "[")
            if not p.at("punct", "]"):
                while True:
                    p.parse_value(None)
                    if p.at("punct", ","):
                        p.next()
                        continue
                    break
            p.expect("punct", "]")
        p.expect("kw", "AS")
        p.expect("word")
        bare = True
    else:
        p.expect("kw", "MATCH")
        if (
            p.at("word")
            and p.peek(1) is not None
            and p.peek(1).text == "="
            and p.peek(2) is not None
            and p.peek(2).kind == "word"
            and p.peek(2).text in ("shortestPath", "allShortestPaths")
        ):
            p.next(), p.next(), p.next()
            p.expect("punct", "(")
            p.parse_pattern()
            p.expect("punct", ")")
        elif (
            p.at("word")
            and p.peek(1) is not None
            and p.peek(1).text == "="
            and p.peek(2) is not None
            and p.peek(2).kind == "punct"
            and p.peek(2).text == "("
        ):
            # named plain var-length path: MATCH p = (a)-[:T*lo..hi]->(b)
            p.next(), p.next()
            p.parse_pattern()
        else:
            p.parse_pattern_seq()
        if p.at("kw", "WHERE"):
            p.next()
            p.parse_where()
        bare = False
    while p.at("kw", "WITH") or p.at("kw", "UNWIND"):
        if p.at("kw", "UNWIND"):
            p.next()
            p.parse_return_expr(allow_bare=True)
            p.expect("kw", "AS")
            p.expect("word")
            continue
        p.next()
        p.parse_return(allow_bare=bare)
        p.parse_tail(require_end=False, allow_bare=bare)
        if p.at("kw", "WHERE"):
            p.next()
            p.parse_where(allow_bare=True)
        bare = True
    p.expect("kw", "RETURN")
    p.parse_return(allow_bare=bare)
    p.parse_tail(require_end=True, allow_bare=bare)


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.text(min_size=0, max_size=80))
def test_garbage_never_crashes_the_parser(s):
    try:
        _parse_only(s)
    except CypherSyntaxError:
        pass  # the contract: loud, typed syntax errors only


#: Cypher-vocabulary token soup reaches far deeper parser states than
#: character noise: every draw is a lexable token, so failures happen in
#: the grammar, not the tokenizer.
_TOKEN_SOUP = st.lists(
    st.sampled_from(
        [
            "MATCH", "RETURN", "WHERE", "WITH", "AS", "ORDER", "BY", "SKIP",
            "LIMIT", "DISTINCT", "AND", "OR", "NOT", "IN", "IS", "NULL",
            "STARTS", "ENDS", "CONTAINS", "count", "sum", "collect",
            "coalesce", "size", "labels", "type", "toLower", "id",
            "shortestPath", "length", "n", "a", "b", "e", "p", "User",
            "KNOWS", "name", "born", "(", ")", "[", "]", "{", "}", ":", ",",
            ".", "*", "=", "<>", "<", ">=", "+", "-", "/", "%", "$", "-[",
            "]->", "'x'", "1", "2.5", "-3", "1..2",
            # round-4 surface: directions, CASE, regex, inline maps,
            # chains, UNWIND, scalar functions
            "<-[", "]-", "CASE", "WHEN", "THEN", "ELSE", "END", "=~",
            "UNWIND", "AS", "substring", "split", "replace", "round",
            "toInteger", "head", "left", "EXISTS", "OPTIONAL",
            # round-5 surface: list expressions, folds, subscripts, paths
            "range", "reduce", "|", "..", "allShortestPaths", "acc",
            "[1..3]", "[0]", "[-1]",
            # round-7 surface: unbounded/zero-length hop specs, arms,
            # points, durations, quantifiers
            "*0..", "*2..", "*..3", "*0..1", "ON", "MERGE", "SET",
            "REMOVE", "point", "duration", "isEmpty", "any", "all",
            "none", "single", "nodes", "relationships",
        ]
    ),
    min_size=0,
    max_size=25,
)


@settings(max_examples=500, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_TOKEN_SOUP)
def test_token_soup_never_crashes_the_parser(tokens):
    try:
        _parse_only(" ".join(tokens))
    except CypherSyntaxError:
        pass


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.sampled_from(VALID_QUERIES),
    st.integers(min_value=0, max_value=200),
    st.sampled_from(["delete", "dup", "swap"]),
)
def test_token_mutations_never_crash_the_parser(query, pos, mode):
    toks = query.split(" ")
    pos %= max(len(toks), 1)
    if mode == "delete":
        mutated = toks[:pos] + toks[pos + 1 :]
    elif mode == "dup":
        mutated = toks[:pos] + [toks[pos]] + toks[pos:]
    else:
        j = (pos + 1) % len(toks)
        toks[pos], toks[j] = toks[j], toks[pos]
        mutated = toks
    try:
        _parse_only(" ".join(mutated))
    except CypherSyntaxError:
        pass


# --- execution-level fuzz: round-6/7 grammar through the REAL translator ---
#
# _parse_only cannot drive CALL { } stages, label mutations, or edge
# writes; these corpora go through cypher_read/cypher_write on a tiny
# fixture so TRANSLATION-time states get fuzzed too. Contract: success,
# CypherSyntaxError, or (writes only) the documented ValueError contracts
# — never IndexError/KeyError/AttributeError.

#: read surface (X218 spatial, X220 quantifiers, X223 temporal arith,
#: X224 unanchored lookup, X230 MATCH-after-pattern, X231 ORDER BY expr,
#: X232 computed map projections, X235 CALL-subquery top-k). Translation
#: is LAZY for all of these (no eager BFS loops) so mutations stay cheap.
EXEC_READ_CORPUS = [
    "UNWIND [1] AS o WITH point({x: 1.0, y: 2.0}) AS p1, "
    "point({longitude: 12.5, latitude: 55.7}) AS p2 "
    "RETURN p1.x AS x, point.distance(p1, point({x: 4.0, y: 6.0})) AS d, "
    "p2.crs AS crs",
    "MATCH (n:User) WHERE point.withinBBox(point({x: n.born, y: 1.0}), "
    "point({x: 1980, y: 0.0}), point({x: 1990, y: 2.0})) "
    "RETURN n.name AS name ORDER BY name",
    "MATCH (n:User) WHERE any(x IN split(n.name, 'e') WHERE size(x) >= 3) "
    "RETURN single(x IN split(n.name, '_') WHERE size(x) > 1) AS si, "
    "isEmpty(split(n.name, 'q')) AS ie ORDER BY si",
    "UNWIND [1, 2] AS k RETURN date('2024-01-31') + duration({days: k}) "
    "AS d, duration({weeks: 1}) + duration({days: k}) AS dd, "
    "date('2024-03-10') - duration({months: 1}) AS back",
    "UNWIND [1983, 1984] AS y MATCH (n:User) WHERE n.born = y "
    "RETURN y, count(*) AS c ORDER BY y",
    "MATCH (c:User) WITH c CALL { WITH c MATCH (c)-[e:KNOWS]->(m:User) "
    "RETURN m.name AS fn ORDER BY m.name LIMIT 1 } "
    "RETURN c.name AS cn, fn ORDER BY cn",
    "MATCH (c:User) CALL { WITH c MATCH (c)-[e:KNOWS]->(m:User) "
    "RETURN m.name AS fn, e.since AS fs ORDER BY e.since DESC LIMIT 2 } "
    "RETURN c.name AS cn, fn, fs ORDER BY cn, fn",
    "MATCH (n:User) RETURN properties(n) AS p ORDER BY n.name",
    # undirected subquery / comprehension / CALL sides and a stage-WHERE
    # pattern predicate: every anchored one-hop form
    "MATCH (n:User) RETURN n.name AS name, "
    "COUNT { (n)-[e:KNOWS]-(f) WHERE f.born > 1983 } AS c ORDER BY name",
    "MATCH (n:User) RETURN n.name AS name, "
    "[(n)-[e:KNOWS]-(f) WHERE e.since > 2000 | f.name] AS fs ORDER BY name",
    "MATCH (n:User) WITH n, n.born AS b "
    "WHERE b > 1980 AND (n)-[:KNOWS]->() RETURN n.name AS name ORDER BY name",
    "MATCH (c:User) WITH c CALL { WITH c MATCH (c)-[e:KNOWS]-(m:User) "
    "RETURN count(*) AS k } RETURN c.name AS cn, k ORDER BY cn",
    # the one CALL ORDER BY resolver (DISTINCT + projected expression,
    # plain + unprojected key) and a pipeline OPTIONAL MATCH whose bound
    # endpoint carries an inline map (the anchored-clause compiler)
    "MATCH (c:User) WITH c CALL { WITH c MATCH (c)-[e:KNOWS]-(m:User) "
    "RETURN DISTINCT m.name AS fn ORDER BY m.name DESC LIMIT 1 } "
    "RETURN c.name AS cn, fn ORDER BY cn",
    "MATCH (c:User) WITH c CALL { WITH c MATCH (c)-[e:KNOWS]->(m:User) "
    "RETURN m.name AS fn ORDER BY m.born DESC LIMIT 1 } "
    "RETURN c.name AS cn, fn ORDER BY cn",
    "MATCH (n:User) WITH n OPTIONAL MATCH (n {trust: true})-[e:KNOWS]->(m) "
    "RETURN n.name AS nm, m.name AS fr ORDER BY nm",
    "MATCH (n:User) RETURN n {.name, yr: n.born + 1, "
    "ini: toUpper(left(n.name, 1))} AS rec ORDER BY n.name",
    "MATCH (n:User) SET n.x = 1" if False else
    "MATCH (n:User) WHERE n.trust XOR n.born > 1983 "
    "RETURN datetime.truncate('hour', datetime('2024-02-29T12:30:00')) "
    "AS tr, n.name AS name ORDER BY name",
]

#: write surface (X184 label mutation, X176 bare SET, X237 edge writes).
#: Plain bare node DELETE is excluded: its still-has-relationships check
#: runs an eager count per attempt (a Spark job per hypothesis example);
#: DETACH DELETE runs none.
EXEC_WRITE_CORPUS = [
    "MATCH (n:User) WHERE n.born = 1984 SET n:Archived:Vip, n.flag = true",
    "MATCH (n:User {name: 'Alice'}) REMOVE n:User",
    "MATCH (n:User) SET n += {tag: 'x', born: null}",
    "MATCH (n:User) WHERE n.trust SET n = {name: 'anon'}",
    "MATCH ()-[e:KNOWS]->() WHERE e.since > 2001 SET e.w = e.since + 1",
    "MATCH (a:User)-[e:KNOWS]->(b:User) WHERE b.name = 'Bob' REMOVE e.since",
    "MATCH ()-[e:KNOWS {since: 2001}]->() SET e += {w: 2, note: 'dup'}",
    "MATCH ()-[e:KNOWS]->() DELETE e",
    # bare writes whose WHERE needs the read scope
    "MATCH (n:User) WHERE (n)-[:KNOWS]->() SET n.flag = true",
    "MATCH (n:User) WHERE COUNT { (n)-[:KNOWS]->() } = 0 DETACH DELETE n",
    "MATCH (a:User)-[e:KNOWS]->(b) WHERE (b)-[:KNOWS]->() SET e.w = 1",
    "FOREACH (i IN [1, 2.5] | CREATE (:Batch {n: i, sq: i * i}))",
    # the UNWIND batch forms, all fed WRITE_ROWS
    "UNWIND $rows AS r MATCH (p) WHERE p.name = r.name "
    "SET p.born = r.born, p.tag = r.tag",
    "UNWIND $rows AS r MERGE (n:User {name: r.name}) "
    "ON CREATE SET n.born = r.born ON MATCH SET n.tag = r.tag SET n.seen = true",
    "UNWIND $rows AS r MATCH (a:User {name: r.name}), (b:User {name: r.peer}) "
    "MERGE (a)-[e:KNOWS]->(b) ON CREATE SET e.since = r.born "
    "ON MATCH SET e.tag = r.tag",
]

#: the one parameter batch every write-corpus entry runs with, so each
#: MERGE takes both arms: Alice and Alice→Bob exist (ON MATCH), Eve→Alice
#: and Zed do not (ON CREATE; Zed→Eve has no Zed endpoint to match)
WRITE_ROWS = {
    "rows": [
        {"name": "Alice", "peer": "Bob", "born": 1990, "tag": "x"},
        {"name": "Eve", "peer": "Alice", "born": 1985, "tag": "y"},
        {"name": "Zed", "peer": "Eve", "born": 2000, "tag": "z"},
    ]
}


@pytest.fixture(scope="module")
def fuzz_graph(spark):
    from flink_neo4j_spark.cypher_frontend import cypher_create_graph

    return cypher_create_graph(
        spark,
        "CREATE (a:User {name:'Alice', born: 1984, trust: true}), "
        "(b:User {name:'Bob', born: 1983, trust: true}), "
        "(e:User {name:'Eve', born: 1984, trust: false}), "
        "(a)-[:KNOWS {since: 2001}]->(b), (b)-[:KNOWS {since: 2002}]->(a)",
    )


def test_exec_corpus_originals_translate_clean(fuzz_graph):
    # every corpus entry must go through the real translator unmutated
    # (otherwise its mutations fuzz nothing)
    from flink_neo4j_spark.cypher_frontend import cypher_read, cypher_write

    for q in EXEC_READ_CORPUS:
        cypher_read(fuzz_graph, q)
    for q in EXEC_WRITE_CORPUS:
        cypher_write(fuzz_graph, q, WRITE_ROWS)
    # the eager-translation round-7 forms run once here, outside hypothesis
    # (each translation drives the BFS/expansion loop — jobs, not lazy)
    rows = cypher_read(
        fuzz_graph,
        "MATCH p = (a:User)-[:KNOWS*]->(b:User) "
        "RETURN a.name AS an, length(p) AS l ORDER BY an, l",
    ).collect()
    assert len(rows) == 4
    cypher_read(
        fuzz_graph,
        "MATCH p = allShortestPaths((a:User)-[:KNOWS*]->(b:User)) "
        "RETURN size(nodes(p)) AS nn ORDER BY nn",
    ).collect()


def _mutate(query: str, pos: int, mode: str) -> str:
    toks = query.split(" ")
    pos %= max(len(toks), 1)
    if mode == "delete":
        toks = toks[:pos] + toks[pos + 1 :]
    elif mode == "dup":
        toks = toks[:pos] + [toks[pos]] + toks[pos:]
    else:
        j = (pos + 1) % len(toks)
        toks[pos], toks[j] = toks[j], toks[pos]
    return " ".join(toks)


@settings(
    max_examples=120, deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)
@given(
    st.sampled_from(EXEC_READ_CORPUS),
    st.integers(min_value=0, max_value=200),
    st.sampled_from(["delete", "dup", "swap"]),
)
def test_read_translation_mutations_stay_typed(fuzz_graph, query, pos, mode):
    from flink_neo4j_spark.cypher_frontend import cypher_read

    try:
        cypher_read(fuzz_graph, _mutate(query, pos, mode))
    except CypherSyntaxError:
        pass


@settings(
    max_examples=120, deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)
@given(
    st.sampled_from(EXEC_WRITE_CORPUS),
    st.integers(min_value=0, max_value=200),
    st.sampled_from(["delete", "dup", "swap"]),
)
def test_write_translation_mutations_stay_typed(fuzz_graph, query, pos, mode):
    from flink_neo4j_spark.cypher_frontend import cypher_write

    try:
        cypher_write(fuzz_graph, _mutate(query, pos, mode), WRITE_ROWS)
    except (CypherSyntaxError, ValueError):
        # ValueError: the documented write contracts (DELETE with
        # incident relationships, malformed batch shapes) — loud + typed
        pass
