"""Property-graph model: labeled vertices + typed edges as DataFrames.

The reference queries a Neo4j property graph through opaque Cypher strings
(`Neo4jInputFormat.java:57-76`); its test fixture is 3 ``:User`` nodes and 2
``:KNOWS`` edges (`Neo4jFormatTest.java:14-19`). This module owns those
semantics natively: the graph is two DataFrames,

- ``vertices(id: long, label: string, <props...>)``
- ``edges(id: long, src: long, dst: long, rel_type: string, <props...>)``

(the GraphFrames convention — SURVEY.md §1.1). Pattern matching is expressed
as scans/filters/joins so Catalyst plans them: a node scan is a filtered
projection with the label predicate pushed to the parquet scan; an edge
pattern is two equi-joins that AQE turns into broadcast joins whenever a side
is small. Nothing here collects to the driver; everything scales with
partitioning of the underlying V/E tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

VERTEX_REQUIRED = ("id", "label")
EDGE_REQUIRED = ("id", "src", "dst", "rel_type")

#: Optional vertex column carrying labels ADDED after construction
#: (``SET n:L``). The model is primary-label + extra-label set: loaders
#: produce single-label vertices (``label`` stays the partition/pruning
#: column — the 100 TB label index), and Cypher's additive label
#: mutations grow this array instead of overwriting the primary. A
#: vertex "has" label L when L is its primary OR in its extras;
#: ``labels(n)`` reads primary-then-extras in addition order.
EXTRA_LABELS = "extra_labels"

#: Structural columns — identity, endpoints, labels and type, never user
#: properties. No property write may assign them, and property listings
#: (``keys(n)``, map projections, whole-variable structs) skip them.
VERTEX_STRUCTURAL = (*VERTEX_REQUIRED, EXTRA_LABELS)
EDGE_STRUCTURAL = EDGE_REQUIRED
STRUCTURAL = frozenset(VERTEX_STRUCTURAL + EDGE_STRUCTURAL)


def label_cond(df: DataFrame, label: str) -> Column:
    """Label-membership predicate honoring the multi-label model.

    Single-label graphs (no ``extra_labels`` column — every loader's
    output, and the common case) keep the plain equality, which pushes
    down to a partition-pruned parquet scan. Only graphs that have been
    label-mutated pay the extra array membership check (3VL: a null
    primary or null extras contributes null, which filters out)."""
    cond = F.col("label") == label
    if EXTRA_LABELS in df.columns:
        cond = cond | F.array_contains(F.col(EXTRA_LABELS), label)
    return cond


def rel_type_cond(rel_type) -> Column:
    """Filter predicate for an edge-type restriction: a single type name,
    or a tuple of alternatives (Cypher's ``[:A|B]`` multi-type pattern —
    still one pushdown-eligible IN filter, no union of scans)."""
    if isinstance(rel_type, tuple):
        return F.col("rel_type").isin(*rel_type)
    return F.col("rel_type") == rel_type


def prefixed(frame: DataFrame, prefix: str, columns: "list[str]") -> DataFrame:
    """``frame`` with every column renamed ``<prefix><column>`` in one
    ``toDF`` call; ``columns`` must be ``frame``'s columns, in order (pass
    the graph table's, whose schema is already fetched, so the rename
    costs no schema round trip). An empty prefix is ``frame`` itself."""
    if not prefix:
        return frame
    return frame.toDF(*[f"{prefix}{c}" for c in columns])


def assign_where(
    frame: DataFrame,
    matched: Column,
    values: "dict[str, Column | None]",
    columns: "list[str] | None" = None,
) -> DataFrame:
    """Conditional assignment — the one projection behind every property
    write (Cypher SET/REMOVE, UNWIND..MATCH..SET, the MERGE match arms).

    Projects ``frame`` onto ``columns`` (default: all of its columns;
    pass the target table's when ``frame`` is a join over it). Rows where
    ``matched`` holds take ``values[c]``; every other row keeps its old
    value. ``None`` is Neo4j's SET-null: it REMOVES the property on
    matched rows, and removing a property the table lacks is a no-op. A
    property new to the table becomes a column that only matched rows
    fill — everyone else reads null (B5 missing-property semantics). One
    ``select``: no join, no shuffle of its own.
    """
    columns = frame.columns if columns is None else columns
    out = [
        F.when(matched, F.lit(None) if values[c] is None else values[c])
        .otherwise(F.col(c))
        .alias(c)
        if c in values
        else F.col(c)
        for c in columns
    ]
    out += [
        F.when(matched, v).alias(c)
        for c, v in values.items()
        if c not in columns and v is not None
    ]
    return frame.select(*out)


def check_write_batch(
    batch: DataFrame, reserved: "tuple[str, ...]" = (), key: str | None = None
) -> None:
    """The write-batch contract every graph write checks, by schema alone
    (no Spark job): no batch column other than the match ``key`` may be
    named like a ``reserved`` structural column (a write assigns
    properties, never identity, endpoints or labels), and no value may be
    a map or a struct — Neo4j stores scalars and lists of scalars only."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    for f in batch.schema.fields:
        if f.name in reserved and f.name != key:
            raise ValueError(
                f"batch column {f.name!r} names a structural column; a "
                "write may not assign it"
            )
        t = f.dataType
        while isinstance(t, ArrayType):
            t = t.elementType
        if isinstance(t, (MapType, StructType)):
            raise ValueError(
                f"batch column {f.name!r} holds {f.dataType.simpleString()} "
                "values; a property must be a scalar or a list of scalars"
            )


def local_frame(
    spark: SparkSession, rows: list, schema: str | None = None
) -> DataFrame:
    """A driver-side row list (a write batch, an UNWIND list, a fixture)
    as a Spark ``LocalRelation``: the rows travel to the JVM as one Arrow
    table, so every scan of the frame runs in the JVM alone (a
    ``createDataFrame(list)`` frame starts a Python worker task per
    partition on every scan) and the optimizer sees its exact size.

    ``rows`` are tuples in the column order of a DDL ``schema``, whose
    types the values are converted to, or dicts without one. Then the
    columns are the sorted union of the dict keys (a key missing from a
    row reads null) and each column's type is inferred from all of its
    values. A value that fits no single type raises
    ``TypeError`` naming the column: values of different kinds under one
    key (int mixed with float included: Spark's own row inference never
    promotes), an integer beyond 64 bits, and a column whose type cannot
    be known — null in every row, or only empty lists."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if schema is not None:
        struct = StructType.fromDDL(schema)
        dicts = [dict(zip(struct.names, r)) for r in rows]
        table = pa.Table.from_pylist(dicts, schema=to_arrow_schema(struct))
        return spark.createDataFrame(table, struct)
    columns = {}
    for name in sorted({k for r in rows for k in r}):
        values = [r.get(name) for r in rows]
        try:
            col = pa.array(values)
        except OverflowError:
            raise TypeError(
                f"column {name!r} holds an integer beyond 64 bits"
            ) from None
        except (pa.ArrowInvalid, pa.ArrowTypeError) as e:
            raise TypeError(f"column {name!r} has no single type: {e}") from None
        t = col.type
        while pa.types.is_list(t):
            t = t.value_type
        if pa.types.is_null(t):
            raise TypeError(
                f"cannot determine the type of column {name!r}: its values "
                "are null or empty lists in every row"
            )
        if pa.types.is_floating(t) and _holds_int(values):
            raise TypeError(f"column {name!r} mixes integers and floats")
        columns[name] = col
    return spark.createDataFrame(pa.Table.from_pydict(columns))


def _holds_int(values) -> bool:
    """Does ``values`` (lists searched too) hold a Python ``int``?"""
    return any(
        _holds_int(v) if isinstance(v, list)
        else isinstance(v, int) and not isinstance(v, bool)
        for v in values
    )


def _max_id(frame: DataFrame) -> int:
    """``max(id)`` of a graph table (0 when it is empty), computed once
    per frame (:func:`~flink_neo4j_spark.catalog.frame_memo`)."""
    from flink_neo4j_spark.catalog import frame_memo

    return frame_memo(
        frame, "max_id", lambda: frame.agg(F.max("id")).first()[0] or 0
    )


def _allocate_ids(new: DataFrame, base: int) -> DataFrame:
    """Assign dense ids ``base+1 .. base+count`` to a write batch and
    MATERIALIZE the assignment.

    ``base`` is the target table's ``max(id)`` as a driver-side scalar
    (:func:`_max_id`), so the assignment reads no other table: a write
    on a frame whose maximum is already known fires only this
    checkpoint's jobs. Two properties a lazy ``monotonically_increasing_id``
    plan does not give: (1) **stability** — without materialization,
    separate actions on the returned graph can recompute the batch under
    a different partition layout (AQE re-plan) and hand the same row a
    different id; ``localCheckpoint`` freezes the assignment the way the
    memoized projections do. (2) **density** — mono-id strides by
    partition<<33, so every write would inflate ``max(id)`` by
    ~numPartitions·2³³, compounding across successive writes. The global
    ``row_number`` window is a deliberate single-partition pass over the
    BATCH ONLY (UNWIND write batches are micro-batch-sized by contract —
    the reference caps them at ``batchSize`` rows,
    `Neo4jOutputFormat.java:142-160`); the base table never shuffles.
    """
    w = Window.orderBy("_off")
    return (
        new.withColumn("_off", F.monotonically_increasing_id())
        .withColumn("id", F.lit(base).cast("long") + F.row_number().over(w))
        .drop("_off")
        .localCheckpoint()
    )


class PropertyGraph:
    """A labeled property graph over two DataFrames.

    Replaces the reference's positional ``TupleTypeInfo`` declaration
    (`Neo4jInputTest.java:38-44`) with explicit, validated schemas: column
    names are authoritative, so there is no positional matching and no
    one-row type inference (the reference's known bug-shape,
    `Neo4jOutputFormat.java:182-202`).
    """

    def __init__(self, vertices: DataFrame, edges: DataFrame):
        self._validate(vertices, VERTEX_REQUIRED, "vertices")
        self._validate(edges, EDGE_REQUIRED, "edges")
        self.vertices = vertices
        self.edges = edges

    @staticmethod
    def _validate(df: DataFrame, required: tuple[str, ...], which: str) -> None:
        missing = [c for c in required if c not in df.columns]
        if missing:
            raise ValueError(
                f"PropertyGraph {which} missing required columns {missing}; "
                f"have {df.columns}"
            )

    # -- construction -----------------------------------------------------

    @classmethod
    def from_rows(
        cls,
        spark: SparkSession,
        vertex_rows: list[tuple],
        vertex_schema: str,
        edge_rows: list[tuple],
        edge_schema: str,
    ) -> "PropertyGraph":
        """Fixture ingest — the analogue of the reference's Cypher CREATE
        fixture (`Neo4jFormatTest.java:14-19`, capability B9)."""
        return cls(
            local_frame(spark, vertex_rows, vertex_schema),
            local_frame(spark, edge_rows, edge_schema),
        )

    @classmethod
    def read_parquet(cls, spark: SparkSession, path: str) -> "PropertyGraph":
        return cls(
            spark.read.parquet(f"{path}/vertices"),
            spark.read.parquet(f"{path}/edges"),
        )

    def write_parquet(self, path: str, mode: str = "overwrite") -> None:
        # Partition by label/rel_type: label-filtered scans then prune whole
        # directories — the 100 TB analogue of Neo4j's label index.
        self.vertices.write.mode(mode).partitionBy("label").parquet(f"{path}/vertices")
        self.edges.write.mode(mode).partitionBy("rel_type").parquet(f"{path}/edges")

    # -- query surface (capabilities B1-B8) -------------------------------

    def nodes(self, label: str | None = None, *props: str) -> DataFrame:
        """Node scan by label + property projection (B1, B3).

        Cypher analogue: ``MATCH (n:User) RETURN id(n), n.name, ...``
        (`README.md:20`, `Neo4jInputTest.java:26`). ``label=None`` is the
        unlabeled match ``MATCH (p)`` (B8, `Neo4jOutputTest.java:85`).
        """
        df = self.vertices
        if label is not None:
            df = df.filter(label_cond(self.vertices, label))
        if props:
            df = df.select("id", *props)
        return df

    def relationships(
        self,
        rel_type: str | None = None,
        src_label: str | None = None,
        dst_label: str | None = None,
        *props: str,
    ) -> DataFrame:
        """Edge pattern scan with endpoint labels (B2, B3).

        Cypher analogue: ``MATCH (a:User)-[e]->(b:User) RETURN id(e), id(a),
        id(b), e.since`` (`Neo4jInputTest.java:46`). Implemented as the edge
        scan semi-joined to labeled endpoints; when a label restricts V to a
        small set, AQE broadcasts it.
        """
        e = self.edges
        if rel_type is not None:
            e = e.filter(rel_type_cond(rel_type))
        out = e
        if src_label is not None:
            src_ids = self.vertices.filter(
                label_cond(self.vertices, src_label)
            ).select("id")
            out = out.join(F.broadcast(src_ids).withColumnRenamed("id", "src"), "src")
        if dst_label is not None:
            dst_ids = self.vertices.filter(
                label_cond(self.vertices, dst_label)
            ).select("id")
            out = out.join(F.broadcast(dst_ids).withColumnRenamed("id", "dst"), "dst")
        cols = ["id", "src", "dst"] + (list(props) if props else [])
        return out.select(*cols) if props else out

    def expand(
        self,
        src_label: str | None = None,
        rel_type: str | None = None,
        dst_label: str | None = None,
        src_prefix: str = "a_",
        dst_prefix: str = "b_",
    ) -> DataFrame:
        """Full one-hop pattern ``(a)-[e]->(b)`` with both endpoint property
        sets, prefixed to avoid collisions. Two equi hash joins; Catalyst
        reorders/broadcasts as stats allow."""
        a = prefixed(self.nodes(src_label), src_prefix, self.vertices.columns)
        b = prefixed(self.nodes(dst_label), dst_prefix, self.vertices.columns)
        e = self.edges if rel_type is None else self.edges.filter(
            rel_type_cond(rel_type)
        )
        return (
            e.join(a, e.src == F.col(f"{src_prefix}id"))
            .join(b, e.dst == F.col(f"{dst_prefix}id"))
        )

    # -- mutation surface (capabilities B6, B7) ---------------------------

    def create_nodes(self, batch: DataFrame, label: str) -> "PropertyGraph":
        """Row-parameterized batch INSERT — ``UNWIND {inserts} AS i CREATE
        (a:User {...})`` (B6, `README.md:45`, `Neo4jOutputTest.java:24-26`).

        New ids are allocated dense above the current max without
        collect-gaps (see :func:`_allocate_ids`); the max-id base is a
        scalar agg (one tiny job, no row data to driver), taken once per
        vertex frame.
        """
        check_write_batch(batch)
        new = _allocate_ids(
            batch.withColumn("label", F.lit(label)), _max_id(self.vertices)
        )
        merged = self.vertices.unionByName(new, allowMissingColumns=True)
        return PropertyGraph(merged, self.edges)

    def update_nodes(self, updates: DataFrame, key: str) -> "PropertyGraph":
        """Row-parameterized batch UPDATE — ``UNWIND {updates} AS u MATCH (p)
        WHERE p.name = u.name SET p.weight = ..., p.height = ...`` (B7/B8,
        `Neo4jOutputTest.java:83-87`).

        Join-update: LEFT JOIN on the key with an explicit matched marker,
        then new values apply UNCONDITIONALLY on matched rows — the
        Delta-MERGE shape, expressed with a broadcast of the (small) update
        batch so the base table never shuffles. The marker (not
        ``coalesce(new, old)``) is what preserves Neo4j's null semantics:
        ``SET n.p = null`` REMOVES the property, so a matched row carrying
        a null update must read back null, while unmatched rows keep their
        old values.
        """
        check_write_batch(updates, VERTEX_STRUCTURAL, key)
        props = {c: c for c in updates.columns if c != key}
        return PropertyGraph(self._update_matched(updates, key, props), self.edges)

    def _update_matched(
        self,
        batch: DataFrame,
        key: str,
        props: dict[str, str],
        cond: Column | None = None,
    ) -> DataFrame:
        """The vertex table with ``props`` (vertex property → batch column)
        assigned on every vertex whose ``key`` equals a batch row's (and
        that satisfies ``cond``): a LEFT JOIN to the broadcast batch with
        an explicit matched marker, then :func:`assign_where`."""
        renamed = batch.select(
            F.col(key).alias(f"_u_{key}"),
            F.lit(True).alias("_u__matched"),
            *[F.col(src).alias(f"_u_{prop}") for prop, src in props.items()],
        )
        on = self.vertices[key] == F.col(f"_u_{key}")
        if cond is not None:
            on = on & cond
        joined = self.vertices.join(F.broadcast(renamed), on, "left")
        return assign_where(
            joined,
            F.coalesce(F.col("_u__matched"), F.lit(False)),
            {prop: F.col(f"_u_{prop}") for prop in props},
            self.vertices.columns,
        )

    def merge_nodes(
        self,
        batch: DataFrame,
        label: str,
        key: str,
        on_create: "dict[str, str] | list[str] | None" = None,
        on_match: "dict[str, str] | list[str] | None" = None,
    ) -> "PropertyGraph":
        """MERGE upsert — ``UNWIND $rows AS r MERGE (n:Label {key: r.key})
        SET n.prop = r.prop`` (the idempotent write form the sink generates
        via ``unwind_merge_template``; retry-safe per SURVEY.md §7 #3).

        Rows whose ``key`` matches an existing ``label`` vertex update in
        place; the rest append as new vertices with ids allocated as in
        :meth:`create_nodes`. Both arms broadcast the (small) batch; the
        base vertex table never shuffles.

        ``on_create`` / ``on_match`` (Cypher ``MERGE … ON CREATE SET /
        ON MATCH SET``) say which vertex properties each arm sets and which
        batch column carries each value: a dict maps vertex property →
        batch column (so the SAME property can take DIFFERENT values per
        arm — the ``ON CREATE SET n.v = 1 ON MATCH SET n.v = 2`` counter
        idiom — by pointing the two arms at two batch columns); a list is
        shorthand for the identity mapping. Default (both ``None``) =
        every non-key batch column applies on both arms — the plain
        trailing ``SET`` form. Neo4j's null contract holds per-arm: an
        ``on_match`` column carrying null REMOVES the property on matched
        rows.
        """
        if key not in self.vertices.columns:
            raise ValueError(
                f"merge key {key!r} not a vertex property; cannot match"
            )
        check_write_batch(batch, VERTEX_STRUCTURAL, key)

        def _norm(spec) -> dict[str, str] | None:
            if spec is None:
                return None
            if isinstance(spec, dict):
                return dict(spec)
            return {c: c for c in spec}

        match_map = _norm(on_match)
        create_map = _norm(on_create)
        if match_map is None and create_map is None:
            match_map = {c: c for c in batch.columns if c != key}
            create_map = dict(match_map)
        else:
            match_map = match_map or {}
            create_map = create_map or {}
        for m in (match_map, create_map):
            for prop, src in m.items():
                if src not in batch.columns:
                    raise ValueError(f"batch column {src!r} (for {prop!r}) missing")
                if prop == key:
                    raise ValueError(
                        f"SET on the merge key {key!r} is not supported"
                    )

        inserts = batch.join(
            self.vertices.filter(label_cond(self.vertices, label)).select(
                F.col(key).alias("_k")
            ),
            batch[key] == F.col("_k"),
            "left_anti",
        ).select(
            key, *[F.col(src).alias(prop) for prop, src in create_map.items()]
        )

        if not match_map:
            # ON CREATE SET only: matched vertices are untouched — skip the
            # no-op update join entirely and go straight to the insert arm.
            return self.create_nodes(inserts, label)

        updated = self._update_matched(
            batch, key, match_map, label_cond(self.vertices, label)
        )
        # Same id-allocation path as :meth:`create_nodes`, except the
        # max-id base reads the PRE-projection vertex table: the matched
        # arm's conditional projection never touches ``id``, so the
        # maximum is identical — and the scalar agg never re-executes the
        # update join.
        new = _allocate_ids(
            inserts.withColumn("label", F.lit(label)), _max_id(self.vertices)
        )
        merged = updated.unionByName(new, allowMissingColumns=True)
        return PropertyGraph(merged, self.edges)

    def delete_nodes(
        self, keys: DataFrame, key: str = "id", detach: bool = False
    ) -> "PropertyGraph":
        """DELETE / DETACH DELETE parity — ``UNWIND $rows AS r MATCH (n)
        WHERE n.key = r.key [DETACH] DELETE n``.

        Neo4j refuses a plain DELETE on a node that still has relationships;
        this mirrors that contract: ``detach=False`` raises if any matched
        vertex has an incident edge, ``detach=True`` removes the incident
        edges too. All set operations are anti/semi joins keyed on the id —
        the delete set is a DataFrame (never collected), so a 10^9-row
        delete behaves like any other join: AQE broadcasts it when small,
        shuffles when not. The incident-edge check is a scalar count
        (metadata to the driver, not row data)."""
        ids = keys.select(F.col(key).alias("id")).distinct()
        as_src = ids.withColumnRenamed("id", "src")
        as_dst = ids.withColumnRenamed("id", "dst")
        if not detach:
            n_incident = (
                self.edges.join(as_src, "src", "left_semi")
                .unionAll(self.edges.join(as_dst, "dst", "left_semi"))
                .count()
            )
            if n_incident:
                raise ValueError(
                    f"cannot DELETE: {n_incident} incident relationship(s) "
                    "remain; use detach=True (DETACH DELETE)"
                )
            new_edges = self.edges
        else:
            new_edges = self.edges.join(as_src, "src", "left_anti").join(
                as_dst, "dst", "left_anti"
            )
        matched = self.vertices.join(ids, "id", "left_anti")
        return PropertyGraph(matched, new_edges)

    def delete_edges(self, keys: DataFrame, key: str = "id") -> "PropertyGraph":
        """Relationship delete — ``MATCH ()-[e]-() WHERE id(e) = r.id
        DELETE e``. A single anti join on the edge id."""
        ids = keys.select(F.col(key).alias("id")).distinct()
        return PropertyGraph(self.vertices, self.edges.join(ids, "id", "left_anti"))

    def _resolve_endpoints(
        self,
        batch: DataFrame,
        src_label: str,
        src_key: str,
        src_col: str,
        dst_label: str,
        dst_key: str,
        dst_col: str,
    ) -> DataFrame:
        """Resolve a key-addressed endpoint batch to internal (src, dst) id
        pairs — the ``MATCH (a:LA {k: r.x}), (b:LB {k: r.y})`` step of a
        relationship write. Two inner equi-joins against the vertex table
        (the batch side broadcasts when small, as UNWIND batches are); rows
        whose endpoints do not BOTH exist drop out, mirroring Cypher MATCH
        semantics (no implicit node creation)."""
        a = self.vertices.filter(label_cond(self.vertices, src_label)).select(
            F.col(src_key).alias("__ak"), F.col("id").alias("src")
        )
        b = self.vertices.filter(label_cond(self.vertices, dst_label)).select(
            F.col(dst_key).alias("__bk"), F.col("id").alias("dst")
        )
        extra = [c for c in batch.columns if c not in (src_col, dst_col)]
        return (
            batch.join(a, batch[src_col] == F.col("__ak"))
            .join(b, batch[dst_col] == F.col("__bk"))
            .select("src", "dst", *extra)
        )

    def create_relationships(
        self,
        endpoints: DataFrame,
        rel_type: str,
    ) -> "PropertyGraph":
        """Relationship batch INSERT — ``UNWIND $rows AS r MATCH (a), (b)
        CREATE (a)-[:T]->(b)`` once endpoints are resolved to (src, dst)
        internal ids. Edge ids allocate dense above the current max exactly
        as :meth:`create_nodes` does for vertices (scalar-agg base +
        materialized dense offsets, :func:`_allocate_ids` — no collect, and
        stable across repeated actions on the returned graph). CREATE
        semantics: every batch row inserts, duplicates included, as in
        Cypher. Property columns on ``endpoints`` beyond (src, dst) become
        edge properties (schema widens by name; existing edges read
        null)."""
        check_write_batch(endpoints)
        new = _allocate_ids(
            endpoints.withColumn("rel_type", F.lit(rel_type)),
            _max_id(self.edges),
        )
        merged = self.edges.unionByName(new, allowMissingColumns=True)
        return PropertyGraph(self.vertices, merged)

    def merge_relationships(
        self,
        endpoints: DataFrame,
        rel_type: str,
        on_create: "dict[str, str] | None" = None,
        on_match: "dict[str, str] | None" = None,
    ) -> "PropertyGraph":
        """Relationship MERGE — ``MERGE (a)-[:T]->(b)``: insert the edge
        only if no (src, dst, rel_type) edge exists, making the write
        idempotent (retry-safe, the sink's at-least-once story — re-running
        the same batch is a no-op). One distinct + one anti-join against
        the existing edge set keyed on the endpoint pair, then the same
        id-allocation path as :meth:`create_relationships`.

        Property columns on ``endpoints`` participate in the MERGE match
        key, as in Cypher — ``MERGE (a)-[:T {w: 5}]->(b)`` matches only an
        existing edge whose ``w`` equals 5 (null-safe; an existing edge
        lacking the column reads null and only matches a null want) and
        creates the edge with the properties otherwise.

        ``on_create`` / ``on_match`` (Cypher ``MERGE (a)-[e:T]->(b) ON
        CREATE SET / ON MATCH SET`` — the edge twin of
        :meth:`merge_nodes`'s arms) map edge property → endpoints column
        carrying that arm's value. Arm source columns are EXCLUDED from
        the match key. ON MATCH updates pre-existing matched edges with
        ONE conditional projection (applied before the insert arm, so a
        just-created edge never takes the match arm); conflicting arm
        values for the same match key — on EITHER arm — collapse
        deterministically to the per-column MAX before any join, so two
        batch rows sharing (src, dst, props) but carrying different arm
        values still MERGE exactly one edge (a batch is a set here, not a
        sequence — documented divergence from Neo4j's row-sequential
        apply, which creates on the first row and fires ON MATCH for the
        second)."""
        check_write_batch(endpoints)
        oc = dict(on_create or {})
        om = dict(on_match or {})
        arm_srcs = set(oc.values()) | set(om.values())
        props = [
            c for c in endpoints.columns
            if c not in ("src", "dst") and c not in arm_srcs
        ]
        for prop in (*oc, *om):
            if prop in props or prop in EDGE_STRUCTURAL:
                raise ValueError(
                    f"arm property {prop!r} is part of the match key or "
                    "reserved"
                )
        # Collapse to ONE row per match key BEFORE any join: arm source
        # columns are not part of the key, so a plain distinct() would let
        # two rows with equal (src, dst, props) but different arm values
        # both survive the anti-join and both insert — MERGE must never
        # create duplicate edges. MAX-collapse mirrors the ON MATCH marker
        # aggregation (set-not-sequence divergence documented above).
        agg_srcs = [s for s in sorted(arm_srcs) if s not in ("src", "dst")]
        if agg_srcs:
            wanted = endpoints.groupBy("src", "dst", *props).agg(
                *[F.max(s).alias(s) for s in agg_srcs]
            )
        else:
            wanted = endpoints.distinct()
        # ``wanted`` is micro-batch-sized by the UNWIND write contract
        # (`Neo4jOutputFormat.java:142-160`) and feeds THREE lazy consumers
        # — the ON MATCH marker, the insert anti-join, and (through the
        # composed write→read lineage) every later action on the returned
        # graph. Without the checkpoint each consumer re-executed the
        # endpoint-resolution joins + collapse aggregate; freezing it here
        # (lazily — the insert arm's id-allocation checkpoint is the
        # materializing action) makes that subtree compute exactly once.
        wanted = wanted.localCheckpoint(eager=False)
        have = set(self.edges.columns)
        existing = self.edges.filter(F.col("rel_type") == rel_type).select(
            F.col("src").alias("__es"),
            F.col("dst").alias("__ed"),
            *[
                (F.col(c) if c in have else F.lit(None)).alias(f"__ep_{c}")
                for c in props
            ],
        )
        cond = (F.col("src") == F.col("__es")) & (F.col("dst") == F.col("__ed"))
        for c in props:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__ep_{c}"))

        edges_out = self.edges
        if om:
            marker = (
                wanted.groupBy("src", "dst", *props)
                .agg(
                    *[
                        F.max(src).alias(f"__mv_{prop}")
                        for prop, src in om.items()
                    ]
                )
                .select(
                    F.col("src").alias("__ms"),
                    F.col("dst").alias("__md"),
                    *[F.col(c).alias(f"__mk_{c}") for c in props],
                    *[F.col(f"__mv_{prop}") for prop in om],
                )
            )
            jcond = (
                (F.col("src") == F.col("__ms"))
                & (F.col("dst") == F.col("__md"))
                & (F.col("rel_type") == F.lit(rel_type))
            )
            for c in props:
                jcond = jcond & (
                    F.col(c) if c in have else F.lit(None)
                ).eqNullSafe(F.col(f"__mk_{c}"))
            edges_out = assign_where(
                self.edges.join(marker, jcond, "left"),
                F.col("__ms").isNotNull(),
                {prop: F.col(f"__mv_{prop}") for prop in om},
                self.edges.columns,
            )

        missing = wanted.join(existing, cond, "left_anti").select(
            "src",
            "dst",
            *props,
            *[F.col(src).alias(prop) for prop, src in oc.items()],
        )
        # Same id-allocation path as :meth:`create_relationships`, except
        # the max-id base reads the PRE-projection edge table: ON MATCH
        # arms never touch ``id``, so the maximum is identical — and the
        # scalar agg never re-executes the marker join.
        new = _allocate_ids(
            missing.withColumn("rel_type", F.lit(rel_type)), _max_id(self.edges)
        )
        merged = edges_out.unionByName(new, allowMissingColumns=True)
        return PropertyGraph(self.vertices, merged)

    # -- connector round-trip (SURVEY §7 step 5) --------------------------

    def to_cypher(self, transport_factory, batch_size: int = 1000) -> None:
        """Write the graph through the Cypher sink, one UNWIND..CREATE batch
        stream per label/rel_type (Cypher cannot parameterize labels, so the
        per-label split mirrors how the reference's user authors one template
        per write — `README.md:40-49`). Distinct labels are few; collecting
        them is a metadata-sized driver op, never row data. Labels and
        rel_types are DATA here, yet must splice into Cypher text (labels
        are not parameterizable) — so each one passes the same identifier
        allowlist as generated templates before interpolation."""
        from flink_neo4j_spark.sources.cypher import validate_identifier, write_cypher

        labels = [
            validate_identifier(r[0])
            for r in self.vertices.select("label").distinct().collect()
        ]
        # extra labels are part of the label set, not a property — the
        # wire export writes the primary label per batch stream (Cypher
        # cannot parameterize labels; multi-label export would need one
        # SET-label pass per extra, out of the reference's write model)
        vprops = [
            c for c in self.vertices.columns
            if c not in ("label", EXTRA_LABELS)
        ]
        for label in labels:
            write_cypher(
                self.vertices.filter(F.col("label") == label).select(*vprops),
                transport_factory,
                label=label,
                batch_size=batch_size,
            )
        rel_types = [
            validate_identifier(r[0])
            for r in self.edges.select("rel_type").distinct().collect()
        ]
        eprops = [c for c in self.edges.columns if c != "rel_type"]
        for rel in rel_types:
            write_cypher(
                self.edges.filter(F.col("rel_type") == rel).select(*eprops),
                transport_factory,
                query=(
                    f"UNWIND $rows AS r MATCH (a), (b) "
                    f"WHERE id(a) = r.src AND id(b) = r.dst "
                    f"CREATE (a)-[e:{rel} {{id: r.id}}]->(b)"
                ),
                batch_size=batch_size,
            )

    @classmethod
    def from_cypher(
        cls,
        spark: SparkSession,
        transport_factory,
        vertex_query: str,
        vertex_schema: str,
        edge_query: str,
        edge_schema: str,
        num_partitions: int = 1,
        vertex_partition_template: str | None = None,
        edge_partition_template: str | None = None,
        default_label: str = "Node",
        default_rel_type: str = "REL",
    ) -> "PropertyGraph":
        """Read a graph back through two Cypher scans — exactly the
        reference's read pattern (`Neo4jInputTest.java:26,46`: one vertex
        query, one edge query), with optional partitioned reads. Queries that
        don't project label/rel_type (the reference's never do) get the
        defaults attached as constants."""
        from flink_neo4j_spark.sources.cypher import read_cypher

        v = read_cypher(
            spark, transport_factory, vertex_query, vertex_schema,
            num_partitions, vertex_partition_template,
        )
        if "label" not in v.columns:
            v = v.withColumn("label", F.lit(default_label))
        e = read_cypher(
            spark, transport_factory, edge_query, edge_schema,
            num_partitions, edge_partition_template,
        )
        if "rel_type" not in e.columns:
            e = e.withColumn("rel_type", F.lit(default_rel_type))
        return cls(v, e)

    def degrees(self, direction: str = "out") -> DataFrame:
        """Per-vertex degree — partial-aggregated count, no row explosion."""
        key = {"out": "src", "in": "dst"}.get(direction)
        if key is None:
            both = self.edges.select(F.col("src").alias("vid")).unionAll(
                self.edges.select(F.col("dst").alias("vid"))
            )
            return both.groupBy("vid").agg(F.count("*").alias("degree"))
        return (
            self.edges.groupBy(F.col(key).alias("vid"))
            .agg(F.count("*").alias("degree"))
        )
