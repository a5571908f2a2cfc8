"""DML as DataFrame rewrites (SURVEY.md §2.10).

The reference mutates stores in place (CREATE/DELETE/SET/MERGE,
`/root/reference/src/cypher/executor.rs:610-1211`); the Spark-native
equivalent is a *rewrite*: each operation produces new node/edge
DataFrames (write them back as Parquet/Delta for persistence — batch-job
atomicity replaces the reference's op-log transactions, SURVEY.md §2.11).

Every write route — the functions below, the Cypher compiler's DML, the
HTTP server and the partitioned store — rewrites its tables through five
operations, each written once here (the reference's single store,
`src/storage/mem_store.rs:25-26,56-57,313-325`):

- :func:`set_props` — the only place a property value is written into a
  column: a conditional rewrite under a row predicate;
- :func:`set_props_on` — :func:`set_props` on the rows whose key columns
  appear in a key frame (one flag join);
- :func:`append_rows` — union new rows in; new property keys extend the
  table with NULLs on the existing rows;
- :func:`next_id` — the next dense id, ``max + 1`` (1 on an empty table);
  :func:`next_node_id` is its node form, which starts an empty label
  inside the label's id namespace;
- :func:`delete_ids` — anti-join node ids out of their label table and
  cascade to every edge set with a side that can hold them.

Type rule (:func:`set_props` and :func:`append_rows`): a value's type
must equal its column's type, except that a numeric value may go into a
numeric column (the column widens) and NULL may go anywhere. Any other
write raises ``ValueError`` naming the column and both types: left to
Spark's union/CASE coercion, a string column written with a number turns
``bigint`` and every later read of the label fails its ANSI cast. The
check compares schemas only; it runs no Spark job.

Namespace rule (:func:`check_namespace`, the endpoint rule of
``graph.EdgeSet``): an id in a label's id namespace may be written only
under that label, as a node of it or on an edge side declared with it.
Ids below ``ID_STRIDE`` and the ``"Node"`` wildcard side accept any id.
A violation raises ``ValueError``. HTTP, gRPC and Cypher CREATE check
the literal ids they write, on the driver; the other routes write ids
read from a label table, which the rule already covers.

Lineage rule: a key, victim or new-row frame derived from the table it
rewrites is materialized (``localCheckpoint``) before it is joined or
unioned back. Otherwise every SET, DELETE or MERGE embeds the table's
whole plan twice, and a served label's plan doubles with each write.
Literal-row appends (CREATE, HTTP batches) carry no such frame and stay
job-free.
"""

from __future__ import annotations

from dataclasses import dataclass
from dataclasses import replace as dc_replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, NullType, NumericType, StructType

from rs_graphdb_spark.graph import ANY_LABEL, ID_STRIDE, PropertyGraph, holds, label_base


def _fits(value: DataType, column: DataType) -> bool:
    """The type rule for one column (module docstring). A NULL-typed
    column holds no value a new type could break."""
    if isinstance(value, NullType) or isinstance(column, NullType):
        return True
    if isinstance(value, NumericType) and isinstance(column, NumericType):
        return True
    if isinstance(value, ArrayType) and isinstance(column, ArrayType):
        return _fits(value.elementType, column.elementType)
    # simpleString compares nested types but not nullability flags
    return value.simpleString() == column.simpleString()


def _check_types(df: DataFrame, values: StructType) -> None:
    have = {f.name: f.dataType for f in df.schema}
    for f in values:
        col = have.get(f.name)
        if col is not None and not _fits(f.dataType, col):
            raise ValueError(
                f"column {f.name!r} is {col.simpleString()}; cannot write a "
                f"{f.dataType.simpleString()} value into it"
            )


def check_namespace(label: str, ids, what: str = "id") -> None:
    """The namespace rule (module docstring) over literal ids written
    under ``label``; ``what`` names them in the error. No Spark job."""
    if label == ANY_LABEL:
        return
    base = label_base(label)
    for i in ids:
        if i >= ID_STRIDE and i - i % ID_STRIDE != base:
            raise ValueError(
                f"{what} {i} lies outside the {label!r} id namespace"
            )


def set_props(df: DataFrame, cond: Column, updates: dict[str, Column]) -> DataFrame:
    """SET under a match predicate (`src/cypher/executor.rs:689-738`):
    merge-not-replace property semantics (`src/storage/mem_store.rs:
    313-325`) → conditional column rewrite. A key the table lacks becomes
    a new column, NULL on the unmatched rows. Every update sees the
    pre-SET row, so ``cond`` may read a column that is being set."""
    if not updates:
        return df
    _check_types(df, df.select(*[v.alias(k) for k, v in updates.items()]).schema)
    return df.withColumns({
        k: F.when(cond, v).otherwise(F.col(k) if k in df.columns else F.lit(None))
        for k, v in updates.items()
    })


def set_props_on(df: DataFrame, keys: DataFrame, updates: dict[str, Column]) -> DataFrame:
    """:func:`set_props` on the rows of ``df`` whose ``keys.columns``
    values appear in ``keys`` (distinct rows): a left join of a ``__m``
    flag, no driver-side collect. Column order is kept, new keys last.
    ``keys`` is materialized first (lineage rule, module docstring)."""
    if not updates:
        return df
    keys = keys.localCheckpoint(eager=True)
    flagged = df.join(keys.withColumn("__m", F.lit(True)), keys.columns, "left")
    added = [k for k in updates if k not in df.columns]
    return set_props(flagged, F.col("__m"), updates).select(*df.columns, *added)


def append_rows(df: DataFrame, new: DataFrame) -> DataFrame:
    """Append ``new`` rows to a table: a by-name union in which a key
    either side lacks is NULL there, under the type rule."""
    _check_types(df, new.schema)
    return df.unionByName(new, allowMissingColumns=True)


def next_id(df: DataFrame, col: str) -> int:
    """Next dense id of a table (the reference's counter,
    `src/storage/mem_store.rs:56-57`): ``max(col) + 1``, or 1 when the
    table is empty. One Spark job."""
    top = df.agg(F.max(col)).first()[0]
    return 1 if top is None else int(top) + 1


def next_node_id(graph: PropertyGraph, label: str) -> int:
    """Next node id of ``label``: ``max(id) + 1``, or
    ``label_base(label) + 1`` when the label has no table or no rows, so
    nodes created on two new labels never share an id. One Spark job
    when the table exists."""
    nodes = graph.nodes.get(label)
    top = None if nodes is None else nodes.agg(F.max("id")).first()[0]
    return label_base(label) + 1 if top is None else int(top) + 1


def delete_ids(graph: PropertyGraph, label: str, victims: DataFrame) -> PropertyGraph:
    """Delete the node ids in ``victims`` (one ``id`` column) from
    ``label`` and cascade to every edge side declared ``label`` or the
    ``"Node"`` wildcard (`src/storage/mem_store.rs:123-147`). ``victims``
    is materialized first (lineage rule, module docstring)."""
    victims = victims.localCheckpoint(eager=True)
    nodes = dict(graph.nodes)
    nodes[label] = graph.nodes[label].join(victims, "id", "left_anti")
    edges = {}
    for rel, es in graph.edges.items():
        df = es.df
        if holds(es.src_label, label):
            df = df.join(victims.withColumnRenamed("id", "src"), "src", "left_anti")
        if holds(es.dst_label, label):
            df = df.join(victims.withColumnRenamed("id", "dst"), "dst", "left_anti")
        edges[rel] = dc_replace(es, df=df)
    return dc_replace(graph, nodes=nodes, edges=edges)


def create_nodes(
    graph: PropertyGraph, label: str, rows: DataFrame, key_col: str
) -> PropertyGraph:
    """CREATE (`src/cypher/executor.rs:610-648`): append rows to a label
    table. Ids are assigned from the natural key (arithmetic, shuffle-free);
    the reference's dense sequential counter (`src/storage/mem_store.rs:
    56-57`) is documented divergence (SURVEY.md §7 hard-point 4)."""
    with_id = rows.select(
        (F.lit(label_base(label)) + F.col(key_col).cast("long")).alias("id"), "*"
    )
    nodes = dict(graph.nodes)
    nodes[label] = append_rows(graph.nodes[label], with_id)
    # edge_integrity cleared (r10 ADVICE #1): a colliding natural key
    # mints a DUPLICATE id here (no uniqueness validation — contrast
    # merge_nodes, which anti-joins against existing keys), breaking the
    # unique-id premise of the hop-join elision. The flag only gates an
    # optimization, so clearing it costs nothing but the narrow-frame
    # shortcut on post-create graphs.
    return dc_replace(graph, nodes=nodes, edge_integrity=False)


def delete_nodes(graph: PropertyGraph, label: str, cond: Column) -> PropertyGraph:
    """DELETE with cascade to incident edges
    (`src/cypher/executor.rs:650-687`): :func:`delete_ids` on the rows
    matching ``cond``. Survivors are the anti-join complement of the
    victim set, NOT ``filter(~cond)``: a NULL predicate (nullable
    property) keeps the row, matching the Cypher executor's three-valued
    WHERE semantics."""
    return delete_ids(graph, label, graph.nodes[label].filter(cond).select("id"))


def merge_nodes(
    graph: PropertyGraph,
    label: str,
    key_col: str,
    incoming: DataFrame,
    on_create: dict[str, Column] | None = None,
    on_match: dict[str, Column] | None = None,
) -> PropertyGraph:
    """MERGE (`src/cypher/executor.rs:740-1211`): match by key else create,
    with ON CREATE SET / ON MATCH SET — left-anti to find the missing
    pattern instances, conditional update on the matched ones."""
    existing = graph.nodes[label]
    # MERGE key semantics: one pattern instance per key — duplicate incoming
    # keys would multiply matched rows through the flag join and mint
    # duplicate ids in the created branch.
    incoming = incoming.dropDuplicates([key_col])
    to_create = incoming.join(existing.select(key_col), key_col, "left_anti")
    if on_create:
        for c, v in on_create.items():
            to_create = to_create.withColumn(c, v)
    created = to_create.select(
        (F.lit(label_base(label)) + F.col(key_col).cast("long")).alias("id"), "*"
    ).localCheckpoint(eager=True)
    updated = existing
    if on_match:
        matched_keys = incoming.select(key_col).join(
            existing.select(key_col), key_col, "left_semi"
        )
        updated = set_props_on(existing, matched_keys, on_match)
    nodes = dict(graph.nodes)
    nodes[label] = append_rows(updated, created)
    return dc_replace(graph, nodes=nodes)

def update_node_props(
    graph: PropertyGraph, label: str, node_id: int, props: dict
) -> tuple[PropertyGraph, bool]:
    """Storage-layer update API (`src/storage/mem_store.rs:313-325` via
    ``db.update_node_props``, scenarios
    `tests/core_features_test.rs:91-135`): MERGE-not-replace the given
    properties onto one node. Returns (new graph, whether the node
    existed) — the reference returns ``bool``; updating a nonexistent id
    is a no-op reporting False."""
    if label not in graph.nodes:
        return graph, False
    df = graph.nodes[label]
    cond = F.col("id") == F.lit(node_id)
    if df.filter(cond).isEmpty():
        return graph, False
    updated = set_props(df, cond, {k: F.lit(v) for k, v in props.items()})
    nodes = dict(graph.nodes)
    nodes[label] = updated
    return dc_replace(graph, nodes=nodes), True


def update_rel_props(
    graph: PropertyGraph, rel_type: str, edge_id: int, props: dict
) -> tuple[PropertyGraph, bool]:
    """Relationship twin of :func:`update_node_props`
    (`tests/core_features_test.rs:131-170`)."""
    if rel_type not in graph.edges:
        return graph, False
    es = graph.edges[rel_type]
    cond = F.col("edge_id") == F.lit(edge_id)
    if es.df.filter(cond).isEmpty():
        return graph, False
    updated = set_props(es.df, cond, {k: F.lit(v) for k, v in props.items()})
    edges = dict(graph.edges)
    edges[rel_type] = dc_replace(es, df=updated)
    return dc_replace(graph, edges=edges), True


# -- constraints (`src/constraints/mod.rs:14-52,143-213`) -------------------

def unique_violations(df: DataFrame, cols: list[str]) -> DataFrame:
    """UNIQUE(label, props) validation job: value tuples appearing >1×."""
    return (
        df.groupBy(*cols)
        .agg(F.count("*").alias("n_dup"))
        .filter(F.col("n_dup") > 1)
    )


def existence_violations(df: DataFrame, col_name: str) -> DataFrame:
    """EXISTS(label, prop) validation job: rows missing the property."""
    return df.filter(F.col(col_name).isNull())


@dataclass(frozen=True)
class Constraint:
    """One declared constraint (`src/constraints/mod.rs:14-52`)."""

    label: str
    prop: str
    kind: str  # "uniqueness" | "existence"

    @classmethod
    def uniqueness(cls, label: str, prop: str) -> "Constraint":
        return cls(label=label, prop=prop, kind="uniqueness")

    @classmethod
    def existence(cls, label: str, prop: str) -> "Constraint":
        return cls(label=label, prop=prop, kind="existence")


class ConstraintRegistry:
    """Declared-constraint catalog + validation jobs
    (`src/constraints/mod.rs:54-213`, scenarios
    `tests/constraints_test.rs`). The registry itself is driver-side
    metadata (a handful of (label, prop, kind) rows — the reference
    keeps the same in a HashMap); every validation is a Spark job over
    the label table, so it holds at any table size.

    Semantics pinned by the reference scenarios:
    - duplicate ``add_constraint`` raises ("already exists");
    - ``drop_constraint`` returns whether anything was removed;
    - NULL values never violate uniqueness (two rows missing the
      property are NOT duplicates — `tests/constraints_test.rs:341-365`,
      ANSI-unique semantics) but DO violate existence;
    - constraints only apply to their own label."""

    def __init__(self) -> None:
        self._constraints: list[Constraint] = []

    def add_constraint(self, c: Constraint) -> None:
        if c in self._constraints:
            raise ValueError(
                f"constraint {c.kind} on {c.label}.{c.prop} already exists"
            )
        self._constraints.append(c)

    def drop_constraint(self, label: str, prop: str, kind: str) -> bool:
        target = Constraint(label=label, prop=prop, kind=kind)
        if target in self._constraints:
            self._constraints.remove(target)
            return True
        return False

    def count(self) -> int:
        return len(self._constraints)

    def get_all_constraints(self) -> tuple[Constraint, ...]:
        return tuple(self._constraints)

    def get_constraints_for_label(self, label: str) -> tuple[Constraint, ...]:
        return tuple(c for c in self._constraints if c.label == label)

    def validate_node(
        self, graph: PropertyGraph, label: str, node_id: int
    ) -> str | None:
        """Validate ONE node against its label's constraints: None when
        valid, else the first violation message (the reference's
        ``ConstraintValidation::Violated { message }``,
        `src/constraints/mod.rs:143-213`). Point lookups on the id —
        cheap even on a large table (predicate-pushed scan)."""
        if label not in graph.nodes:
            return None
        df = graph.nodes[label]
        row = df.filter(F.col("id") == F.lit(node_id)).first()
        if row is None:
            return None
        for c in self.get_constraints_for_label(label):
            value = row[c.prop] if c.prop in df.columns else None
            if c.kind == "existence":
                if value is None:
                    return (
                        f"Existence constraint: node {node_id} is missing "
                        f"required property '{c.prop}'"
                    )
            elif value is not None:  # uniqueness; NULLs never collide
                n = (
                    df.filter(F.col(c.prop) == F.lit(value))
                    .limit(2)
                    .count()
                )
                if n > 1:
                    return (
                        f"Uniqueness constraint violated: duplicate value "
                        f"for '{c.prop}' on label '{c.label}'"
                    )
        return None

    def validate_all(self, graph: PropertyGraph) -> dict[Constraint, int]:
        """Set-at-a-time validation — the 100 TB shape: ONE aggregation
        job per constraint over the full label table (reusing
        :func:`unique_violations` / :func:`existence_violations`)
        instead of a per-node loop. Returns violation counts per
        constraint."""
        out: dict[Constraint, int] = {}
        for c in self._constraints:
            if c.label not in graph.nodes:
                out[c] = 0
                continue
            df = graph.nodes[c.label]
            if c.prop not in df.columns:
                out[c] = 0 if c.kind == "uniqueness" else df.count()
            elif c.kind == "uniqueness":
                out[c] = unique_violations(
                    df.filter(F.col(c.prop).isNotNull()), [c.prop]
                ).count()
            else:
                out[c] = existence_violations(df, c.prop).count()
        return out
