"""DML as DataFrame rewrites (SURVEY.md §2.10).

The reference mutates stores in place (CREATE/DELETE/SET/MERGE,
`/root/reference/src/cypher/executor.rs:610-1211`); the Spark-native
equivalent is a *rewrite*: each operation produces new node/edge
DataFrames (write them back as Parquet/Delta for persistence — batch-job
atomicity replaces the reference's op-log transactions, SURVEY.md §2.11).

Every write route — the functions below, the Cypher compiler's DML, the
HTTP and gRPC server and the partitioned store — writes its tables
through these operations, each written once here (the reference's single
store, `src/storage/mem_store.rs:25-26,56-57,313-325`):

- :func:`set_props` — the only place a property value is written into a
  column: a conditional rewrite under a row predicate;
- :func:`insert` — append rows; new property keys extend the table with
  NULLs on the existing rows;
- :func:`update` — :func:`set_props` on every row of each key a match
  hits;
- :func:`delete_ids` — delete node ids and cascade to every edge set
  with a side that can hold them; :func:`delete_edges` deletes edge ids;
- :func:`drop_keys` — the same removal as an anti-join, for a write too
  large for a delta and for the partitioned store's bucket rewrite;
- :func:`next_id` — the next dense id, ``max + 1`` (1 on an empty
  table); :func:`next_node_id` is its node form, which starts an empty
  label inside the label's id namespace.

Type rule (:func:`set_props`, :func:`insert`, :func:`update`): a value's
type must equal its column's type, except that a numeric value may go
into a numeric column (the column widens) and NULL may go anywhere. Any
other write raises ``ValueError`` naming the column and both types: left
to Spark's union/CASE coercion, a string column written with a number
turns ``bigint`` and every later read of the label fails its ANSI cast.
The check compares schemas only; it runs no Spark job.

Namespace rule (:func:`check_namespace`, the endpoint rule of
``graph.EdgeSet``): an id in a label's id namespace may be written only
under that label, as a node of it or on an edge side declared with it.
Ids below ``ID_STRIDE`` and the ``"Node"`` wildcard side accept any id.
A violation raises ``ValueError``. HTTP, gRPC and Cypher CREATE check
the literal ids they write, on the driver; the other routes write ids
read from a label table, which the rule already covers.

Delta rule: a written table is a base plus a small write delta held on
the driver (:class:`Delta`; the reference puts a write buffer in front
of its store, `src/storage/hybrid_store.rs:88-98`). Whatever the write
history, the frame a reader sees is

    base.filter(~key.isin(gone)).unionByName(rows)

with ``key`` the table's ``id`` (nodes) or ``edge_id`` (edges), ``gone``
the deleted and superseded keys (for an edge set also the ``src`` and
``dst`` ids of cascaded node deletes) and ``rows`` one local frame of
inserted and updated rows. An update reads every row of each key it hits
in one bounded job, :func:`set_props` computes the new values, and the
key is superseded: all of its rows go into ``rows``, so duplicate ids
and edge ids stay consistent. A delete adds keys to ``gone``; an insert
appends to ``rows``. So no write leaves a join in a plan, and between
compactions a table's plan keeps one shape however many writes it
takes. When a delta holds more
than :data:`DELTA_CAP` rows and keys, or one write hits more rows than
that, the table is compacted: the current frame is cached and
materialized as the new base, and the superseded base is released (a
reader still holding it recomputes it from its lineage). The cached
base keeps that lineage, so each compaction, not each write, adds one
filter and one union to the logical plan under the cache. Writes that
mint ids or add edges void ``edge_integrity`` for the tables they write
(``PropertyGraph.without_integrity``); SET and DELETE keep it.
"""

from __future__ import annotations

import operator
import threading
from dataclasses import dataclass
from dataclasses import replace as dc_replace
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DataType, NullType, NumericType, StructField, StructType,
)

from rs_graphdb_spark.graph import (
    ANY_LABEL, ID_STRIDE, EdgeSet, PropertyGraph, holds, label_base,
)
from rs_graphdb_spark.session import local_df


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


#: Rows plus keys one table's write delta may hold. A delta past it, or a
#: write that hits more rows than it, compacts the table (module
#: docstring); like the server's ``MAX_ROWS``, it bounds what a write
#: collects to the driver.
DELTA_CAP = 1000


@dataclass(frozen=True)
class Delta:
    """One written table (module docstring, delta rule): the ``base``
    frame, the driver-side delta, and the ``frame`` readers see.
    ``rows`` are tuples in ``schema``'s column order; ``schema`` is the
    table's, after every write's widening."""

    base: DataFrame
    key: str
    schema: StructType
    frame: DataFrame
    rows: tuple = ()
    gone: frozenset = frozenset()
    src_gone: frozenset = frozenset()
    dst_gone: frozenset = frozenset()

    def size(self) -> int:
        return (len(self.rows) + len(self.gone) + len(self.src_gone)
                + len(self.dst_gone))


def _nullable(schema: StructType) -> StructType:
    """``schema`` with every column nullable: a delta row may leave any
    column NULL."""
    return StructType([StructField(f.name, f.dataType) for f in schema])


def _conform(df: DataFrame, schema: StructType) -> DataFrame:
    """``df`` as ``schema``'s columns, in its order: a widened column
    cast, a missing one NULL. No Spark job."""
    have = {f.name: f.dataType for f in df.schema}
    return df.select(*[
        (F.col(f.name) if have[f.name] == f.dataType else F.col(f.name).cast(f.dataType))
        if f.name in have else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema
    ])


def _framed(d: Delta) -> Delta:
    """``d`` with the frame of the delta rule (module docstring). The
    by-name union widens and extends the base to ``schema``."""
    df = d.base
    cut = [~F.coalesce(F.col(c).isin(sorted(ids)), F.lit(False))
           for c, ids in ((d.key, d.gone), ("src", d.src_gone), ("dst", d.dst_gone))
           if ids]
    if cut:
        df = df.filter(reduce(operator.and_, cut))
    if d.rows:
        df = df.unionByName(local_df(df.sparkSession, d.rows, d.schema),
                            allowMissingColumns=True)
    elif _nullable(df.schema) != d.schema:
        df = _conform(df, d.schema)
    return dc_replace(d, frame=df)


def _delta(graph: PropertyGraph, name: str, rel: bool) -> Delta:
    """The delta of a node table (``rel`` false) or edge set: the recorded
    one while it still makes the table's frame, else an empty delta over
    the frame."""
    frame = graph.edges[name].df if rel else graph.nodes[name]
    d = graph.deltas.get((rel, name))
    if d is not None and d.frame is frame:
        return d
    return Delta(base=frame, key="edge_id" if rel else "id",
                 schema=_nullable(frame.schema), frame=frame)


def _put(graph: PropertyGraph, name: str, rel: bool, d: Delta) -> PropertyGraph:
    """``graph`` with the table's frame made by ``d``, compacted first
    when ``d`` has passed :data:`DELTA_CAP`."""
    if d.size() > DELTA_CAP:
        d = _rebase(d, d.frame)
    deltas = {**graph.deltas, (rel, name): d}
    if rel:
        es = dc_replace(graph.edges[name], df=d.frame)
        return dc_replace(graph, edges={**graph.edges, name: es}, deltas=deltas)
    return dc_replace(graph, nodes={**graph.nodes, name: d.frame}, deltas=deltas)


#: Spark plans a cached query with adaptive execution off unless this conf
#: is on, so a table derived through a shuffle (SUPPLIED_BY's distinct,
#: the KNOWS self-join, the windows) would be cached in
#: ``spark.sql.shuffle.partitions`` partitions, and every read of it would
#: run that many tasks. :func:`_cache` turns it on while it registers.
_AQE_CACHE_CONF = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
_caching = threading.Lock()


def _cache(frames: list[DataFrame]) -> list[DataFrame]:
    """Register ``frames``' caches (no Spark job), planned adaptively so
    each cache holds as many partitions as its data needs."""
    if not frames:
        return frames
    conf = frames[0].sparkSession.conf
    with _caching:
        was = conf.get(_AQE_CACHE_CONF)
        conf.set(_AQE_CACHE_CONF, "true")
        try:
            return [df.cache() for df in frames]
        finally:
            conf.set(_AQE_CACHE_CONF, was)


def _rebase(d: Delta, frame: DataFrame) -> Delta:
    """Compaction: ``frame`` cached and materialized (one job) as the new
    resident base; the superseded base is released."""
    base, = _cache([frame])
    base.count()
    if d.base.is_cached and d.base is not base:
        d.base.unpersist()
    return Delta(base=base, key=d.key, schema=_nullable(base.schema), frame=base)


def _widened(d: Delta, new: DataFrame) -> StructType:
    """The table's schema once ``new`` rows are in it: Spark's by-name
    union coercion, under the type rule. No Spark job."""
    _check_types(d.frame, new.schema)
    return _nullable(d.frame.unionByName(new, allowMissingColumns=True).schema)


def _collect(df: DataFrame, schema: StructType, cap: int = DELTA_CAP) -> list[tuple]:
    """Up to ``cap + 1`` rows of ``df`` as tuples of ``schema``, a
    widened column cast and a missing one NULL: one bounded job, none on
    a local frame."""
    have = {f.name: f.dataType for f in df.schema}
    cast = {f.name: F.col(f.name).cast(f.dataType) for f in schema
            if f.name in have and have[f.name] != f.dataType}
    if cast:
        df = df.withColumns(cast)
    names = schema.fieldNames()
    return [tuple(map(r.asDict().get, names)) for r in df.limit(cap + 1).collect()]


def _recast(d: Delta, schema: StructType) -> tuple:
    """``d.rows`` as tuples of ``schema``: padded with NULLs when
    ``schema`` only adds columns, else cast by Spark (no Spark job)."""
    if not d.rows or schema == d.schema:
        return d.rows
    if list(schema)[:len(d.schema)] == list(d.schema):
        pad = (None,) * (len(schema) - len(d.schema))
        return tuple(r + pad for r in d.rows)
    return tuple(_collect(local_df(d.base.sparkSession, d.rows, d.schema),
                          schema, len(d.rows)))


def _rewritten(graph: PropertyGraph, name: str, rel: bool,
               frame: DataFrame) -> PropertyGraph:
    """``graph`` with the table compacted into ``frame``: the route of a
    write that hits more rows than :data:`DELTA_CAP`."""
    return _put(graph, name, rel, _rebase(_delta(graph, name, rel), frame))


def insert(graph: PropertyGraph, name: str, new: DataFrame, rel: bool = False,
           ends: tuple[str, str] = (ANY_LABEL, ANY_LABEL)) -> PropertyGraph:
    """Append ``new`` rows to a node table (``rel`` false) or edge set.
    A key either side lacks is NULL there, under the type rule. A table
    the graph lacks opens as ``new`` itself; a new edge set is declared
    between ``ends``. Voids ``edge_integrity`` for the table. One bounded
    job, none for literal rows."""
    tables = graph.edges if rel else graph.nodes
    if name not in tables:
        opened = EdgeSet(df=new, src_label=ends[0], dst_label=ends[1]) if rel else new
        graph = dc_replace(graph, **{"edges" if rel else "nodes": {**tables, name: opened}})
        return graph.without_integrity(name)
    graph = graph.without_integrity(name)
    d = _delta(graph, name, rel)
    schema = _widened(d, new)
    got = _collect(new, schema)
    if len(got) > DELTA_CAP:
        new = new.localCheckpoint(eager=True)
        return _rewritten(graph, name, rel, d.frame.unionByName(
            new, allowMissingColumns=True))
    rows = _recast(d, schema) + tuple(got)
    return _put(graph, name, rel, _framed(dc_replace(d, schema=schema, rows=rows)))


def _touched(frame: DataFrame, key: str, match) -> DataFrame:
    """Every row of each key ``match`` hits, ``__m`` true on the hit
    rows. ``match`` is a row predicate, a frame of key values (one
    ``key`` column) or literal keys."""
    if isinstance(match, Column):
        f = frame.withColumn("__m", F.coalesce(match, F.lit(False)))
        return f.join(f.filter("__m").select(key), key, "left_semi")
    if isinstance(match, DataFrame):
        hit = frame.join(match.select(key), key, "left_semi")
    else:
        hit = frame.filter(F.col(key).isin(list(match)))
    return hit.withColumn("__m", F.lit(True))


def update(graph: PropertyGraph, name: str, match, updates: dict[str, Column],
           rel: bool = False) -> tuple[PropertyGraph, int]:
    """SET ``updates`` on the rows of a node table (``rel`` false) or edge
    set that ``match`` hits (see :func:`_touched`), by the delta rule: one
    bounded job reads every row of each hit key, :func:`set_props`
    computes the new values, and the keys are superseded. Returns the
    graph and the number of rows read, at most ``DELTA_CAP + 1``. A row
    whose key is NULL is never hit. A table without its key column takes
    a row predicate only, and is rewritten and compacted."""
    d = _delta(graph, name, rel)
    if d.key not in d.frame.columns:
        new = set_props(d.frame, match, updates)
        return _rewritten(graph, name, rel, new), DELTA_CAP + 1
    touched = _touched(d.frame, d.key, match)
    new = set_props(touched, F.col("__m"), updates).drop("__m")
    schema = _widened(d, new)
    # one task reads the hit rows: a plain limit-collect scans one
    # partition, then four times as many, a job each, while it finds
    # fewer rows than the limit
    got = _collect(new.coalesce(1), schema)
    if len(got) > DELTA_CAP:
        new = new.localCheckpoint(eager=True)
        kept = drop_keys(d.frame, new.select(d.key), d.key)
        return _rewritten(graph, name, rel, kept.unionByName(
            new, allowMissingColumns=True)), len(got)
    k = schema.fieldNames().index(d.key)
    keys = {r[k] for r in got}
    rows = tuple(r for r in _recast(d, schema) if r[k] not in keys) + tuple(got)
    d = dc_replace(d, schema=schema, rows=rows, gone=d.gone | keys)
    return _put(graph, name, rel, _framed(d)), len(got)


def _remove(graph: PropertyGraph, name: str, rel: bool, keys=frozenset(),
            src=frozenset(), dst=frozenset()) -> PropertyGraph:
    """Delete, by the delta rule, a table's rows whose key is in ``keys``,
    ``src`` in ``src`` or ``dst`` in ``dst``. No Spark job."""
    d = _delta(graph, name, rel)
    cols = d.schema.fieldNames()
    cuts = [(cols.index(c), ids) for c, ids in ((d.key, keys), ("src", src), ("dst", dst))
            if ids]
    rows = tuple(r for r in d.rows if not any(r[i] in ids for i, ids in cuts))
    d = dc_replace(d, rows=rows, gone=d.gone | frozenset(keys),
                   src_gone=d.src_gone | frozenset(src),
                   dst_gone=d.dst_gone | frozenset(dst))
    return _put(graph, name, rel, _framed(d))


def drop_keys(df: DataFrame, victims: DataFrame, col: str) -> DataFrame:
    """``df`` without the rows whose ``col`` is a value of ``victims``'
    one column: an anti-join (a NULL ``col`` is never a victim)."""
    return df.join(victims.toDF(col), col, "left_anti")


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


def delete_ids(graph: PropertyGraph, label: str, victims) -> PropertyGraph:
    """Delete node ids — literal ids, or a frame with an ``id`` column —
    from ``label`` and cascade to every edge side declared ``label`` or
    the ``"Node"`` wildcard (`src/storage/mem_store.rs:123-147`), by the
    delta rule. A victim frame is read in one bounded job; past
    :data:`DELTA_CAP` victims the tables are rewritten by
    :func:`drop_keys` and compacted."""
    if isinstance(victims, DataFrame):
        victims = victims.select("id")
        got = victims.coalesce(1).limit(DELTA_CAP + 1).collect()  # see update
        if len(got) > DELTA_CAP:
            return _delete_rewritten(graph, label, victims.localCheckpoint(eager=True))
        victims = [r[0] for r in got]
    ids = frozenset(i for i in victims if i is not None)
    if not ids:
        return graph
    out = _remove(graph, label, False, keys=ids)
    for rel, es in graph.edges.items():
        src = ids if holds(es.src_label, label) else frozenset()
        dst = ids if holds(es.dst_label, label) else frozenset()
        if src or dst:
            out = _remove(out, rel, True, src=src, dst=dst)
    return out


def _delete_rewritten(graph: PropertyGraph, label: str,
                      victims: DataFrame) -> PropertyGraph:
    """:func:`delete_ids` past :data:`DELTA_CAP` victims (materialized)."""
    out = _rewritten(graph, label, False, drop_keys(graph.nodes[label], victims, "id"))
    for rel, es in graph.edges.items():
        df = es.df
        if holds(es.src_label, label):
            df = drop_keys(df, victims, "src")
        if holds(es.dst_label, label):
            df = drop_keys(df, victims, "dst")
        if df is not es.df:
            out = _rewritten(out, rel, True, df)
    return out


def delete_edges(graph: PropertyGraph, rel_type: str, edge_ids) -> PropertyGraph:
    """Delete literal edge ids from ``rel_type``, by the delta rule. No
    Spark job."""
    return _remove(graph, rel_type, True, keys=frozenset(edge_ids))


def resident(graph: PropertyGraph) -> list[DataFrame]:
    """Cache ``graph``'s tables in place — every node table's and edge
    set's base, or its frame when it has no delta — and return the
    frames cached. Reads then scan in-memory batches, each filled by the
    first job that reads its table. Registers the caches only; no Spark
    job."""
    return _cache([_delta(graph, name, rel).base
                   for rel, tables in ((False, graph.nodes), (True, graph.edges))
                   for name in tables])


def release(graph: PropertyGraph) -> None:
    """Unpersist what :func:`resident` and compaction hold for ``graph``'s
    tables: each table's base and frame."""
    frames = list(graph.nodes.values()) + [es.df for es in graph.edges.values()]
    frames += [d.base for d in graph.deltas.values()]
    for df in frames:
        if df.is_cached:
            df.unpersist()


def create_nodes(
    graph: PropertyGraph, label: str, rows: DataFrame, key_col: str
) -> PropertyGraph:
    """CREATE (`src/cypher/executor.rs:610-648`): append rows to a label
    table. Ids are assigned from the natural key (arithmetic, shuffle-free);
    the reference's dense sequential counter (`src/storage/mem_store.rs:
    56-57`) is documented divergence (SURVEY.md §7 hard-point 4). A
    colliding natural key mints a duplicate id (no uniqueness check —
    contrast :func:`merge_nodes`), so the label loses ``edge_integrity``,
    as every insert's table does."""
    with_id = rows.select(
        (F.lit(label_base(label)) + F.col(key_col).cast("long")).alias("id"), "*"
    )
    return insert(graph, label, with_id)


def delete_nodes(graph: PropertyGraph, label: str, cond: Column) -> PropertyGraph:
    """DELETE with cascade to incident edges
    (`src/cypher/executor.rs:650-687`): :func:`delete_ids` on the rows
    matching ``cond``. Survivors are the complement of the victim set,
    NOT ``filter(~cond)``: a NULL predicate (nullable property) keeps the
    row, matching the Cypher executor's three-valued WHERE semantics."""
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
    pattern instances, :func:`update` on the matched ones."""
    existing = graph.nodes[label]
    # MERGE key semantics: one pattern instance per key — duplicate incoming
    # keys would mint duplicate ids in the created branch.
    incoming = incoming.dropDuplicates([key_col])
    to_create = incoming.join(existing.select(key_col), key_col, "left_anti")
    if on_create:
        for c, v in on_create.items():
            to_create = to_create.withColumn(c, v)
    created = to_create.select(
        (F.lit(label_base(label)) + F.col(key_col).cast("long")).alias("id"), "*"
    )
    if on_match:
        matched = existing.join(incoming.select(key_col), key_col, "left_semi")
        graph, _ = update(graph, label, matched.select("id"), on_match)
    return insert(graph, label, created)


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
    out, hit = update(graph, label, [node_id], {k: F.lit(v) for k, v in props.items()})
    return (out, True) if hit else (graph, False)


def update_rel_props(
    graph: PropertyGraph, rel_type: str, edge_id: int, props: dict
) -> tuple[PropertyGraph, bool]:
    """Relationship twin of :func:`update_node_props`
    (`tests/core_features_test.rs:131-170`)."""
    if rel_type not in graph.edges:
        return graph, False
    out, hit = update(graph, rel_type, [edge_id],
                      {k: F.lit(v) for k, v in props.items()}, rel=True)
    return (out, True) if hit else (graph, False)


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
