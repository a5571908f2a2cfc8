"""Property-graph-on-DataFrames data model.

Reference data model (`/root/reference/src/graph/model.rs:5-28`): nodes
``{id, labels, props}`` and directed typed relationships ``{id, start, end,
typ, props}`` in row-oriented stores with dual adjacency lists
(`src/storage/mem_store.rs:24-33`).

Spark-native re-expression (SURVEY.md §1.4):

- **label = table**: each label is its own typed, columnar DataFrame with an
  ``id`` column plus typed property columns. This keeps Parquet column
  pruning and predicate pushdown intact (a single wide nodes table with a
  sparse union of all property columns would defeat both at 100 TB).
- **rel_type = table**: each relationship type is an ``EdgeSet`` DataFrame
  ``(id, src, dst, <edge props>)`` with declared endpoint labels.
  Adjacency lists are not materialized — a hop is an equi-join on
  ``src``/``dst``, which Catalyst plans as broadcast or sort-merge join
  depending on frontier size.
- **global node ids**: per-label disjoint id namespaces,
  ``id = LABEL_BASE[label] + natural_key``, assigned arithmetically —
  deterministic, shuffle-free, collision-free, and reproducible in the
  DuckDB oracle (`BASE + key` in plain SQL).

Scale notes: node/edge tables are plain Parquet datasets; at cluster scale
partition edge tables by ``src`` bucket (and keep a dst-sorted copy for
heavy reverse traversals — the Spark analog of the reference's dual
adjacency lists).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Per-label id-namespace stride. 2^40 ≈ 1.1e12 keeps labels disjoint up to
#: ~10^12 natural keys per label (TPC-H sf100k customer keys ≈ 1.5e13 would
#: need a wider stride; sf1000 ≈ 1.5e11 fits).
ID_STRIDE = 1 << 40

#: Stable label → namespace index. Order is part of the public contract —
#: oracle SQL hard-codes `idx * ID_STRIDE + key`.
LABEL_INDEX = {
    "Region": 1,
    "Nation": 2,
    "Customer": 3,
    "Supplier": 4,
    "Part": 5,
    "Order": 6,
    "Document": 7,
    "Embedding": 8,
    "Event": 9,
}


def label_base(label: str) -> int:
    """Base offset of a label's node-id namespace.

    The TPC-H labels use the fixed LABEL_INDEX slots (part of the oracle
    contract). Ad-hoc labels — the reference creates nodes under ANY
    label (`src/storage/mem_store.rs:56-77`) — get a stable md5-derived
    namespace above the reserved block, so ``create_nodes`` works for
    arbitrary graphs while never colliding with a catalog label.

    .. note:: **Id-mapping history.** Builds before round 4 derived the
       ad-hoc index as ``md5[:8] mod 2^20``; it is now
       ``md5[:10] mod 2^22`` (4× the collision headroom). Node-id
       namespaces of ad-hoc labels in catalogs PERSISTED by a pre-r4
       build therefore differ from ids the current build would assign —
       re-derive persisted ad-hoc catalogs rather than mixing eras (the
       fixed LABEL_INDEX slots are unaffected). See also
       :func:`reset_adhoc_namespaces`.
    """
    idx = LABEL_INDEX.get(label)
    if idx is None:
        import hashlib

        digest = int(hashlib.md5(label.encode()).hexdigest()[:10], 16)
        # ~2^22 slots of the headroom ID_STRIDE=2^40 leaves above the
        # reserved block (2^63 / 2^40 ≈ 2^23 total namespaces)
        idx = 64 + digest % (1 << 22)
        # two ad-hoc labels hashing to one namespace would silently
        # cross node ids — detect and fail loudly instead
        owner = _ADHOC_NAMESPACES.setdefault(idx, label)
        if owner != label:
            raise ValueError(
                f"label namespace collision: {label!r} and {owner!r} both "
                f"hash to namespace {idx}; rename one label"
            )
    return idx * ID_STRIDE


#: The wildcard label. An edge side declared ``"Node"`` holds ids of any
#: label (HTTP and gRPC open a new rel type with it on both sides), and a
#: node written under it may carry any id.
ANY_LABEL = "Node"


def holds(side_label: str, label: str) -> bool:
    """Whether an edge side declared ``side_label`` may hold ids of
    ``label``: its own label, or the :data:`ANY_LABEL` wildcard."""
    return side_label in (label, ANY_LABEL)


def label_of(labels, node_id: int) -> str | None:
    """The label among ``labels`` whose id namespace (:func:`label_base`)
    holds ``node_id``, or None — catalog and ad-hoc labels alike. An id
    assigned in its label's namespace resolves; a raw dense id or a
    client-supplied id outside its label's namespace does not."""
    base = node_id - node_id % ID_STRIDE
    return next((lb for lb in labels if label_base(lb) == base), None)


#: driver-side registry of assigned ad-hoc namespace indexes → label, so a
#: birthday collision between two md5 buckets raises instead of silently
#: interleaving node ids (collision odds at 2^22 slots: ~0.012% for 1000
#: distinct ad-hoc labels). Process-global by design: the md5-derived
#: mapping is deterministic, so entries from unrelated graphs in one
#: process are never WRONG (same label → same index always) — the registry
#: only widens collision DETECTION across them. Long-lived multi-tenant
#: processes can clear it between independent catalogs.
_ADHOC_NAMESPACES: dict[int, str] = {}


def reset_adhoc_namespaces() -> None:
    """Clear the ad-hoc label→namespace collision registry.

    Call between INDEPENDENT catalogs in one long-lived process if a
    collision raise against an earlier, unrelated graph's label is
    unwanted. Never needed for correctness within one catalog — the
    md5 mapping itself is deterministic and registry-independent."""
    _ADHOC_NAMESPACES.clear()


@dataclass
class EdgeSet:
    """A typed directed edge table: ``(id, src, dst, <edge property columns>)``.

    Mirrors the reference Relationship (`src/graph/model.rs:22-28`) with the
    type factored out into the table identity.

    Endpoint namespace rule: a ``src`` (``dst``) id in a label's id
    namespace belongs to ``src_label`` (``dst_label``); a side declared
    ``"Node"`` (:data:`ANY_LABEL`) is a wildcard that holds any id, and
    ids below ``ID_STRIDE`` (raw client ids) lie outside every namespace
    and may sit on any side. Writes that take client ids or append
    endpoints check it on the driver (``operators.dml.check_namespace``),
    so a node's edges sit only in the sets with a side that :func:`holds`
    its label: ``/neighbors`` scans just those, and a DELETE cascades
    into just those.
    """

    df: DataFrame
    src_label: str
    dst_label: str


@dataclass
class PropertyGraph:
    """A property graph as a set of typed DataFrames.

    ``nodes``: label → DataFrame with column ``id`` (LONG, globally unique)
    plus typed property columns.
    ``edges``: rel_type → EdgeSet.
    """

    nodes: dict[str, DataFrame] = field(default_factory=dict)
    edges: dict[str, EdgeSet] = field(default_factory=dict)
    #: True when every edge endpoint is guaranteed to exist in its label's
    #: node table AND node ids are unique per label (the loader-built
    #: graphs: edge sets are derived from the same source tables as the
    #: nodes, with FK integrity). Lets a hop skip its target-node
    #: attribute join when no target column is read
    #: (``operators.traversal.attach``, for Cypher and ``Query`` alike —
    #: the join is then a 1:1 attach that changes nothing). Graphs
    #: assembled ad hoc default to False and keep the full join.
    #:
    #: The claim is kept per table: a write that inserts rows (mints ids
    #: or adds edges — HTTP and gRPC creates, Cypher CREATE and MERGE,
    #: ``dml`` creates and merges) voids it only for the labels and rel
    #: types it writes (:meth:`without_integrity`); ``intact`` then names
    #: the tables it still holds for, and :meth:`has_integrity` asks
    #: about the tables one hop reads. SET and DELETE keep it: neither
    #: may change ``id``, and a delete cascades into incident edges.
    edge_integrity: bool = False
    intact: frozenset = frozenset()
    #: ``(is_rel, name)`` → ``operators.dml.Delta``: how a written table's
    #: frame is made of a resident base and a driver-side write delta.
    #: Only dml reads it; an entry whose frame is no longer the table's
    #: is ignored.
    deltas: dict = field(default_factory=dict)

    def has_integrity(self, *names: str) -> bool:
        """Whether the ``edge_integrity`` claim holds for every named label
        and rel type."""
        return self.edge_integrity or self.intact.issuperset(names)

    def without_integrity(self, *names: str) -> "PropertyGraph":
        """This graph with the ``edge_integrity`` claim voided for the named
        labels and rel types only."""
        keep = (set(self.nodes) | set(self.edges) if self.edge_integrity
                else self.intact)
        return replace(self, edge_integrity=False,
                       intact=frozenset(keep).difference(names))

    # -- scans ------------------------------------------------------------
    def label_scan(self, label: str) -> DataFrame:
        """All nodes with a label (reference `Query::from_label`,
        `src/query.rs:43-57`). Here: just the label's table."""
        return self.nodes[label]

    def all_nodes(self, columns: tuple[str, ...] = ("id",)) -> DataFrame:
        """Union over every label (reference `all_stored_nodes`,
        `src/graph/db.rs:394-396`). Projects to the shared columns first so
        the union stays narrow; adds a `label` discriminator."""
        parts = [
            df.select(*[F.col(c) for c in columns]).withColumn("label", F.lit(lbl))
            for lbl, df in sorted(self.nodes.items())
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def degrees(self, rel_type: str | None = None) -> DataFrame:
        """Per-node (out_degree, in_degree) over one or all edge sets.

        Shared degree table reused by algorithms (SURVEY.md §4.3.4).
        """
        sets = (
            [self.edges[rel_type]] if rel_type else list(self.edges.values())
        )
        outs = [es.df.select(F.col("src").alias("id")) for es in sets]
        ins = [es.df.select(F.col("dst").alias("id")) for es in sets]

        def _union(dfs: list[DataFrame]) -> DataFrame:
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d)
            return out

        out_deg = _union(outs).groupBy("id").agg(F.count("*").alias("out_degree"))
        in_deg = _union(ins).groupBy("id").agg(F.count("*").alias("in_degree"))
        return (
            out_deg.join(in_deg, "id", "outer")
            .select(
                "id",
                F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            )
        )
