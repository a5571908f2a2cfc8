"""Fluent query builder — the Spark rendition of the reference's eager
set-at-a-time `Query` API (`/root/reference/src/query.rs:23-648`).

Where the reference materializes a ``Vec<NodeId>`` frontier after every
call, this builder composes a **lazy** DataFrame plan: the frontier is a
DataFrame of the current label's node rows, every step is a transformation,
and Catalyst gets the whole pipeline to optimize (pushdown, pruning, join
strategy). Laziness is the point — SURVEY.md §3.2.

Semantics deltas vs the reference (documented, deliberate — SURVEY.md §3.4):

- comparisons work on all orderable types, not just Int pairs (quirk #5);
- ``out``/``in_`` keep join multiplicity (matching reference ``out()``,
  quirk #7) with an explicit ``dedup=True`` opt-in;
- ``order_by`` sorts missing values last in both directions, matching the
  reference (`src/query.rs:441-468`);
- var-length expansion dedups per BFS level (matching reference
  `src/query.rs:171-218`) but is start-node-set based, not iteration-order
  dependent (quirk #6 fixed).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rs_graphdb_spark.graph import PropertyGraph
from rs_graphdb_spark.operators.traversal import attach, expand, hop


@dataclass(frozen=True)
class Query:
    """Immutable fluent builder over a PropertyGraph frontier."""

    graph: PropertyGraph
    frontier: DataFrame | None = None
    label: str | None = None
    #: Narrow twin of ``frontier`` after a hop: the hop output with the
    #: target node table joined only by the one target-join rule
    #: (``operators.traversal.attach``). Under ``graph.edge_integrity``
    #: (unique ids, no dangling endpoints) it is id + edge_cols + carry,
    #: and any consumer that needs none of the target's node columns
    #: (count after a hop chain, aggregates over edge/carry columns, the
    #: next hop's src ids) reads it and drops the node-table scan + join
    #: from the plan; otherwise it is the joined frame. Reset to None by
    #: every step whose result depends on columns this frame may not
    #: carry.
    hop_frontier: DataFrame | None = None

    # -- sources ---------------------------------------------------------
    def from_label(self, label: str) -> "Query":
        """Label scan (`src/query.rs:43-57`)."""
        return replace(self, frontier=self.graph.nodes[label], label=label,
                       hop_frontier=None)

    def from_label_and_prop_eq(self, label: str, key: str, value) -> "Query":
        """Point lookup (`src/query.rs:60-79`). The hash-index probe of the
        reference becomes a pushed-down parquet filter."""
        return self.from_label(label).where_prop_eq(key, value)

    # -- filters ---------------------------------------------------------
    def where(self, cond: Column) -> "Query":
        return replace(self, frontier=self.frontier.filter(cond),
                       hop_frontier=None)

    def where_prop_eq(self, key: str, value) -> "Query":
        """`src/query.rs:82-111` (Text and Int variants, generalized)."""
        return self.where(F.col(key) == F.lit(value))

    def where_prop_gt(self, key: str, value) -> "Query":
        """`src/query.rs:114-127`, generalized beyond Int."""
        return self.where(F.col(key) > F.lit(value))

    def where_prop_between(self, key: str, lo, hi) -> "Query":
        """Range-index scan (`src/index_advanced.rs:245-500`) — pushdown-native."""
        return self.where(F.col(key).between(F.lit(lo), F.lit(hi)))

    def where_prop_in(self, key: str, values: list) -> "Query":
        """IN-list membership (`src/cypher/executor.rs:1520-1532`)."""
        return self.where(F.col(key).isin(values))

    def where_prop_regex(self, key: str, pattern: str) -> "Query":
        """`=~` regex (`src/cypher/executor.rs:1500-1509`). The reference
        uses Rust's ``Regex::is_match`` — SEARCH semantics (a match
        anywhere in the string), pinned by its own scenario
        `tests/enhanced_query_test.rs:57-79` where '[Aa].*[Ee]' matches
        "Charlie". Spark's ``rlike`` is search semantics too, so the
        pattern passes through unanchored (the Cypher `=~` path in
        cypher/compiler.py already did this; r3 fixed this builder form,
        which wrongly anchored)."""
        return self.where(F.col(key).rlike(pattern))

    def where_prop_exists(self, key: str) -> "Query":
        """EXISTS(n.prop) (`src/cypher/executor.rs:1510-1513`)."""
        return self.where(F.col(key).isNotNull())

    # -- hops (the reference's only join, §2.3) --------------------------
    def _hop(self, rel_type: str, direction: str, dedup: bool,
             edge_cols: tuple[str, ...], carry: tuple[str, ...]) -> "Query":
        # A chained hop needs only (id, carry) from the previous step —
        # when the narrow hop_frontier carries those, start from it and
        # the intermediate node table never enters the plan.
        src_frame = self.frontier
        if self.hop_frontier is not None and all(
            c in self.hop_frontier.columns for c in carry
        ):
            src_frame = self.hop_frontier
        hopped, label = hop(self.graph, src_frame.select("id", *carry),
                            rel_type, direction, edge_cols=edge_cols)
        if dedup:
            hopped = hopped.dropDuplicates(["id"])
        return self._landed(hopped, label)

    def _landed(self, ids: DataFrame, label: str) -> "Query":
        """The frontier after a hop or expansion landing on ``label``."""
        return replace(self, frontier=attach(self.graph, ids, label, needed=True),
                       label=label, hop_frontier=attach(self.graph, ids, label))

    def out(self, rel_type: str, dedup: bool = False,
            edge_cols: tuple[str, ...] = (),
            carry: tuple[str, ...] = ()) -> "Query":
        """One hop along outgoing edges (`src/query.rs:130-141`). Keeps join
        multiplicity like the reference; ``edge_cols`` carries edge
        properties onto the frontier, ``carry`` keeps source-node columns
        (multi-variable bindings — fixes SURVEY.md §3.4 quirk #1)."""
        return self._hop(rel_type, "out", dedup, edge_cols, carry)

    def in_(self, rel_type: str, dedup: bool = False,
            edge_cols: tuple[str, ...] = (),
            carry: tuple[str, ...] = ()) -> "Query":
        """One hop along incoming edges (`src/query.rs:144-155`)."""
        return self._hop(rel_type, "in", dedup, edge_cols, carry)

    def semi_out(self, rel_type: str) -> "Query":
        """Keep frontier nodes having ≥1 outgoing edge of the type — the
        semi-join analog of reference `has_path` (`src/algorithms/
        shortest_path.rs:314-323`) at hop depth 1."""
        es = self.graph.edges[rel_type]
        keys = es.df.select(F.col("src").alias("id"))
        return replace(
            self, frontier=self.frontier.join(keys, "id", "left_semi"),
            hop_frontier=self.hop_frontier.join(keys, "id", "left_semi")
            if self.hop_frontier is not None else None)

    def anti_out(self, rel_type: str) -> "Query":
        """Keep frontier nodes with NO outgoing edge of the type (the
        MERGE "no match → create" branch, `src/cypher/executor.rs:962-1018`,
        as a standalone anti-join)."""
        es = self.graph.edges[rel_type]
        keys = es.df.select(F.col("src").alias("id"))
        return replace(
            self, frontier=self.frontier.join(keys, "id", "left_anti"),
            hop_frontier=self.hop_frontier.join(keys, "id", "left_anti")
            if self.hop_frontier is not None else None)

    def optional_out(self, rel_type: str, edge_cols: tuple[str, ...] = ()
                     ) -> "Query":
        """OPTIONAL MATCH one-hop: left-outer join keeping unmatched
        frontier rows with NULL edge columns. The reference parses OPTIONAL
        but drops the optionality (`src/cypher/ast.rs:32-36`, SURVEY.md
        §3.4 quirk #4) — this is the correct semantics."""
        es = self.graph.edges[rel_type]
        edge = es.df.select(
            F.col("src").alias("id"), F.col("dst").alias("__opt_dst"),
            *[F.col(c) for c in edge_cols],
        )
        out = self.frontier.join(edge, "id", "left_outer")
        return replace(self, frontier=out, hop_frontier=None)

    def out_variable_length(self, rel_type: str, min_hops: int,
                            max_hops: int | None) -> "Query":
        """BFS expansion min..max hops with dedup (`src/query.rs:171-218`).

        Returns a frontier of reachable node ids (all of the same label —
        the TPC-H projection's edge sets are label-homogeneous) joined back
        to their node table. Delegates to operators.traversal.expand.
        """
        return self._variable_length(rel_type, min_hops, max_hops, "out")

    def _variable_length(self, rel_type: str, min_hops: int,
                         max_hops: int | None, direction: str) -> "Query":
        ids, dst_label = expand(
            self.graph, self.frontier.select("id"), rel_type,
            min_hops=min_hops, max_hops=max_hops, direction=direction,
        )
        if dst_label is None:
            return replace(self, frontier=ids, label=None,
                           hop_frontier=None)
        return self._landed(ids, dst_label)

    def in_variable_length(self, rel_type: str, min_hops: int,
                           max_hops: int | None) -> "Query":
        """Reverse-direction BFS expansion (`src/query.rs:228-275`)."""
        return self._variable_length(rel_type, min_hops, max_hops, "in")

    def undirected_variable_length(self, rel_type: str, min_hops: int,
                                   max_hops: int | None) -> "Query":
        """Both-direction BFS expansion (`src/query.rs:285-354`)."""
        return self._variable_length(rel_type, min_hops, max_hops, "both")

    # -- dedup / sort / pagination (§2.6) --------------------------------
    def distinct(self) -> "Query":
        """Frontier dedup by node id (`src/query.rs:357-362`)."""
        return replace(
            self, frontier=self.frontier.dropDuplicates(["id"]),
            hop_frontier=self.hop_frontier.dropDuplicates(["id"])
            if self.hop_frontier is not None else None)

    def order_by(self, *keys, asc: bool = True) -> "Query":
        """Sort, missing-last in both directions (`src/query.rs:441-468`).

        Keys are column names or ``(name, asc)`` pairs for per-key
        direction (the reference's multi-key ORDER BY,
        `src/cypher/executor.rs:146-151`, in one call)."""
        cols = []
        for k in keys:
            name, up = (k, asc) if isinstance(k, str) else k
            cols.append(
                F.col(name).asc_nulls_last() if up else F.col(name).desc_nulls_last()
            )
        return replace(self, frontier=self.frontier.orderBy(*cols),
                       hop_frontier=None)

    def skip(self, n: int) -> "Query":
        """`src/query.rs:371-378` → native OFFSET."""
        return replace(self, frontier=self.frontier.offset(n),
                       hop_frontier=None)

    def limit(self, n: int) -> "Query":
        return replace(self, frontier=self.frontier.limit(n),
                       hop_frontier=None)

    def paginate(self, offset: int, count: int) -> "Query":
        """`src/query.rs:419-438`; identity paginate(o, c) == skip(o).limit(c)."""
        return self.skip(offset).limit(count)

    # -- set ops (§2.7) ---------------------------------------------------
    def union_all(self, other: "Query") -> "Query":
        """UNION ALL (`src/cypher/executor.rs:1653-1668`)."""
        return replace(self,
                       frontier=self.frontier.unionByName(other.frontier),
                       hop_frontier=None)

    def union(self, other: "Query") -> "Query":
        """UNION dedup-by-node-id (`src/cypher/executor.rs:1669-1682`)."""
        return self.union_all(other).distinct()

    # -- projection -------------------------------------------------------
    def select(self, *cols) -> DataFrame:
        """RETURN projection — terminal, yields the DataFrame. Served from
        the narrow post-hop frame when it can resolve every projected
        column (analysis is eager, so a miss raises and falls through) —
        an id-only RETURN after a traversal then never scans the target
        node table. The narrow path is restricted to all-string,
        non-star projections (r10 ADVICE #2): a Column-form star
        (``F.col('*')``, ``F.expr('x.*')``) would resolve against the
        narrow frame and silently return the hop column set instead of
        the joined schema, and only AnalysisException falls through —
        any other error is a real error on either frame and must
        surface, not be retried on a frame where it might "work"
        differently."""
        from pyspark.errors import AnalysisException

        narrow_ok = all(isinstance(c, str) and "*" not in c for c in cols)
        if self.hop_frontier is not None and narrow_ok:
            try:
                return self.hop_frontier.select(*cols)
            except AnalysisException:
                pass
        return self.frontier.select(*cols)

    @property
    def df(self) -> DataFrame:
        return self.frontier

    # -- terminal aggregates (§2.4), generalized to all numeric types ----
    def _agg_frame(self, *needed: str) -> DataFrame:
        """The cheapest frame that can serve a terminal aggregate: the
        narrow post-hop frame when it carries every referenced column
        (dropping the target node scan+join from the plan), else the full
        frontier. Resolution is by column name — hop columns (edge_cols /
        carry) never shadow target-node columns because the attribute
        join would have made such names ambiguous downstream already."""
        if self.hop_frontier is not None and all(
            c in self.hop_frontier.columns for c in needed
        ):
            return self.hop_frontier
        return self.frontier

    def count(self, alias: str = "cnt") -> DataFrame:
        return self._agg_frame().agg(F.count("*").alias(alias))

    def sum_(self, key: str, alias: str = "sum_val") -> DataFrame:
        return self._agg_frame(key).agg(F.sum(key).alias(alias))

    def avg_(self, key: str, alias: str = "avg_val") -> DataFrame:
        return self._agg_frame(key).agg(F.avg(key).alias(alias))

    def min_(self, key: str, alias: str = "min_val") -> DataFrame:
        return self._agg_frame(key).agg(F.min(key).alias(alias))

    def max_(self, key: str, alias: str = "max_val") -> DataFrame:
        return self._agg_frame(key).agg(F.max(key).alias(alias))

    def stdev(self, key: str, alias: str = "stdev_val",
              population: bool = False) -> DataFrame:
        """Sample σ for the fluent path (`src/query.rs:586-648`), population
        σ for the Cypher path (`src/cypher/executor.rs:482-501`) — exposed
        as a flag instead of two mismatched entry points (quirk #8)."""
        fn = F.stddev_pop if population else F.stddev_samp
        return self._agg_frame(key).agg(fn(key).alias(alias))

    def variance(self, key: str, alias: str = "var_val") -> DataFrame:
        return self._agg_frame(key).agg(F.var_samp(key).alias(alias))

    def percentile_cont(self, key: str, q: float,
                        alias: str = "percentile_val") -> DataFrame:
        """Linear-interpolation percentile (`src/cypher/executor.rs:532-573`)."""
        return self._agg_frame(key).agg(
            F.percentile(F.col(key), F.lit(q)).alias(alias))

    def percentile_disc(self, key: str, q: float,
                        alias: str = "percentile_val") -> DataFrame:
        """Discrete percentile (`src/cypher/executor.rs:574-579`): the
        reference floor-indexes the sorted values; SQL percentile_disc
        (inverse-CDF) matches that for q in (0,1]."""
        return self._agg_frame(key).agg(
            F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY {key})")
            .cast("double").alias(alias)
        )

    def group_by_agg(self, keys: list[str], aggs: dict[str, Column]) -> DataFrame:
        """Explicit GROUP BY (`src/cypher/parser.rs:589-613`): nulls group
        natively (the reference stringifies to a "NULL" bucket)."""
        from pyspark.errors import AnalysisException

        cols = [c.alias(a) for a, c in aggs.items()]
        if self.hop_frontier is not None:
            # The agg expressions are opaque Columns — probe by analysis:
            # DataFrame construction analyzes eagerly, so a reference to a
            # column only the full frontier carries raises here and falls
            # through to the wide frame. ONLY AnalysisException falls
            # through (r10 ADVICE #2) — any other error is genuine and
            # must not be silently retried on the wide frame.
            try:
                return self.hop_frontier.groupBy(*keys).agg(*cols)
            except AnalysisException:
                pass
        return self.frontier.groupBy(*keys).agg(*cols)

    def collect_(self, key: str, alias: str = "collected") -> DataFrame:
        """COLLECT(prop) (`src/cypher/executor.rs:478-481`). Sorted for
        deterministic comparison — collect_list order is partition-dependent."""
        return self._agg_frame(key).agg(
            F.sort_array(F.collect_list(key)).alias(alias))


@dataclass
class PageResult:
    """One page of results (`QueryCursor` page shape,
    `/root/reference/src/cypher/streaming.rs:28-60`). ``page`` is
    1-based here (the reference's is 0-based — documented divergence,
    pinned by the q10:cursor driver part)."""

    data: list
    page: int
    page_size: int
    total: int
    has_more: bool

    def is_first_page(self) -> bool:
        return self.page <= 1

    def is_last_page(self) -> bool:
        return not self.has_more

    def total_pages(self) -> int:
        if self.page_size <= 0:
            return 0
        return (self.total + self.page_size - 1) // self.page_size


class QueryCursor:
    """Stable pagination cursor over a sorted DataFrame
    (`/root/reference/src/cypher/streaming.rs:103-191`;
    `query_paginated` `:226-293`).

    Caches the sorted frame once (`persist`) so every page reuses the same
    snapshot — stable pagination REQUIRES an explicit sort (SURVEY.md
    §2.6); the total is computed once, `next_page` is offset/limit over
    the cached plan.
    """

    def __init__(self, df: DataFrame, order_cols: list[str], page_size: int = 100):
        if not order_cols:
            raise ValueError("stable pagination requires explicit order columns")
        self._df = df.orderBy(*order_cols).persist()
        self.page_size = page_size
        self.total = self._df.count()
        self.page = 0

    def next_page(self) -> PageResult | None:
        """The next page, or None once the cursor is exhausted (the
        reference's ``Option`` protocol,
        `src/cypher/streaming.rs:143-170`)."""
        offset = self.page * self.page_size
        if offset >= self.total:
            return None
        rows = self._df.offset(offset).limit(self.page_size).collect()
        self.page += 1
        return PageResult(
            data=rows,
            page=self.page,
            page_size=self.page_size,
            total=self.total,
            has_more=offset + len(rows) < self.total,
        )

    def position(self) -> int:
        """Rows consumed so far (`src/cypher/streaming.rs:172-175`)."""
        return min(self.page * self.page_size, self.total)

    def has_more(self) -> bool:
        return self.page * self.page_size < self.total

    def reset(self) -> None:
        """Rewind to the first page over the SAME cached snapshot
        (`src/cypher/streaming.rs:177-181`) — no recount, no re-sort."""
        self.page = 0

    def close(self) -> None:
        self._df.unpersist()
