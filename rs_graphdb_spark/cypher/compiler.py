"""Cypher AST → DataFrame compiler.

The reference executes eagerly over a single ``Vec<NodeId>`` frontier
(`/root/reference/src/cypher/executor.rs:93-160`), which collapses
multi-variable queries (quirks #1-#3). Here every pattern variable is a
column namespace ``var__<prop>`` in one binding DataFrame, so

- `RETURN a, b` returns both bindings (fixes quirk #1),
- WHERE references resolve to the named variable's columns (fixes #2),
- intermediate node labels/props are enforced via the hop join (fixes #3),
- OPTIONAL MATCH compiles to a left outer join (fixes #4),
- comparisons use native Spark semantics on all types (fixes #5).

Every pattern step is one ``operators.traversal.hop`` — the operator
``Query`` steps through too, with its one edge-direction rule and one BFS
(var-length binds per origin; only a deep or unbounded one loops
driver-side). A target node's table joins only when the statement reads
its properties, its pattern has props, or ``edge_integrity`` is false
(``traversal.attach``), so a count over a hop chain plans one join per
hop. Catalyst sees one declarative plan per statement — filter pushdown,
join reordering and broadcast selection all apply.
"""

from __future__ import annotations

from dataclasses import fields, is_dataclass
from dataclasses import replace as dc_replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rs_graphdb_spark.cypher import ast
from rs_graphdb_spark.cypher.parser import parse_cypher
from rs_graphdb_spark.graph import EdgeSet, PropertyGraph
from rs_graphdb_spark.operators import dml, traversal
from rs_graphdb_spark.session import local_df


class CypherCompileError(ValueError):
    pass


def _pref(var: str, col: str) -> str:
    return f"{var}__{col}"


def _prop_vars(node) -> set[str]:
    """The variables whose properties the AST under ``node`` reads."""
    if isinstance(node, ast.Prop):
        return {node.var}
    if is_dataclass(node):
        node = [getattr(node, f.name) for f in fields(node)]
    if isinstance(node, (tuple, list)):
        return set().union(*map(_prop_vars, node))
    return set()


def _lits(updates) -> dict[str, Column]:
    """SET items as literal columns. ``id`` is the node key that edges
    point at, so a SET of it would orphan the node's edges."""
    if any(k == "id" for k, _ in updates):
        raise CypherCompileError("SET cannot change a node's id")
    return {k: F.lit(v) for k, v in updates}


class Compiler:
    def __init__(self, graph: PropertyGraph):
        self.g = graph

    def _copy(self, clear_integrity: bool = False) -> PropertyGraph:
        """A write's output graph: fresh catalogs over the same tables.
        SET, DELETE and FOREACH mint no id and add no edge, so they keep
        ``edge_integrity``; CREATE and MERGE clear it."""
        return PropertyGraph(
            nodes=dict(self.g.nodes), edges=dict(self.g.edges),
            edge_integrity=self.g.edge_integrity and not clear_integrity)

    # -- pattern compilation --------------------------------------------
    def _compile_path(self, path: ast.PatternPath, used: set[str],
                      labels: dict[str, str]) -> tuple[DataFrame, dict[str, str]]:
        """One pattern path as a binding frame: the start node's rows, then
        one ``traversal.hop`` per step. A target's node table joins only by
        ``traversal.attach``'s rule (``used``: variables whose properties
        the statement reads). ``labels`` (variable → label, bound so far)
        lends its label to an unlabeled start."""
        start = path.start
        label = start.label or labels.get(start.var)
        if label is None:
            raise CypherCompileError(
                f"cannot infer label for node variable {start.var!r}"
            )
        df = traversal.node_frame(self.g, label, _pref(start.var, ""), start.props)
        bound = {start.var: label}
        prev = start
        for rel, node in path.hops:
            if rel.rel_type not in self.g.edges:
                raise CypherCompileError(f"unknown relationship type {rel.rel_type!r}")
            to = _pref(node.var, "id")
            cycle = node.var in bound  # the far end must be that node
            try:
                df, label = traversal.hop(
                    self.g, df, rel.rel_type, rel.direction,
                    (rel.min_hops, rel.max_hops),
                    _pref(prev.var, "id"), "__back" if cycle else to,
                )
            except ValueError as exc:
                raise CypherCompileError(str(exc)) from None
            if node.label and node.label != label:
                raise CypherCompileError(
                    f"pattern label {node.label!r} does not match edge "
                    f"endpoint {label!r}"
                )
            if cycle:
                df = df.filter(F.col("__back") == F.col(to)).drop("__back")
                if node.props:
                    df = df.join(traversal.node_frame(self.g, label, _pref(node.var, ""),
                                                      node.props).select(to), to, "left_semi")
            else:
                df = traversal.attach(self.g, df, label, _pref(node.var, ""),
                                      node.props, node.var in used)
                bound[node.var] = label
            prev = node
        return df, bound

    def _compile_matches(self, matches, used: set[str]
                         ) -> tuple[DataFrame, dict[str, str]]:
        """The MATCH/WITH pipeline as one binding frame, and the label of
        every bound variable."""
        df: DataFrame | None = None
        bound: dict[str, str] = {}
        for m in matches:
            if isinstance(m, ast.WithClause):
                if df is None:
                    raise CypherCompileError("WITH/WHERE before any MATCH")
                if m.where is not None:
                    df = df.filter(self._predicate(m.where, df))
                if m.vars or m.props:  # project to the listed items
                    missing = set(m.vars) - bound.keys()
                    if missing:
                        raise CypherCompileError(f"WITH references unbound {missing}")
                    keep = [F.col(c) for c in df.columns
                            if c.split("__")[0] in set(m.vars)]
                    for p, alias in m.props:
                        col = self._col(p, df)
                        # unaliased `WITH a.name` keeps the namespaced
                        # column so `RETURN a.name` still resolves;
                        # aliased becomes a plain bare-name column
                        keep.append(col.alias(alias) if alias
                                    else col.alias(_pref(p.var, p.key)))
                    df = df.select(*keep)
                    kept = set(m.vars) | {p.var for p, a in m.props if a is None}
                    bound = {v: lb for v, lb in bound.items() if v in kept}
                continue
            for path in m.paths:
                pdf, pvars = self._compile_path(path, used, bound)
                if df is None:
                    df, bound = pdf, pvars
                    continue
                # a shared variable joins on its id alone: its other
                # columns are the same node's, and SQL equality on a NULL
                # one would drop the row
                join_cols = [_pref(v, "id") for v in sorted(bound.keys() & pvars.keys())
                             if _pref(v, "id") in df.columns]
                pdf = pdf.select([c for c in pdf.columns
                                  if c in join_cols or c not in df.columns])
                how = "left_outer" if m.optional else "inner"
                if join_cols:
                    df = df.join(pdf, join_cols, how)
                else:
                    df = df.crossJoin(pdf) if not m.optional else df.join(
                        pdf, F.lit(True), "left_outer"
                    )
                bound = {**pvars, **bound}
        if df is None:
            raise CypherCompileError("query has no MATCH clause")
        return df, bound

    # -- expression compilation -----------------------------------------
    def _col(self, expr, df: DataFrame) -> Column:
        if isinstance(expr, ast.Prop):
            name = _pref(expr.var, expr.key)
            if name not in df.columns:
                raise CypherCompileError(f"unknown property {expr.var}.{expr.key}")
            return F.col(name)
        if isinstance(expr, ast.Lit):
            return F.lit(expr.value)
        raise CypherCompileError(f"cannot compile operand {expr!r}")

    def _predicate(self, cond, df: DataFrame) -> Column:
        if isinstance(cond, ast.BoolOp):
            cols = [self._predicate(c, df) for c in cond.items]
            out = cols[0]
            for c in cols[1:]:
                out = (out & c) if cond.op == "and" else (out | c)
            return out
        if isinstance(cond, ast.Not):
            return ~self._predicate(cond.item, df)
        if isinstance(cond, ast.IsNull):
            c = self._col(cond.expr, df)
            return c.isNotNull() if cond.negate else c.isNull()
        if isinstance(cond, ast.Exists):
            return self._col(cond.expr, df).isNotNull()
        if isinstance(cond, ast.Cmp):
            left = self._col(cond.left, df)
            if cond.op == "=~":
                return left.rlike(cond.right.value if isinstance(cond.right, ast.Lit) else "")
            if cond.op == "in":
                return left.isin(cond.right.value)
            right = self._col(cond.right, df)
            return {
                "=": left == right, "<>": left != right,
                ">": left > right, "<": left < right,
                ">=": left >= right, "<=": left <= right,
            }[cond.op]
        raise CypherCompileError(f"cannot compile predicate {cond!r}")

    # -- projection ------------------------------------------------------
    def _item_name(self, item: ast.ReturnItem) -> str:
        if item.alias:
            return item.alias
        if item.agg:
            base = item.agg if item.expr is None else f"{item.agg}_{item.expr.key}"
            return base
        if isinstance(item.expr, ast.Prop):
            return item.expr.key
        return str(item.expr)

    def _agg_col(self, item: ast.ReturnItem, df: DataFrame) -> Column:
        name = self._item_name(item)
        if item.agg == "count":
            if item.expr is None:
                return F.count("*").alias(name)
            c = self._col(item.expr, df)
            return (F.count_distinct(c) if item.distinct else F.count(c)).alias(name)
        c = self._col(item.expr, df)
        if item.distinct:
            raise CypherCompileError("DISTINCT inside non-count aggregates unsupported")
        fn = {
            "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
            "collect": F.collect_list,
            # Cypher-path STDEV is population σ (`src/cypher/executor.rs:
            # 482-501`); STDEVP maps to the same there — we expose both
            # correctly instead.
            "stdev": F.stddev_samp, "stdevp": F.stddev_pop,
        }.get(item.agg)
        if fn is not None:
            return fn(c).alias(name)
        if item.agg == "percentilecont":
            return F.percentile(c, F.lit(item.agg_param)).alias(name)
        if item.agg == "percentiledisc":
            return F.expr(
                f"percentile_disc({item.agg_param}) WITHIN GROUP (ORDER BY "
                f"{_pref(item.expr.var, item.expr.key)})"
            ).alias(name)
        raise CypherCompileError(f"unknown aggregate {item.agg!r}")

    def _project(self, q: ast.ReadQuery, df: DataFrame) -> DataFrame:
        has_agg = any(i.agg for i in q.items)
        if has_agg:
            if q.group_by:
                keys = [self._col(p, df).alias(p.key) for p in q.group_by]
            else:
                # standard Cypher implicit grouping: non-aggregate items
                keys = [
                    self._col(i.expr, df).alias(self._item_name(i))
                    for i in q.items if not i.agg
                ]
            aggs = [self._agg_col(i, df) for i in q.items if i.agg]
            out = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
        else:
            cols = []
            for i in q.items:
                if isinstance(i.expr, str):
                    # bare name: a node variable → its id column, or a
                    # plain column created by `WITH ... AS alias`
                    if _pref(i.expr, "id") in df.columns:
                        cols.append(F.col(_pref(i.expr, "id")).alias(i.alias or i.expr))
                    elif i.expr in df.columns:
                        cols.append(F.col(i.expr).alias(i.alias or i.expr))
                    else:
                        raise CypherCompileError(f"unknown variable {i.expr!r}")
                else:
                    cols.append(self._col(i.expr, df).alias(self._item_name(i)))
            out = df.select(*cols)
        if q.ret_distinct:
            out = out.dropDuplicates()
        if q.order_by:
            keys = []
            for o in q.order_by:
                name = o.key.split(".")[-1] if "." in o.key else o.key
                col = F.col(name)
                # missing values sort last in both directions, matching the
                # reference (`src/query.rs:441-468`)
                keys.append(col.asc_nulls_last() if o.asc else col.desc_nulls_last())
            out = out.orderBy(*keys)
        if q.skip:
            out = out.offset(q.skip)
        if q.limit is not None:
            out = out.limit(q.limit)
        return out

    # -- statements ------------------------------------------------------
    def run_read(self, q: ast.ReadQuery) -> DataFrame:
        df, _ = self._compile_matches(q.matches, _prop_vars(q))
        if q.where is not None:
            df = df.filter(self._predicate(q.where, df))
        return self._project(q, df)

    def run(self, stmt):
        if isinstance(stmt, ast.ReadQuery):
            return self.run_read(stmt)
        if isinstance(stmt, ast.UnionQuery):
            parts = [self.run_read(p) for p in stmt.parts]
            out = parts[0]
            for p in parts[1:]:
                if set(p.columns) == set(out.columns):
                    out = out.unionByName(p)
                elif len(p.columns) == len(out.columns):
                    # reference unions NODE results regardless of the
                    # variable names each branch used
                    # (`tests/union_test.rs:214-238` — RETURN f ∪ RETURN
                    # u); positional union under the first branch's names
                    out = out.union(p)
                else:
                    raise CypherCompileError(
                        "UNION branches return different column counts: "
                        f"{out.columns} vs {p.columns}"
                    )
            # UNION dedups whole rows (standard SQL; reference dedups by
            # node id, `src/cypher/executor.rs:1669-1682`)
            return out if stmt.all else out.dropDuplicates()
        if isinstance(stmt, ast.CreateStmt):
            return self._run_create(stmt)
        if isinstance(stmt, ast.CreateRelStmt):
            return self._run_create_rel(stmt)
        if isinstance(stmt, ast.DeleteStmt):
            return self._run_delete(stmt)
        if isinstance(stmt, ast.SetStmt):
            return self._run_set(stmt)
        if isinstance(stmt, ast.MergeStmt):
            return self._run_merge(stmt)
        if isinstance(stmt, ast.MergeRelStmt):
            return self._run_merge_rel(stmt)
        if isinstance(stmt, ast.ForeachStmt):
            return self._run_foreach(stmt)
        if isinstance(stmt, ast.CallStmt):
            return self._run_call(stmt)
        if isinstance(stmt, ast.TransactionStmt):
            # no-op: batch-job atomicity replaces op-log transactions
            # (SURVEY.md §2.11); returns the unchanged graph so scripted
            # BEGIN/COMMIT/ROLLBACK sequences run through unchanged
            return self.g
        raise CypherCompileError(f"unsupported statement {stmt!r}")

    def _run_merge_rel(self, stmt: ast.MergeRelStmt) -> PropertyGraph:
        """Relationship MERGE: endpoint patterns that match no node are
        first created from their pattern props (reference creates the
        missing parts of the pattern, `src/cypher/executor.rs:861-1023`;
        scenario `tests/merge_comprehensive_test.rs:222-237`), then for
        every (a, b) endpoint pair the edge is created iff absent
        (left-anti against the edge table — `:962-1018`). A previously
        unseen rel type opens a new EdgeSet between the pattern labels.
        ON CREATE SET applies to newly created edges, ON MATCH SET to the
        edges that already existed. Idempotent."""
        from pyspark.sql import Window

        if len(stmt.path.hops) > 1:
            return self._run_merge_path(stmt)
        (rel, dst_node) = stmt.path.hops[0]
        src_pat, dst_pat = stmt.path.start, dst_node
        if rel.direction == "in":
            src_pat, dst_pat = dst_pat, src_pat
        g = self._copy(clear_integrity=True)
        if rel.rel_type in g.edges:
            es = g.edges[rel.rel_type]
        else:
            if not (src_pat.label and dst_pat.label):
                raise CypherCompileError(
                    f"new relationship type {rel.rel_type!r} needs labeled "
                    "endpoint patterns to declare its endpoints"
                )
            spark = next(iter(g.nodes.values())).sparkSession
            empty = local_df(spark, [], "edge_id long, src long, dst long")
            es = EdgeSet(df=empty, src_label=src_pat.label,
                         dst_label=dst_pat.label)

        def _ensure_nodes(np: ast.NodePattern, label: str) -> None:
            """Create the endpoint from its pattern when nothing matches
            (MERGE creates the missing parts of the pattern)."""
            if np.label and np.label != label:
                raise CypherCompileError(
                    f"pattern label {np.label!r} does not match edge endpoint {label!r}"
                )
            if label not in g.nodes:
                raise CypherCompileError(f"unknown label {label!r}")
            if not np.props:
                return
            pat = ast.NodePattern(var=np.var, label=label, props=np.props)
            merged = Compiler(g)._run_merge(ast.MergeStmt(node=pat))
            g.nodes[label] = merged.nodes[label]

        def _ids(np: ast.NodePattern, label: str) -> DataFrame:
            df = g.nodes[label]
            # MERGE endpoint patterns are point lookups (a handful of ids);
            # without the coalesce the CartesianProduct below schedules
            # left-partitions × right-partitions near-empty tasks — 4000+
            # tasks for a 1×1 pair on a 32-way table
            return df.filter(traversal.match_props(df, np.props)).select("id").coalesce(1)

        _ensure_nodes(src_pat, es.src_label)
        _ensure_nodes(dst_pat, es.dst_label)
        a = _ids(src_pat, es.src_label).withColumnRenamed("id", "src")
        b = _ids(dst_pat, es.dst_label).withColumnRenamed("id", "dst")
        pairs = a.crossJoin(b)
        # materialized before it is appended to the edge table it was
        # derived from (lineage rule, operators/dml.py)
        missing = pairs.join(
            es.df.select("src", "dst"), ["src", "dst"], "left_anti"
        ).localCheckpoint(eager=True)
        edge_df = es.df
        if stmt.on_match:
            matched = pairs.join(es.df.select("src", "dst"), ["src", "dst"],
                                 "left_semi")
            edge_df = dml.set_props_on(edge_df, matched, _lits(stmt.on_match))
        if missing.isEmpty():
            if edge_df is not es.df:
                g.edges[rel.rel_type] = EdgeSet(
                    df=edge_df, src_label=es.src_label, dst_label=es.dst_label
                )
            return g
        first_eid = dml.next_id(edge_df, "edge_id")
        w = Window.orderBy("src", "dst")
        new = missing.withColumn("edge_id", F.lit(first_eid - 1) + F.row_number().over(w))
        if stmt.on_create:
            new = new.withColumns(_lits(stmt.on_create))
        g.edges[rel.rel_type] = EdgeSet(
            df=dml.append_rows(edge_df, new),
            src_label=es.src_label,
            dst_label=es.dst_label,
        )
        return g

    def _run_merge_path(self, stmt: ast.MergeRelStmt) -> PropertyGraph:
        """Chained relationship MERGE
        `MERGE (a:L {..})-[:T1]->(b:L {..})-[:T2]->(c:L {..})`
        (reference `tests/multi_rel_merge_exec_test.rs:16-103`): every
        node pattern is matched-or-created, every hop edge is created iff
        absent — the reference creates the MISSING PARTS of the pattern
        rather than all-or-nothing. ON CREATE SET fires when the full
        path did not already exist (the create-path / partial-match
        scenarios), ON MATCH SET when it did; a SET naming a node
        variable updates that node's table, any other variable falls
        through to the hop edges (matching the single-hop form)."""
        pats = [stmt.path.start] + [dst for _, dst in stmt.path.hops]
        for np in pats:
            if np.label is None:
                raise CypherCompileError(
                    "chained MERGE needs labeled node patterns"
                )
        existed = self._path_exists(stmt.path)
        g = self.g
        for np in pats:
            g = Compiler(g)._run_merge(ast.MergeStmt(node=np))
        node_vars = {np.var for np in pats}
        edge_oc = stmt.on_create if stmt.on_create_var not in node_vars else ()
        edge_om = stmt.on_match if stmt.on_match_var not in node_vars else ()
        src = stmt.path.start
        for rel, dst in stmt.path.hops:
            g = Compiler(g)._run_merge_rel(ast.MergeRelStmt(
                path=ast.PatternPath(start=src, hops=((rel, dst),)),
                on_create=edge_oc, on_match=edge_om,
            ))
            src = dst
        var, updates = (
            (stmt.on_match_var, stmt.on_match) if existed
            else (stmt.on_create_var, stmt.on_create)
        )
        if updates and var in node_vars:
            np = next(p for p in pats if p.var == var)
            nodes = g.nodes[np.label]
            nodes = dml.set_props(nodes, traversal.match_props(nodes, np.props), _lits(updates))
            g = PropertyGraph(
                nodes={**g.nodes, np.label: nodes}, edges=dict(g.edges)
            )
        return g

    def _path_exists(self, path: ast.PatternPath) -> bool:
        """Pre-mutation probe: does at least one binding of the FULL
        pattern path exist? A rel type the graph lacks matches nothing."""
        if any(rel.rel_type not in self.g.edges for rel, _ in path.hops):
            return False
        df, _ = self._compile_path(path, set(), {})
        return not df.isEmpty()

    def _run_foreach(self, stmt: ast.ForeachStmt) -> PropertyGraph:
        """FOREACH over a literal node-id list + SET
        (`src/cypher/executor.rs:1561-1623`): isin filter + merge update.
        The target label is recovered from the id namespace
        (:func:`graph.label_of`)."""
        from rs_graphdb_spark.graph import ID_STRIDE, label_of

        if not stmt.ids:  # FOREACH over [] is a no-op (foreach_test.rs:58)
            return self._copy()
        if len({i // ID_STRIDE for i in stmt.ids}) != 1:
            raise CypherCompileError("FOREACH ids must share one label namespace")
        label = label_of(self.g.nodes, stmt.ids[0])
        if label is None:
            # raw dense ids (the reference's single-store model,
            # `tests/foreach_test.rs`): unambiguous when the graph has
            # exactly one node label
            if len(self.g.nodes) == 1:
                label = next(iter(self.g.nodes))
            else:
                raise CypherCompileError("FOREACH ids resolve to no known label")
        g = self._copy()
        g.nodes[label] = dml.set_props(
            g.nodes[label], F.col("id").isin(list(stmt.ids)), _lits(stmt.updates)
        )
        return g

    def _run_call(self, stmt: ast.CallStmt) -> DataFrame:
        """CALL { subquery } RETURN ... (`src/cypher/executor.rs:1625-1650`):
        outer projection over the inner result's columns (count(*) is the
        supported outer aggregate)."""
        df = self.run_read(stmt.inner)
        has_agg = any(i.agg for i in stmt.items)
        if has_agg:
            keys = [
                F.col(i.expr).alias(i.alias or i.expr)
                for i in stmt.items if not i.agg
            ]
            aggs = []
            for i in stmt.items:
                if not i.agg:
                    continue
                if i.agg != "count" or i.expr is not None:
                    raise CypherCompileError(
                        "CALL outer aggregates support count(*) only"
                    )
                aggs.append(F.count("*").alias(i.alias or "count"))
            out = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
        else:
            out = df.select(
                *[F.col(i.expr).alias(i.alias or i.expr) for i in stmt.items]
            )
        if stmt.order_by:
            keys = [
                F.col(o.key).asc_nulls_last() if o.asc
                else F.col(o.key).desc_nulls_last()
                for o in stmt.order_by
            ]
            out = out.orderBy(*keys)
        if stmt.skip:
            out = out.offset(stmt.skip)
        if stmt.limit is not None:
            out = out.limit(stmt.limit)
        return out

    # -- DML (graph-rewrite semantics; returns the NEW node DataFrame) ---
    def _create_node(self, g: PropertyGraph, np: ast.NodePattern) -> int:
        """Append one node row from a pattern, id = the label's next dense
        id; opens a new label table for a previously-unseen label. Returns
        the new id (mutates g's node dict)."""
        if np.label is None:
            raise CypherCompileError("CREATE needs a label")
        if not g.nodes:
            raise CypherCompileError(
                "CREATE on an empty graph needs a SparkSession-bearing "
                "table — load at least one label first"
            )
        nodes = g.nodes.get(np.label)
        nid = dml.next_node_id(g, np.label)
        row = dict(np.props)
        spark = next(iter(g.nodes.values())).sparkSession
        if row:
            # Arrow-path literal (see session.local_df): a pickled-list
            # relation taxes every later action with a Python task
            import pandas as pd

            new = spark.createDataFrame(pd.DataFrame([row]))
        else:
            new = spark.range(1).select()
        new = new.withColumn("id", F.lit(nid).cast("long"))
        if nodes is None:
            g.nodes[np.label] = new.select("id", *[c for c in new.columns if c != "id"])
        else:
            g.nodes[np.label] = dml.append_rows(nodes, new)
        return nid

    def _run_create(self, stmt: ast.CreateStmt) -> PropertyGraph:
        """CREATE appends rows (`src/cypher/executor.rs:610-648`); id =
        max(id)+1 per created node — dense-enough without a single writer
        (SURVEY.md §7 hard-point #4)."""
        g = self._copy(clear_integrity=True)
        for np in stmt.nodes:
            self._create_node(g, np)
        return g

    def _run_create_rel(self, stmt: ast.CreateRelStmt) -> PropertyGraph:
        """CREATE (a:L {..})-[:T]->(b:L {..}): unconditionally create BOTH
        endpoint nodes and the relationship (reference create-path form,
        `tests/cypher_delete_test.rs:41-45`). A previously-unseen rel type
        opens a new EdgeSet between the pattern labels. An endpoint id
        outside the namespace of its side's declared label raises
        (namespace rule, `operators/dml.py`): `(:Order)-[:KNOWS]->` into
        a Customer→Customer set."""
        (rel, dst_node) = stmt.path.hops[0]
        src_pat, dst_pat = stmt.path.start, dst_node
        if rel.direction == "in":
            src_pat, dst_pat = dst_pat, src_pat
        g = self._copy(clear_integrity=True)
        sid = self._create_node(g, src_pat)
        did = self._create_node(g, dst_pat)
        spark = next(iter(g.nodes.values())).sparkSession
        if rel.rel_type in g.edges:
            es = g.edges[rel.rel_type]
            try:
                dml.check_namespace(es.src_label, [sid], f"{rel.rel_type} src")
                dml.check_namespace(es.dst_label, [did], f"{rel.rel_type} dst")
            except ValueError as exc:
                raise CypherCompileError(str(exc)) from None
            new = local_df(spark, [(dml.next_id(es.df, "edge_id"), sid, did)],
                           "edge_id long, src long, dst long")
            g.edges[rel.rel_type] = dc_replace(es, df=dml.append_rows(es.df, new))
        else:
            if not (src_pat.label and dst_pat.label):
                raise CypherCompileError(
                    f"new relationship type {rel.rel_type!r} needs labeled "
                    "endpoint patterns"
                )
            g.edges[rel.rel_type] = EdgeSet(
                df=local_df(spark, [(1, sid, did)],
                            "edge_id long, src long, dst long"),
                src_label=src_pat.label, dst_label=dst_pat.label,
            )
        return g

    def _match_victims(self, match: ast.MatchClause, where, var: str) -> tuple[DataFrame, str]:
        df, labels = self._compile_matches([match], _prop_vars((match, where)))
        if where is not None:
            df = df.filter(self._predicate(where, df))
        if var not in labels:
            raise CypherCompileError(f"variable {var!r} not bound by MATCH")
        return df.select(F.col(_pref(var, "id")).alias("id")).dropDuplicates(), labels[var]

    def _run_delete(self, stmt: ast.DeleteStmt) -> PropertyGraph:
        """DELETE cascades to incident edges (`src/cypher/executor.rs:
        650-687`; cascade `src/storage/mem_store.rs:123-147`)."""
        victims, label = self._match_victims(stmt.match, stmt.where, stmt.var)
        return dml.delete_ids(self._copy(), label, victims)

    def _run_set(self, stmt: ast.SetStmt) -> PropertyGraph:
        """SET merges properties under the match predicate
        (`src/cypher/executor.rs:689-738`). SET may introduce a new
        property key — the reference's bags are open maps
        (`src/values/value.rs:14`); here that extends the table schema
        with NULLs for unmatched rows."""
        victims, label = self._match_victims(stmt.match, stmt.where, stmt.var)
        g = self._copy()
        g.nodes[label] = dml.set_props_on(g.nodes[label], victims, _lits(stmt.updates))
        return g

    def _run_merge(self, stmt: ast.MergeStmt) -> PropertyGraph:
        """MERGE = match full pattern else create, with ON CREATE SET /
        ON MATCH SET (`src/cypher/executor.rs:740-1211`). A label the
        graph lacks matches nothing, so MERGE opens it, as CREATE does."""
        np = stmt.node
        g = self._copy(clear_integrity=True)
        if np.label is None:
            # MERGE (n) — matches ANY node (reference
            # `tests/merge_comprehensive_test.rs:392-406`): a no-op on a
            # non-empty graph. Creating an anonymous label-less node has no
            # home in the label-table model → documented divergence.
            if any(not df.isEmpty() for df in g.nodes.values()):
                return g
            raise CypherCompileError(
                "MERGE without a label on an empty graph is unsupported "
                "(label-table model has no label-less store)"
            )
        nodes = g.nodes.get(np.label)
        cond = None if nodes is None else traversal.match_props(nodes, np.props)
        if nodes is None or nodes.filter(cond).isEmpty():
            self._create_node(g, dc_replace(np, props=(*np.props, *stmt.on_create)))
        elif stmt.on_match:
            g.nodes[np.label] = dml.set_props(nodes, cond, _lits(stmt.on_match))
        return g


def execute_cypher(graph: PropertyGraph, text: str):
    """Parse + compile + run one Cypher statement.

    Read queries and UNIONs return a DataFrame; DML statements return a
    NEW PropertyGraph (immutable-graph rewrite — the Spark replacement for
    the reference's in-place mutation under `&mut`)."""
    return Compiler(graph).run(parse_cypher(text))
