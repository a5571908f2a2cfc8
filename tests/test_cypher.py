"""Cypher front-end: parser + compiler against the sf0.001 fixture graph.

Covers the reference's test surface (`tests/cypher_test.rs`,
`tests/pattern_matching_test.rs`, `tests/union_test.rs`,
`tests/merge_comprehensive_test.rs` — SURVEY.md §5) with standard
semantics.
"""

import pytest
from pyspark.sql import functions as F

from rs_graphdb_spark.cypher import execute_cypher
from rs_graphdb_spark.cypher.ast import Cmp, Prop, ReadQuery
from rs_graphdb_spark.cypher.parser import CypherSyntaxError, parse_cypher
from rs_graphdb_spark.loaders import load_tpch_graph

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def g(spark):
    return load_tpch_graph(spark, SF)


# -- parser ------------------------------------------------------------------

def test_parse_match_where_return():
    q = parse_cypher(
        "MATCH (c:Customer) WHERE c.c_acctbal > 100 "
        "RETURN c.c_name AS name ORDER BY name DESC SKIP 2 LIMIT 5"
    )
    from rs_graphdb_spark.cypher.ast import Lit, WithClause

    assert isinstance(q, ReadQuery)
    # WHERE is carried as a keep-everything WithClause in the clause chain
    assert q.matches[1] == WithClause(
        vars=(), where=Cmp(">", Prop("c", "c_acctbal"), Lit(100))
    )
    assert q.items[0].alias == "name"
    assert q.order_by[0].asc is False
    assert (q.skip, q.limit) == (2, 5)


def test_parse_var_length_forms():
    for text, lo, hi in [
        ("[:KNOWS*]", 1, None), ("[:KNOWS*2]", 2, 2),
        ("[:KNOWS*1..3]", 1, 3), ("[:KNOWS*..4]", 1, 4), ("[:KNOWS*2..]", 2, None),
    ]:
        q = parse_cypher(f"MATCH (a:Customer)-{text}->(b) RETURN b")
        rel = q.matches[0].paths[0].hops[0][0]
        assert (rel.min_hops, rel.max_hops) == (lo, hi), text


def test_parse_rejects_garbage():
    with pytest.raises(CypherSyntaxError):
        parse_cypher("MATCH (a:Customer RETURN a")
    with pytest.raises(CypherSyntaxError):
        parse_cypher("FROBNICATE everything")


def test_no_keyword_sniffing():
    # reference quirk #9: a literal containing 'delete' must not
    # mis-dispatch (`src/cypher/parser.rs:855-863`)
    q = parse_cypher("MATCH (c:Customer {c_name: 'delete set merge'}) RETURN c")
    assert isinstance(q, ReadQuery)


# -- read execution ----------------------------------------------------------

def test_match_filter_project(g):
    df = execute_cypher(
        g, "MATCH (n:Nation) WHERE n.n_regionkey = 0 "
           "RETURN n.n_name AS name ORDER BY name"
    )
    expected = [
        r["n_name"] for r in
        g.nodes["Nation"].filter(F.col("n_regionkey") == 0)
        .orderBy("n_name").collect()
    ]
    assert [r["name"] for r in df.collect()] == expected


def test_hop_join_multi_variable(g):
    # fixes quirk #1: both endpoint bindings are returned
    df = execute_cypher(
        g, "MATCH (c:Customer)-[:PLACED]->(o:Order) "
           "WHERE o.o_totalprice > 400000.0 "
           "RETURN c.c_custkey AS ck, o.o_orderkey AS ok"
    )
    rows = df.collect()
    assert len(rows) > 0 and {"ck", "ok"} == set(df.columns)


def test_intermediate_pattern_enforced(g):
    # fixes quirk #3: label/props on non-start nodes filter the result
    all_hops = execute_cypher(
        g, "MATCH (c:Customer)-[:CUST_NATION]->(n:Nation) RETURN count(*) AS cnt"
    ).first()["cnt"]
    one_nation = execute_cypher(
        g, "MATCH (c:Customer)-[:CUST_NATION]->(n:Nation {n_nationkey: 3}) "
           "RETURN count(*) AS cnt"
    ).first()["cnt"]
    assert 0 < one_nation < all_hops


def test_aggregation_implicit_grouping(g):
    df = execute_cypher(
        g, "MATCH (c:Customer)-[:PLACED]->(o:Order) "
           "RETURN c.c_mktsegment AS seg, count(*) AS cnt, "
           "min(o.o_totalprice) AS lo ORDER BY seg"
    )
    exp = (
        g.nodes["Customer"].alias("c")
        .join(g.edges["PLACED"].df.alias("e"), F.col("c.id") == F.col("e.src"))
        .join(g.nodes["Order"].alias("o"), F.col("e.dst") == F.col("o.id"))
        .groupBy("c.c_mktsegment")
        .agg(F.count("*").alias("cnt"), F.min("o.o_totalprice").alias("lo"))
        .orderBy("c_mktsegment")
        .collect()
    )
    got = df.collect()
    assert [(r["seg"], r["cnt"], r["lo"]) for r in got] == [
        (r["c_mktsegment"], r["cnt"], r["lo"]) for r in exp
    ]


def test_var_length_expansion(g):
    got = execute_cypher(
        g, "MATCH (a:Customer)-[:KNOWS*1..2]->(b:Customer) "
           "WHERE a.c_custkey < 50 RETURN DISTINCT b.c_custkey AS k ORDER BY k"
    ).collect()
    assert len(got) > 0


def test_optional_match_left_join(g):
    # fixes quirk #4: customers with no KNOWS edge still appear
    df = execute_cypher(
        g, "MATCH (c:Customer) OPTIONAL MATCH (c:Customer)-[:KNOWS]->(d:Customer) "
           "RETURN c.c_custkey AS k, count(d.c_custkey) AS n"
    )
    n_cust = g.nodes["Customer"].count()
    assert df.count() == n_cust
    assert df.filter(F.col("n") == 0).count() > 0


def test_union_all_vs_union(g):
    base = ("MATCH (n:Nation) WHERE n.n_regionkey = {} "
            "RETURN n.n_regionkey AS rk")
    ua = execute_cypher(g, base.format(1) + " UNION ALL " + base.format(1))
    u = execute_cypher(g, base.format(1) + " UNION " + base.format(1))
    assert ua.count() == 2 * u.count() * (
        g.nodes["Nation"].filter(F.col("n_regionkey") == 1).count())  # rows vs dedup
    assert u.count() == 1


def test_regex_and_in(g):
    df = execute_cypher(
        g, "MATCH (n:Nation) WHERE n.n_name =~ '.*IA' AND "
           "n.n_regionkey IN [0, 1] RETURN n.n_name AS name"
    )
    for r in df.collect():
        assert r["name"].endswith("IA")


# -- DML ---------------------------------------------------------------------

def test_create_appends(g):
    g2 = execute_cypher(g, "CREATE (n:Nation {n_name: 'ATLANTIS', n_regionkey: 0})")
    assert g2.nodes["Nation"].count() == g.nodes["Nation"].count() + 1
    assert g2.nodes["Nation"].filter(F.col("n_name") == "ATLANTIS").count() == 1


def test_delete_cascades(g):
    g2 = execute_cypher(
        g, "MATCH (n:Nation) WHERE n.n_nationkey = 3 DELETE n"
    )
    assert g2.nodes["Nation"].count() == g.nodes["Nation"].count() - 1
    # incident CUST_NATION edges are gone
    nid = g.nodes["Nation"].filter(F.col("n_nationkey") == 3).first()["id"]
    assert g2.edges["CUST_NATION"].df.filter(F.col("dst") == nid).count() == 0


@pytest.mark.parametrize("stmt", [
    "MATCH (n:Nation) WHERE n.n_nationkey = 3 SET n.n_name = 7",
    "CREATE (n:Nation {n_name: 7, n_regionkey: 0})",
    "MERGE (n:Nation {n_nationkey: 3}) ON MATCH SET n.n_name = 3",
])
def test_write_cannot_change_column_type(g, stmt):
    # a number into the string column n_name would turn it bigint and
    # break every later read of Nation under ANSI casts
    with pytest.raises(ValueError, match=r"'n_name' is string"):
        execute_cypher(g, stmt)


def test_set_updates_props(g):
    g2 = execute_cypher(
        g, "MATCH (n:Nation) WHERE n.n_regionkey = 2 SET n.n_name = 'RENAMED'"
    )
    n = g.nodes["Nation"].filter(F.col("n_regionkey") == 2).count()
    assert g2.nodes["Nation"].filter(F.col("n_name") == "RENAMED").count() == n


def test_merge_match_vs_create(g):
    # existing → ON MATCH fires
    first = g.nodes["Nation"].first()
    g2 = execute_cypher(
        g, f"MERGE (n:Nation {{n_name: '{first['n_name']}'}}) "
           "ON MATCH SET n.n_comment = 'seen' ON CREATE SET n.n_comment = 'new'"
    )
    assert g2.nodes["Nation"].count() == g.nodes["Nation"].count()
    assert g2.nodes["Nation"].filter(
        F.col("n_comment") == "seen").count() == 1
    # absent → creates
    g3 = execute_cypher(
        g, "MERGE (n:Nation {n_name: 'ELDORADO'}) ON CREATE SET n.n_regionkey = 4"
    )
    assert g3.nodes["Nation"].count() == g.nodes["Nation"].count() + 1


# -- WITH / FOREACH / CALL ---------------------------------------------------

def test_with_projects_and_filters(g):
    df = execute_cypher(
        g, "MATCH (c:Customer)-[:CUST_NATION]->(n:Nation) "
           "WITH c WHERE c.c_acctbal > 9000.0 "
           "RETURN c.c_custkey AS k"
    )
    assert set(df.columns) == {"k"}
    exp = g.nodes["Customer"].filter(F.col("c_acctbal") > 9000.0).count()
    assert df.count() == exp  # every customer has exactly one nation


def test_with_drops_unlisted_vars(g):
    import pytest as _pt

    from rs_graphdb_spark.cypher.compiler import CypherCompileError

    with _pt.raises(CypherCompileError):
        execute_cypher(
            g, "MATCH (c:Customer)-[:CUST_NATION]->(n:Nation) "
               "WITH c RETURN n.n_name AS x"
        )


def test_foreach_set(g):
    from rs_graphdb_spark.graph import label_base

    ids = [label_base("Nation") + k for k in (0, 2)]
    g2 = execute_cypher(
        g, f"FOREACH (n IN {ids} | SET n.n_name = 'LOOPED')"
    )
    assert g2.nodes["Nation"].filter(F.col("n_name") == "LOOPED").count() == 2


def test_new_labels_get_distinct_namespaced_ids(g):
    # each new label starts inside its own id namespace, so nodes created
    # on two new labels never share an id and an edge between them keeps
    # distinct endpoints
    from rs_graphdb_spark.graph import label_base

    g2 = execute_cypher(execute_cypher(g, "CREATE (a:Alpha)"), "CREATE (b:Beta)")
    a = g2.nodes["Alpha"].first()["id"]
    b = g2.nodes["Beta"].first()["id"]
    assert (a, b) == (label_base("Alpha") + 1, label_base("Beta") + 1)
    g3 = execute_cypher(g, "CREATE (a:Gamma)-[:LINK]->(b:Delta)")
    e = g3.edges["LINK"].df.first()
    assert (e["src"], e["dst"]) == (label_base("Gamma") + 1, label_base("Delta") + 1)


def test_label_of_resolves_namespaces(g):
    from rs_graphdb_spark.graph import label_base, label_of

    assert label_of(g.nodes, label_base("Nation") + 3) == "Nation"
    assert label_of(g.nodes, label_base("Customer")) == "Customer"
    assert label_of({"Alpha": None, "Beta": None}, label_base("Beta") + 1) == "Beta"
    assert label_of({"Widget": None}, label_base("Widget") + 7) == "Widget"
    assert label_of(g.nodes, 1) is None  # raw dense id: no namespace
    assert label_of(g.nodes, label_base("Widget") + 7) is None  # not a label here


def test_create_rel_endpoint_outside_its_sides_namespace_raises(g):
    # KNOWS is Customer→Customer: an Order id on its src side would hide
    # the edge from the Order's /neighbors scan and from its DELETE cascade
    from rs_graphdb_spark.cypher.compiler import CypherCompileError

    with pytest.raises(CypherCompileError, match="KNOWS src .* 'Customer'"):
        execute_cypher(g, "CREATE (a:Order)-[:KNOWS]->(b:Customer)")
    with pytest.raises(CypherCompileError, match="KNOWS dst"):
        execute_cypher(g, "CREATE (a:Customer)-[:KNOWS]->(b:Order)")
    g2 = execute_cypher(g, "CREATE (a:Customer)-[:KNOWS]->(b:Customer)")
    assert g2.edges["KNOWS"].df.count() == g.edges["KNOWS"].df.count() + 1


def test_namespace_rule():
    from rs_graphdb_spark.graph import ID_STRIDE, label_base
    from rs_graphdb_spark.operators.dml import check_namespace

    cust = label_base("Customer") + 5
    check_namespace("Customer", [cust, label_base("Customer")])
    check_namespace("Node", [cust])  # the wildcard takes any id
    check_namespace("Order", [900020, 0, -3])  # raw ids lie in no namespace
    check_namespace("Widget", [label_base("Widget") + 1])
    for label, bad in (("Order", cust), ("Customer", 10 * ID_STRIDE),
                       ("Customer", label_base("Customer") + ID_STRIDE)):
        with pytest.raises(ValueError, match=f"lies outside the '{label}'"):
            check_namespace(label, [1, bad])


def test_foreach_over_ids_of_new_label(g):
    # ids created on an ad-hoc label resolve to it in a multi-label graph
    g2 = execute_cypher(execute_cypher(g, "CREATE (a:Omega {k: 1})"),
                        "CREATE (a:Omega {k: 2})")
    ids = sorted(r["id"] for r in g2.nodes["Omega"].collect())
    g3 = execute_cypher(g2, f"FOREACH (n IN {ids} | SET n.k = 0)")
    assert sorted(r["k"] for r in g3.nodes["Omega"].collect()) == [0, 0]
    assert g3.nodes["Customer"].count() == g.nodes["Customer"].count()


def _plan_lines(df) -> int:
    return len(df._jdf.queryExecution().analyzed().toString().splitlines())


# A SET, DELETE or MERGE-rel joins a frame derived from the table it
# rewrites back into it; unless that frame is materialized the plan
# doubles with every write. Linear growth: every write of one kind adds
# about as many plan lines as the first one did.

def test_set_delete_grow_the_plan_linearly(g):
    h = g
    sizes = [_plan_lines(h.nodes["Customer"])]
    for i in range(4):
        h = execute_cypher(h, f"MATCH (c:Customer) WHERE c.c_custkey = {i + 1} "
                              f"SET c.c_comment = 'w{i}'")
        sizes.append(_plan_lines(h.nodes["Customer"]))
    for i in range(4):
        h = execute_cypher(h, f"MATCH (c:Customer) WHERE c.c_custkey = {i + 10} "
                              "DELETE c")
        sizes.append(_plan_lines(h.nodes["Customer"]))
    steps = [b - a for a, b in zip(sizes, sizes[1:])]
    assert max(steps[:4]) <= steps[0] + 4, sizes
    assert max(steps[4:]) <= steps[4] + 4, sizes
    assert h.nodes["Customer"].count() == g.nodes["Customer"].count() - 4
    assert h.nodes["Customer"].filter(F.col("c_comment") == "w3").count() == 1


def test_merge_rel_grows_the_plan_linearly(g):
    h = g
    sizes = [_plan_lines(h.edges["KNOWS"].df)]
    for k in range(2, 6):
        h = execute_cypher(h, "MERGE (a:Customer {c_custkey: 1})-[:KNOWS]->"
                              f"(b:Customer {{c_custkey: {k}}})")
        sizes.append(_plan_lines(h.edges["KNOWS"].df))
    steps = [b - a for a, b in zip(sizes, sizes[1:])]
    assert max(steps) <= steps[0] + 4, sizes
    assert h.edges["KNOWS"].df.filter(F.col("src") == h.nodes["Customer"].filter(
        F.col("c_custkey") == 1).first()["id"]).count() >= 4


def test_call_subquery_passthrough(g):
    df = execute_cypher(
        g, "CALL { MATCH (n:Nation) WHERE n.n_regionkey = 1 "
           "RETURN n.n_name AS name } RETURN name ORDER BY name LIMIT 3"
    )
    exp = [
        r["n_name"] for r in g.nodes["Nation"]
        .filter(F.col("n_regionkey") == 1)
        .orderBy("n_name").limit(3).collect()
    ]
    assert [r["name"] for r in df.collect()] == exp


def test_call_subquery_count(g):
    df = execute_cypher(
        g, "CALL { MATCH (n:Nation) RETURN n.n_regionkey AS rk } "
           "RETURN rk, count(*) AS cnt ORDER BY rk"
    )
    exp = g.nodes["Nation"].groupBy("n_regionkey").count().orderBy("n_regionkey").collect()
    assert [(r["rk"], r["cnt"]) for r in df.collect()] == [
        (r["n_regionkey"], r["count"]) for r in exp
    ]


def test_merge_rel_creates_and_is_idempotent(g):
    # customers 1 and 5 exist; ensure a KNOWS edge between them
    q = ("MERGE (a:Customer {c_custkey: 1})-[:KNOWS]->"
         "(b:Customer {c_custkey: 5})")
    before = g.edges["KNOWS"].df.count()
    g2 = execute_cypher(g, q)
    assert g2.edges["KNOWS"].df.count() == before + 1
    g3 = execute_cypher(g2, q)  # idempotent
    assert g3.edges["KNOWS"].df.count() == before + 1


def test_merge_rel_rejects_undirected(g):
    with pytest.raises(CypherSyntaxError):
        parse_cypher("MERGE (a:Customer {c_custkey: 1})-[:KNOWS]-(b:Customer)")


def test_cursor_pagination(g):
    from rs_graphdb_spark.query import QueryCursor

    cur = QueryCursor(g.nodes["Nation"], ["n_nationkey"], page_size=10)
    try:
        pages = []
        while True:
            p = cur.next_page()
            pages.append(p)
            if not p.has_more:
                break
        assert sum(len(p.data) for p in pages) == cur.total
        keys = [r["n_nationkey"] for p in pages for r in p.data]
        assert keys == sorted(keys)
        assert pages[0].page == 1 and pages[0].page_size == 10
    finally:
        cur.close()


def test_var_length_direction_variants(g):
    # set-distance semantics: the start frontier is all at distance 0, so
    # expansion needs a PROPER SUBSET as the start set to be non-trivial
    from rs_graphdb_spark import Query

    def q():
        # even custkeys only: the +1 KNOWS neighbors are odd, i.e. OUTSIDE
        # the start set, so set-distance 1 is non-empty
        return Query(graph=g).from_label("Customer").where(
            F.col("c_custkey") % 2 == 0
        )

    out = q().out_variable_length("KNOWS", 1, 2).df.count()
    rev = q().in_variable_length("KNOWS", 1, 2).df.count()
    both = q().undirected_variable_length("KNOWS", 1, 2).df.count()
    assert out > 0 and rev > 0
    assert both >= max(out, rev)


def test_transaction_statements_are_noops(g):
    from rs_graphdb_spark.cypher import execute_cypher
    from rs_graphdb_spark.graph import PropertyGraph

    for stmt in ("BEGIN", "BEGIN TRANSACTION", "COMMIT", "ROLLBACK"):
        out = execute_cypher(g, stmt)
        assert isinstance(out, PropertyGraph)
        assert out.nodes.keys() == g.nodes.keys()


# ---------------------------------------------------------------------------
# Grammar fuzzer (r4 VERDICT item #9): a seeded generator emits valid
# statements across the whole statement grammar; every one must parse to
# the INTENDED statement class (no keyword-sniffing misdispatch — quirk
# #9 stays fixed), read queries must also compile; token-level mutants
# must either still parse or fail with CypherSyntaxError — NEVER leak an
# IndexError/KeyError/AttributeError out of the parser.
# (Upgraded analog of the reference's printf-style parser-debug
# scaffolds, `tests/parser_debug_test.rs`.)
# ---------------------------------------------------------------------------


def _gen_statement(rng):
    """Return (text, expected AST class name) for one random statement."""
    # label-appropriate props so valid parses are also semantically valid
    # (compile-able against the TPC-H test graph)
    # prop -> ANSI-safe literal kind (int props never get string
    # literals: Spark ANSI mode rejects the implicit cast)
    schema = {
        "Customer": {"c_custkey": "int", "c_acctbal": "num", "c_name": "str"},
        "Order": {"o_orderkey": "int", "o_totalprice": "num"},
        "Nation": {"n_nationkey": "int", "n_name": "str"},
        "Part": {"p_partkey": "int", "p_size": "int"},
    }
    labels = list(schema)
    kind = rng.randrange(9)
    # hops use KNOWS (Customer->Customer) and the compiler enforces edge
    # endpoint labels, so hop-bearing statements pin lab = Customer
    lab = "Customer" if kind == 1 else rng.choice(labels)
    props = list(schema[lab])

    def lit(p=None):
        kind_ = schema[lab].get(p, rng.choice(["int", "str", "num"]))
        if kind_ == "int":
            return str(rng.randrange(0, 500))
        if kind_ == "num":
            return str(rng.uniform(0, 9))[:6]
        return f"'{rng.choice(['ae', 'b c', 'x', 'GERMANY'])}'"

    def props_inline():
        if rng.random() < 0.5:
            return ""
        ps = rng.sample(props, rng.randrange(1, min(3, len(props) + 1)))
        return " {" + ", ".join(f"{p}: {lit(p)}" for p in ps) + "}"

    def node(var="n"):
        # one label per statement keeps inline props semantically valid
        return f"({var}:{lab}{props_inline()})"

    def varlen():
        return rng.choice(["", "*", "*2", "*1..3", "*..2", "*2.."])

    def rel(direction=None):
        d = direction or rng.choice(["->", "<-", "--"])
        # the reference grammar requires the [:TYPE] body (rel_pattern
        # eats '[' unconditionally — bare --> is rejected)
        body = f"[:KNOWS{varlen()}]"
        if d == "->":
            return f"-{body}->"
        if d == "<-":
            return f"<-{body}-"
        return f"-{body}-"

    def cond(var="n"):
        pn = rng.choice(props)
        p = f"{var}.{pn}"
        c = rng.choice([
            f"{p} = {lit(pn)}", f"{p} <> {lit(pn)}", f"{p} > {lit(pn)}",
            f"{p} <= {lit(pn)}", f"{p} IS NULL", f"{p} IS NOT NULL",
            f"EXISTS({p})", f"{p} =~ 'a.*'",
            f"{p} IN [{lit(pn)}, {lit(pn)}]",
        ])
        if rng.random() < 0.3:
            pn2 = rng.choice(props)
            c += f" {rng.choice(['AND', 'OR'])} {var}.{pn2} < {lit(pn2)}"
        return c

    if kind == 0:  # read query, optional hops/where/order/skip/limit
        q = f"MATCH {node('a')}"
        if rng.random() < 0.5 and lab == "Customer":
            q += f"{rel()}{node('b')}"
        if rng.random() < 0.6:
            q += f" WHERE {cond('a')}"
        # aggregates take * or a prop ref (reference grammar: count(*),
        # sum(n.prop) — never a bare variable)
        p0 = props[0]
        # numeric prop for sum/avg (strings would ANSI-fail the cast)
        p1 = next(p for p in props if schema[lab][p] in ("int", "num"))
        agg = rng.choice(["sum", "min", "max", "avg"])
        ret = rng.choice(["a", f"a.{p0}", f"a.{p0} AS k",
                          f"DISTINCT a.{p0}",
                          "count(*)", f"count(a.{p0})",
                          f"{agg}(a.{p1}) AS v",
                          f"a.{p0} AS g, count(*) AS c",
                          f"a.{p0} AS g, {agg}(a.{p1}) AS v",
                          "a, b" if "(b" in q else "a"])
        q += f" RETURN {ret}"
        if "AS k" in q and rng.random() < 0.5:
            q += " ORDER BY k" + rng.choice(["", " DESC", " ASC"])
        if rng.random() < 0.3:
            q += f" SKIP {rng.randrange(3)}"
        if rng.random() < 0.3:
            q += f" LIMIT {rng.randrange(1, 9)}"
        return q, "ReadQuery"
    if kind == 1:  # OPTIONAL MATCH read
        # reused variables repeat their label (the compiler does not
        # carry label bindings into a later clause's bare variable)
        q = (f"MATCH {node('a')} OPTIONAL MATCH (a:{lab}){rel('->')}"
             f"{node('b')} RETURN a, b")
        return q, "ReadQuery"
    if kind == 2:  # CREATE chain or rel
        if rng.random() < 0.5:
            nodes = ", ".join(
                f"(x{i}:Thing{props_inline()})"
                for i in range(rng.randrange(1, 4)))
            return f"CREATE {nodes}", "CreateStmt"
        return (f"CREATE (a:Thing {{kind: 1}})-[:REL]->(b:Thing {{kind: 2}})",
                "CreateRelStmt")
    if kind == 3:  # MERGE node (+ ON CREATE/ON MATCH)
        q = f"MERGE (m:Thing {{kind: {rng.randrange(5)}}})"
        if rng.random() < 0.5:
            q += f" ON CREATE SET m.flag = {rng.randrange(9)}"
        if rng.random() < 0.5:
            q += f" ON MATCH SET m.flag = {rng.randrange(9)}"
        return q, "MergeStmt"
    if kind == 4:  # MERGE rel chain
        hops = "".join(
            f"-[:R{i}]->(n{i}:Thing)" for i in range(rng.randrange(1, 3)))
        return f"MERGE (a:Thing {{kind: 0}}){hops}", "MergeRelStmt"
    if kind == 5:  # FOREACH
        ids = ", ".join(str(rng.randrange(50)) for _ in range(rng.randrange(1, 4)))
        return (f"FOREACH (v IN [{ids}] | SET v.flag = {rng.randrange(9)})",
                "ForeachStmt")
    if kind == 8:  # UNION [ALL] of two same-label reads
        u = rng.choice(["UNION", "UNION ALL"])
        p = props[0]
        return (f"MATCH (a:{lab}) WHERE {cond('a')} RETURN a.{p} "
                f"{u} MATCH (z:{lab}) WHERE {cond('z')} RETURN z.{p}",
                "UnionQuery")
    if kind == 6:  # CALL subquery
        return (f"CALL {{ MATCH {node('c')} RETURN c }} RETURN c"
                + (" LIMIT 5" if rng.random() < 0.5 else ""), "CallStmt")
    # transactions / DELETE / SET statements
    return rng.choice([
        ("BEGIN", "TransactionStmt"), ("COMMIT", "TransactionStmt"),
        ("ROLLBACK", "TransactionStmt"),
        (f"MATCH (n:Thing) WHERE n.kind = {rng.randrange(5)} DELETE n",
         "DeleteStmt"),
        (f"MATCH (n:Thing) SET n.flag = {rng.randrange(9)}", "SetStmt"),
    ])


def test_cypher_grammar_fuzz_valid_statements_parse_to_intent():
    import random

    from rs_graphdb_spark.cypher.parser import parse_cypher

    rng = random.Random(20260815)
    for i in range(1200):
        text, want = _gen_statement(rng)
        stmt = parse_cypher(text)
        got = type(stmt).__name__
        assert got == want, f"{text!r} -> {got}, wanted {want}"


def test_cypher_grammar_fuzz_read_queries_compile(graph):
    import random

    from rs_graphdb_spark.cypher.compiler import Compiler
    from rs_graphdb_spark.cypher.parser import parse_cypher

    rng = random.Random(77)
    n_compiled = 0
    while n_compiled < 60:
        text, want = _gen_statement(rng)
        if want != "ReadQuery" or ":Thing" in text:
            continue
        df = Compiler(graph).run(parse_cypher(text))
        assert df.columns, text  # a real (lazy) DataFrame plan
        n_compiled += 1


def test_cypher_grammar_fuzz_mutants_fail_cleanly():
    """Token-level mutations (delete/duplicate/swap/garbage-insert) must
    either still parse or raise CypherSyntaxError — never an internal
    exception class escaping the parser."""
    import random
    import re

    from rs_graphdb_spark.cypher.parser import CypherSyntaxError, parse_cypher

    rng = random.Random(4242)
    n_rejected = n_accepted = 0
    for i in range(1200):
        text, _ = _gen_statement(rng)
        toks = re.findall(r"\w+|[^\w\s]", text)
        if len(toks) < 2:
            continue
        op = rng.randrange(4)
        j = rng.randrange(len(toks))
        if op == 0:
            del toks[j]
        elif op == 1:
            toks.insert(j, toks[j])
        elif op == 2:
            k = rng.randrange(len(toks))
            toks[j], toks[k] = toks[k], toks[j]
        else:
            toks.insert(j, rng.choice(["%", "@@", ")", "(", "WHERE", "42"]))
        mutant = " ".join(toks)
        try:
            parse_cypher(mutant)
            n_accepted += 1
        except CypherSyntaxError:
            n_rejected += 1
        # any other exception type propagates and fails the test
    # the mutator must actually exercise the error paths
    assert n_rejected > 300, (n_rejected, n_accepted)
