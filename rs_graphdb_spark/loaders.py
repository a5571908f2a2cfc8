"""Load the driver's TPC-H-ish parquet tables as a PropertyGraph.

Projection (FIXTURES.md §F5):

    Customer -PLACED->    Order  -CONTAINS->  Part -SUPPLIED_BY-> Supplier
    Customer -CUST_NATION-> Nation -IN_REGION-> Region
    Supplier -SUPP_NATION-> Nation

Node properties keep their original TPC-H column names so every graph query
has a direct DuckDB-oracle twin over the raw tables. Edge ids reuse natural
keys where unique; synthetic edge tables derived from ``lineitem`` carry the
lineitem measures as edge properties.

All id assignment is arithmetic (``label_base + key``) — no
monotonically_increasing_id, no window over a global order, zero shuffles.

The load runs no Spark job: each table's schema comes from its parquet
footer, read on the driver (``session.read_parquet``), and every frame
below is a lazy plan over those relations. Nothing is cached or
materialized here, so query work stays in the queries; only the HTTP
server makes a graph's tables resident, on its first request
(``sources/http_server.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rs_graphdb_spark.graph import EdgeSet, PropertyGraph, label_base
from rs_graphdb_spark.session import read_parquet

#: The fixture's tables, one ``<name>.parquet`` file each.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: The tables the graph is built from: every fixture table but ``events``.
GRAPH_TABLES = tuple(t for t in TABLES if t != "events")


def read_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_parquet(spark, f"{sf_dir}/{t}.parquet") for t in GRAPH_TABLES}


def _nid(label: str, key_col: str):
    """Global node id column: label_base(label) + natural key."""
    return (F.lit(label_base(label)) + F.col(key_col).cast("long")).alias("id")


def load_tpch_graph(spark: SparkSession, sf_dir: str) -> PropertyGraph:
    t = read_tables(spark, sf_dir)

    # edge_integrity: every edge set below is derived from the same raw
    # tables as its endpoint node tables with TPC-H FK integrity — no
    # dangling endpoints, unique ids (arithmetic label_base + unique key).
    g = PropertyGraph(edge_integrity=True)
    g.nodes["Region"] = t["region"].select(_nid("Region", "r_regionkey"), "*")
    g.nodes["Nation"] = t["nation"].select(_nid("Nation", "n_nationkey"), "*")
    g.nodes["Customer"] = t["customer"].select(_nid("Customer", "c_custkey"), "*")
    g.nodes["Supplier"] = t["supplier"].select(_nid("Supplier", "s_suppkey"), "*")
    g.nodes["Part"] = t["part"].select(_nid("Part", "p_partkey"), "*")
    g.nodes["Order"] = t["orders"].select(_nid("Order", "o_orderkey"), "*")
    g.nodes["Document"] = t["documents"].select(_nid("Document", "doc_id"), "*")
    g.nodes["Embedding"] = t["embeddings"].select(_nid("Embedding", "vec_id"), "*")

    # Customer -PLACED-> Order (edge id = orderkey: one order, one placement)
    g.edges["PLACED"] = EdgeSet(
        df=t["orders"].select(
            F.col("o_orderkey").alias("edge_id"),
            (F.lit(label_base("Customer")) + F.col("o_custkey")).alias("src"),
            (F.lit(label_base("Order")) + F.col("o_orderkey")).alias("dst"),
            F.col("o_totalprice").alias("totalprice"),
        ),
        src_label="Customer",
        dst_label="Order",
    )

    # Order -CONTAINS-> Part, one edge per lineitem, measures as edge props.
    li = t["lineitem"]
    g.edges["CONTAINS"] = EdgeSet(
        df=li.select(
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("edge_id"),
            (F.lit(label_base("Order")) + F.col("l_orderkey")).alias("src"),
            (F.lit(label_base("Part")) + F.col("l_partkey")).alias("dst"),
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("extendedprice"),
            F.col("l_discount").alias("discount"),
        ),
        src_label="Order",
        dst_label="Part",
    )

    # Part -SUPPLIED_BY-> Supplier (distinct pairs seen in lineitem).
    g.edges["SUPPLIED_BY"] = EdgeSet(
        df=li.select(
            (F.lit(label_base("Part")) + F.col("l_partkey")).alias("src"),
            (F.lit(label_base("Supplier")) + F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
        .withColumn("edge_id", F.col("src") * 64 + (F.col("dst") % 64)),
        src_label="Part",
        dst_label="Supplier",
    )

    g.edges["CUST_NATION"] = EdgeSet(
        df=t["customer"].select(
            F.col("c_custkey").alias("edge_id"),
            (F.lit(label_base("Customer")) + F.col("c_custkey")).alias("src"),
            (F.lit(label_base("Nation")) + F.col("c_nationkey")).alias("dst"),
        ),
        src_label="Customer",
        dst_label="Nation",
    )
    g.edges["SUPP_NATION"] = EdgeSet(
        df=t["supplier"].select(
            F.col("s_suppkey").alias("edge_id"),
            (F.lit(label_base("Supplier")) + F.col("s_suppkey")).alias("src"),
            (F.lit(label_base("Nation")) + F.col("s_nationkey")).alias("dst"),
        ),
        src_label="Supplier",
        dst_label="Nation",
    )
    g.edges["IN_REGION"] = EdgeSet(
        df=t["nation"].select(
            F.col("n_nationkey").alias("edge_id"),
            (F.lit(label_base("Nation")) + F.col("n_nationkey")).alias("src"),
            (F.lit(label_base("Region")) + F.col("n_regionkey")).alias("dst"),
        ),
        src_label="Nation",
        dst_label="Region",
    )

    # ---- derived same-label edge sets -----------------------------------
    # The TPC-H FK graph is a DAG of distinct labels; variable-length
    # traversal, components, triangles etc. need homogeneous edges
    # (reference fixtures use KNOWS/FRIEND chains — FIXTURES.md §F2).
    # Both sets below are DETERMINISTIC functions of the raw tables, so the
    # DuckDB oracle reproduces them with plain SQL joins.

    # KNOWS: customer k → k+1 and k → k+2 when both endpoints share a
    # market segment (p≈1/5 ⇒ non-trivial chain runs + triangle closures
    # for triangle / clustering / k-core workloads). Arithmetic condition ⇒
    # equi-join on (custkey + offset), no extra shuffle.
    c = t["customer"].select("c_custkey", "c_mktsegment")
    knows_parts = []
    for off in (1, 2):
        a, b = c.alias("a"), c.alias("b")
        knows_parts.append(
            a.join(
                b,
                (F.col("b.c_custkey") == F.col("a.c_custkey") + off)
                & (F.col("b.c_mktsegment") == F.col("a.c_mktsegment")),
            ).select(
                (F.col("a.c_custkey") * 4 + off).alias("edge_id"),
                (F.lit(label_base("Customer")) + F.col("a.c_custkey")).alias("src"),
                (F.lit(label_base("Customer")) + F.col("b.c_custkey")).alias("dst"),
            )
        )
    g.edges["KNOWS"] = EdgeSet(
        df=knows_parts[0].unionByName(knows_parts[1]),
        src_label="Customer",
        dst_label="Customer",
    )

    # NEXT_ORDER: each customer's orders chained in (o_orderdate,
    # o_orderkey) sequence — a forest of chains (one per customer) for
    # var-length / shortest-path workloads. Window per customer; oracle =
    # lead() OVER (PARTITION BY o_custkey ...).
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
        )
        .filter(F.col("next_orderkey").isNotNull())
    )
    from pyspark.sql import Window

    # SEGMENT_RING: customers in the same (mktsegment, custkey//12 bucket)
    # chained in custkey order with a wrap-around edge — a forest of small
    # directed CYCLES. KNOWS and NEXT_ORDER are acyclic (keys strictly
    # increase), so this is the fixture that gives SCC something to find.
    # Oracle: lead() + first_value() window functions over the same keys.
    ring_w = Window.partitionBy("c_mktsegment", "bucket").orderBy("c_custkey")
    ring = (
        t["customer"]
        .select(
            "c_custkey",
            "c_mktsegment",
            (F.col("c_custkey") / 12).cast("long").alias("bucket"),
        )
        .withColumn(
            "next_key",
            F.coalesce(
                F.lead("c_custkey").over(ring_w),
                F.first("c_custkey").over(ring_w),
            ),
        )
    )
    g.edges["SEGMENT_RING"] = EdgeSet(
        df=ring.select(
            F.col("c_custkey").alias("edge_id"),
            (F.lit(label_base("Customer")) + F.col("c_custkey")).alias("src"),
            (F.lit(label_base("Customer")) + F.col("next_key")).alias("dst"),
        ),
        src_label="Customer",
        dst_label="Customer",
    )

    g.edges["NEXT_ORDER"] = EdgeSet(
        df=nxt.select(
            F.col("o_orderkey").alias("edge_id"),
            (F.lit(label_base("Order")) + F.col("o_orderkey")).alias("src"),
            (F.lit(label_base("Order")) + F.col("next_orderkey")).alias("dst"),
        ),
        src_label="Order",
        dst_label="Order",
    )
    return g
