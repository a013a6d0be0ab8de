"""Graph-shaped operators: edge extraction (X1) and transitive closure (J5–J7)
expressed over the relational testdata, with recursive-CTE oracles.

The production-grade versions over record envelopes live in
data_pipeline_spark/pipeline/ (closure.py, edges.py); these declared queries
pin the semantics against DuckDB on data the driver owns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..pipeline.closure import closure_sql, connected_components, connected_components_star
from .registry import query


@query(
    "x01_edges_extraction",
    oracle="""
    SELECT subject, predicate, object FROM (
        SELECT 'order:' || o_orderkey AS subject, 'placed_by' AS predicate,
               'customer:' || o_custkey AS object
        FROM orders
        UNION ALL
        SELECT 'customer:' || c_custkey, 'in_nation', 'nation:' || c_nationkey
        FROM customer
        UNION ALL
        SELECT 'nation:' || n_nationkey, 'in_region', 'region:' || n_regionkey
        FROM nation
        UNION ALL
        SELECT 'supplier:' || s_suppkey, 'in_nation', 'nation:' || s_nationkey
        FROM supplier
    )
    """,
    survey="X1,X3,K6",
)
def x01_edges_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple extraction (X1, marklogic/mapper.py:195-846): flatten typed
    rows into a uniform edges(subject, predicate, object) relation — the
    first-class queryable model for DSL traversals and NT export."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")

    def edge(df, s_prefix, s_col, pred, o_prefix, o_col):
        return df.select(
            F.concat(F.lit(s_prefix), F.col(s_col).cast("string")).alias("subject"),
            F.lit(pred).alias("predicate"),
            F.concat(F.lit(o_prefix), F.col(o_col).cast("string")).alias("object"),
        )

    return (
        edge(orders, "order:", "o_orderkey", "placed_by", "customer:", "o_custkey")
        .unionAll(edge(cust, "customer:", "c_custkey", "in_nation", "nation:", "c_nationkey"))
        .unionAll(edge(nation, "nation:", "n_nationkey", "in_region", "region:", "n_regionkey"))
        .unionAll(edge(supp, "supplier:", "s_suppkey", "in_nation", "nation:", "s_nationkey"))
    )


@query(
    "x04_reference_distances",
    oracle="""
    WITH RECURSIVE walk(uri, distance) AS (
        SELECT 'customer:' || c_custkey, 0
        FROM customer WHERE c_custkey < 5
        UNION
        SELECT e.object, w.distance + 1
        FROM walk w
        JOIN (
            SELECT 'customer:' || c_custkey AS subject,
                   'nation:' || c_nationkey AS object FROM customer
            UNION ALL
            SELECT 'nation:' || n_nationkey, 'region:' || r_regionkey
            FROM nation JOIN region ON n_regionkey = r_regionkey
        ) e ON w.uri = e.subject
        WHERE w.distance < 3
    )
    SELECT uri, MIN(distance) AS distance FROM walk GROUP BY uri
    """,
    survey="X3,X4,A12",
)
def x04_reference_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference walk with BFS distance (X3/X4, reference_manager.py:
    141-210): min distance from seed customers through the FK graph,
    bounded at 3 hops — the iterative-join operator pinned against a
    recursive-CTE oracle."""
    from ..pipeline.references import reference_distances

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    edges = (
        cust.select(
            F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias("subject"),
            F.lit("in_nation").alias("predicate"),
            F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")).alias("object"),
        )
        .unionAll(
            nation.join(region, nation.n_regionkey == region.r_regionkey).select(
                F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("subject"),
                F.lit("in_region").alias("predicate"),
                F.concat(F.lit("region:"), F.col("r_regionkey").cast("string")).alias("object"),
            )
        )
    )
    seeds = cust.filter(F.col("c_custkey") < 5).select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias("uri")
    )
    return reference_distances(edges, seeds, max_distance=3)


@query(
    "j05_connected_components",
    oracle="""
    WITH RECURSIVE edges AS (
        -- undirected nation graph: nations sharing a region
        SELECT a.n_nationkey AS src, b.n_nationkey AS dst
        FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
    ),
    walk(node, label) AS (
        SELECT n_nationkey, n_nationkey FROM nation
        UNION
        SELECT e.dst, w.label
        FROM walk w JOIN edges e ON w.node = e.src
        WHERE w.label < e.dst
    )
    SELECT node, MIN(label) AS component FROM walk GROUP BY node
    """,
    survey="J5,J6,J7",
)
def j05_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive equivalence closure (J5/J7, collector.py:108-278 +
    reference_manager.py:212-407): connected-components labeling through
    the default size-routed closure (pipeline/closure.py — the local
    gather at this size), pinned here against a recursive-CTE oracle on
    the nation/region graph."""
    nation = load_table(spark, sf_dir, "nation")
    a = nation.alias("a")
    b = nation.alias("b")
    edges = a.join(b, F.col("a.n_regionkey") == F.col("b.n_regionkey")).select(
        F.col("a.n_nationkey").alias("src"), F.col("b.n_nationkey").alias("dst")
    )
    comps = connected_components(edges, src="src", dst="dst")
    return comps.select(F.col("node"), F.col("component"))


_PR_D = 0.85  # damping
_PR_ITERS = 3
_PR_TOPK = 20


def _g03_oracle() -> str:
    # The teleport term is interpolated as the Python-computed double
    # (repr of 1 - _PR_D = 0.15000000000000002) rather than the SQL text
    # `(1 - 0.85)`: DuckDB evaluates the latter in DECIMAL (exactly 0.15)
    # before the double division, while Spark adds F.lit((1-_PR_D)/n) —
    # off by one ulp, enough to flip a rank at a ROUND boundary.  Both
    # engines now share the identical constant (determinism contract).
    def step(prev: str, i: int) -> str:
        return f"""
    p{i} AS (
        SELECT n.node,
               ROUND({(1 - _PR_D)!r} / nt.nn + {_PR_D} * COALESCE(c.s, 0.0), 12)
                 AS rank
        FROM nodes n CROSS JOIN nt
        LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(CAST(p.rank / od.outdeg AS DECIMAL(38,20)))
                        AS DOUBLE) AS s
            FROM edges e
            JOIN {prev} p ON p.node = e.src
            JOIN outdeg od ON od.node = e.src
            GROUP BY e.dst
        ) c ON c.node = n.node
    )"""

    steps = ",".join(step(f"p{i - 1}", i) for i in range(1, _PR_ITERS + 1))
    return f"""
    WITH edges AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nodes AS (
        SELECT 'c' || c_custkey AS node FROM customer
        UNION
        SELECT 's' || s_suppkey FROM supplier
    ),
    nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM nodes),
    outdeg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
    p0 AS (
        SELECT n.node, 1.0 / nt.nn AS rank FROM nodes n CROSS JOIN nt
    ),
    {steps}
    SELECT node, ROUND(rank, 9) AS rank FROM (
        SELECT node, rank,
               row_number() OVER (ORDER BY rank DESC, node) AS rn
        FROM p{_PR_ITERS}
    ) WHERE rn <= {_PR_TOPK}
    """


@query("g03_pagerank", oracle=_g03_oracle(), survey="J5,graph-analytics")
def g03_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer->supplier purchase graph, 3 fixed
    iterations, damping 0.85, top-20 by rank — iterative graph
    analytics beyond the closure family (J5 is a closure to a
    FIXPOINT; PageRank is the weighted-mass cousin every analytics
    engine ships).  Each iteration is ONE join (edges x ranks on src,
    both co-partitionable on the node key) plus one aggregate, so the
    100 TB posture is that of closure.py's star rounds: rounds x
    (shuffle on node id), lineage truncated per round in the
    production path, AQE handles the inevitable in-degree
    skew (celebrity suppliers) by splitting the oversized reduce
    partitions.

    Determinism (the k-means recipe): per-edge contributions
    rank/outdeg are exact IEEE divisions; the in-neighbor SUM — the
    only order-dependent accumulation — runs in DECIMAL(38,20); each
    new rank ROUNDs to 12 before re-entering the next iteration, so
    all 3 iterations replay bit-identically in the DuckDB oracle.
    Dangling mass (suppliers have no out-edges) is deliberately NOT
    redistributed — the classic simplified PR both engines state
    identically."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")

    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    nodes = (
        customer.select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node")
        )
        .union(
            supplier.select(
                F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node")
            )
        )
        .distinct()
    )
    # one bounded scalar: the node count (same role as closure round
    # counts — driver-side control, not data)
    n_nodes = float(nodes.count())
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))

    ranks = nodes.select("node", (F.lit(1.0) / F.lit(n_nodes)).alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg.withColumnRenamed("src", "src2"), F.col("src") == F.col("src2"))
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("contrib"),
            )
            .groupBy("node")
            .agg(
                F.sum(F.col("contrib").cast("decimal(38,20)"))
                .cast("double")
                .alias("s")
            )
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            F.round(
                F.lit((1 - _PR_D) / n_nodes)
                + F.lit(_PR_D) * F.coalesce(F.col("s"), F.lit(0.0)),
                12,
            ).alias("rank"),
        )
    from pyspark.sql import Window as W

    top = (
        ranks.withColumn(
            "rn", F.row_number().over(W.orderBy(F.desc("rank"), "node"))
        )
        .filter(F.col("rn") <= _PR_TOPK)
        .select("node", F.round("rank", 9).alias("rank"))
    )
    return top


def _chain_oracle(link: int) -> str:
    """Components of the ``link``-link customer chains (_chain_edges),
    by the recursive-CTE closure."""
    return f"""
    WITH RECURSIVE c AS (
        SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS rn FROM customer
    ),
    edges AS (
        SELECT 'n' || lpad(CAST(rn AS VARCHAR), 8, '0') AS src,
               'n' || lpad(CAST(rn + 1 AS VARCHAR), 8, '0') AS dst
        FROM c
        WHERE rn % {link} != {link - 1} AND rn + 1 <= (SELECT MAX(rn) FROM c)
    ),
    {closure_sql("edges", "src", "dst")}
    SELECT node, MIN(label) AS component FROM walk GROUP BY node
    """


def _chain_edges(spark: SparkSession, sf_dir: str, link: int) -> DataFrame:
    """(src, dst): chains of ``link`` nodes over the dense customer row
    numbers, edges rn -> rn+1 within each block of ``link``."""
    from pyspark.sql import Window as W

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    rn = F.row_number().over(W.orderBy("c_custkey")) - 1
    base = cust.select(rn.alias("rn"))
    node = F.concat(F.lit("n"), F.lpad(F.col("rn").cast("string"), 8, "0"))
    nxt = F.concat(F.lit("n"), F.lpad((F.col("rn") + 1).cast("string"), 8, "0"))
    return (
        base.withColumn("_has_next", F.lead("rn", 1).over(W.orderBy("rn")).isNotNull())
        .filter((F.col("rn") % link != link - 1) & F.col("_has_next"))
        .select(node.alias("src"), nxt.alias("dst"))
    )


@query("j09_closure_star", oracle=_chain_oracle(50), survey="J5,graph-closure-star")
def j09_closure_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed large-star/small-star closure (Kiveris et al.) as
    its own oracle gate, on the shape it exists for: 50-link CHAINS
    (dense customer row numbers, chain edges rn -> rn+1 within blocks of
    50).  It calls ``connected_components_star`` directly, because at
    every testdata scale factor the default closure routes to the local
    gather — without this gate the path that takes over above the
    broadcast threshold would have no oracle-checked proof.  Pins the star
    rounds, the in-band fixpoint test and the root readout against the
    same recursive-CTE oracle style as j05."""
    return connected_components_star(_chain_edges(spark, sf_dir, 50))


@query("j16_closure_auto_routed", oracle=_chain_oracle(200), survey="J5,graph-closure-auto")
def j16_closure_auto_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closure's ROUTING as its own driver gate: 200-link chains
    through the DEFAULT closure, which must route to the local gather
    (Arrow dictionary-encode + numpy kernel on the driver) — at sf0.1
    the chain set is ~15k edges, far below any broadcast threshold the
    driver's session uses.  j05 gates the default path on clique-shaped
    components, j09 the star path invoked directly; this pins that the
    size routing actually picks the local path at benchmark scale (so a
    broken size estimate cannot silently send every closure through the
    star rounds) and that its labels on long chains match the
    recursive-CTE oracle."""
    stats: dict = {}
    out = connected_components(_chain_edges(spark, sf_dir, 200), stats=stats)
    # explicit raise, not assert: under `python -O` an assert is stripped
    # and the gate silently degrades into a star re-test — the exact
    # degradation this check exists to catch
    if stats["algorithm"] != "local":
        raise RuntimeError(f"closure did not route local on 200-link chains: {stats}")
    return out
