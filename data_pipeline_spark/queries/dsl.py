"""Declared search-DSL queries (SURVEY §2.10 Q1-Q6): each runs a LUX-style
string query through the parser + planner (plans/), with a hand-written SQL
oracle expressing the same semantics for DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.model import build_planner
from .registry import query


@query(
    "dsl_q01_customers_in_germany",
    oracle="""
    SELECT 'customer:' || c_custkey AS id
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
    """,
    survey="Q1,Q3,Q4,Q5",
)
def dsl_q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`AND(type=customer, in_nation(name="NATION_7"))`: boolean + leaf +
    relationship traversal (ml_lexer.py:227-248 semantics)."""
    planner = build_planner(spark, sf_dir)
    return planner.plan('AND(type=customer, in_nation(name="NATION_7"))')


@query(
    "dsl_q02_rich_or_named",
    oracle="""
    SELECT 'customer:' || c_custkey AS id FROM customer
    WHERE c_acctbal > 9900 OR c_name = 'Customer#000000001'
    """,
    survey="Q1,Q3,Q4",
)
def dsl_q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`AND(type=customer, OR(acctbal>9900, name="..."))`: OR + typed
    comparison leaves (ml_lexer.py:154-195 comparators)."""
    planner = build_planner(spark, sf_dir)
    return planner.plan(
        'AND(type=customer, OR(number>9900, name="Customer#000000001"))'
    )


@query(
    "dsl_q03_orders_not_from_asia",
    oracle="""
    SELECT 'order:' || o_orderkey AS id
    FROM orders
    WHERE o_totalprice > 300000
      AND o_orderkey NOT IN (
        SELECT o_orderkey FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
      )
    """,
    survey="Q3,Q5",
)
def dsl_q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested traversal under NOT: big orders whose customer is NOT in
    ASIA — NOT compiles to an anti-join against the universe, scoped by the
    enclosing AND (cts.py:30-60 notQuery semantics)."""
    planner = build_planner(spark, sf_dir)
    return planner.plan(
        "AND(type=order, number>300000,"
        ' NOT(placed_by(in_nation(in_region(name="ASIA")))))'
    )


@query(
    "dsl_q04_nations_with_rich_customers",
    oracle="""
    SELECT DISTINCT 'nation:' || c_nationkey AS id
    FROM customer WHERE c_acctbal > 9500
    """,
    survey="Q6",
)
def dsl_q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse traversal (`^in_nation`): nations pointed TO by high-balance
    customers (Q6, ml_lexer.py:250-257 / cts.py:95-106)."""
    planner = build_planner(spark, sf_dir)
    return planner.plan("AND(type=nation, ^in_nation(AND(type=customer, number>9500)))")


@query(
    "dsl_q08_word_query",
    oracle=r"""
    SELECT 'part:' || p_partkey AS id
    FROM part
    WHERE len(list_filter(regexp_split_to_array(lower(p_name), '\W+'),
                          t -> t = 'widget')) > 0
    """,
    survey="Q4,A16",
)
def dsl_q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word query (`name~widget`): tokenized whole-word match on the
    name field — the cts word-query core (Q4) as a DSL comparator."""
    planner = build_planner(spark, sf_dir)
    return planner.plan('AND(type=part, name~"widget")')


@query(
    "dsl_q09_boost_scoring",
    oracle="""
    SELECT 'customer:' || c_custkey AS id,
           CASE WHEN c_acctbal > 5000 THEN 2 ELSE 1 END AS score
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
    """,
    survey="Q3,Q8",
)
def dsl_q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOST (cts boostQuery): NATION_7 customers, scored +1 when the
    boost leg (balance>5000) also matches — boost changes order, never
    membership."""
    planner = build_planner(spark, sf_dir)
    return planner.search_scored(
        'AND(type=customer, in_nation(name="NATION_7"))',
        boost="AND(type=customer, number>5000)",
    )


@query(
    "dsl_q07_json_form",
    oracle="""
    SELECT 'customer:' || c_custkey AS id
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
    """,
    survey="Q2,Q3,Q5",
)
def dsl_q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: the same query as dsl_q01 expressed as JSON clauses
    (ml_lexer.py:324-405's JSON parser) — must plan identically."""
    from ..plans.parser import parse_json

    planner = build_planner(spark, sf_dir)
    ast = parse_json(
        {"AND": [{"type": "customer"}, {"in_nation": {"name": "NATION_7"}}]}
    )
    return planner.plan(ast)


@query(
    "dsl_q10_sparql_shape",
    oracle="""
    SELECT n.id AS nation_id, COUNT(*) AS n_suppliers FROM (
        SELECT 'nation:' || n_nationkey AS id FROM nation
    ) n JOIN (
        SELECT 'supplier:' || s_suppkey AS subject,
               'nation:' || s_nationkey AS object FROM supplier
    ) e ON e.object = n.id
    GROUP BY n.id
    ORDER BY n_suppliers DESC, nation_id
    LIMIT 5
    """,
    survey="Q9,A14,W7",
)
def dsl_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9: the reference's SPARQL usage is type + edge-chain + aggregate +
    ORDER/LIMIT patterns (qlever/mapper.py:5-63) — expressed directly as
    Spark SQL over the registered edges/entities views, the engine's
    SPARQL-equivalent surface."""
    planner = build_planner(spark, sf_dir)
    planner.entities.createOrReplaceTempView("v_entities")
    planner.edges.createOrReplaceTempView("v_edges")
    return spark.sql(
        """
        SELECT e.object AS nation_id, COUNT(*) AS n_suppliers
        FROM v_edges e
        WHERE e.predicate = 'in_nation' AND e.subject LIKE 'supplier:%'
        GROUP BY e.object
        ORDER BY n_suppliers DESC, nation_id
        LIMIT 5
        """
    )


@query(
    "dsl_q06_similar_customers",
    oracle="""
    WITH tgt AS (SELECT c_custkey, c_nationkey, c_acctbal
                 FROM customer WHERE c_custkey = 42)
    SELECT DISTINCT 'customer:' || c.c_custkey AS id
    FROM customer c, tgt
    WHERE c.c_custkey <> tgt.c_custkey
      AND (c.c_nationkey = tgt.c_nationkey
           OR abs(c.c_acctbal - tgt.c_acctbal) <= 100.0)
    """,
    survey="Q7,A16",
)
def dsl_q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similar-to / query-by-example (Q7, ml_lexer.py:22-148): synthesize a
    predicate tree from customer:42's own edges + numeric window and run it
    through the same planner."""
    planner = build_planner(spark, sf_dir)
    return planner.similar("customer:42", number_window=100.0)


@query(
    "dsl_q05_parts_in_german_orders",
    oracle="""
    SELECT DISTINCT 'part:' || l_partkey AS id
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
    """,
    survey="Q5,Q6",
)
def dsl_q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop inverse chain: parts contained in orders placed by German
    customers — `^contains` after a forward `placed_by/in_nation` walk."""
    planner = build_planner(spark, sf_dir)
    return planner.plan(
        'AND(type=part, ^contains(AND(type=order, placed_by(in_nation(name="NATION_7")))))'
    )


@query(
    "dsl_q11_near_andnot_boost",
    oracle=r"""
    WITH toks AS (
        SELECT p_partkey,
               regexp_split_to_array(lower(p_name), '\W+') AS t
        FROM part
    ),
    pos AS (
        SELECT p_partkey,
               list_filter(list_transform(range(1, len(t) + 1),
                   i -> CASE WHEN t[i] = 'small' THEN i ELSE NULL END),
                   x -> x IS NOT NULL) AS ps,
               list_filter(list_transform(range(1, len(t) + 1),
                   i -> CASE WHEN t[i] = 'bolt' THEN i ELSE NULL END),
                   x -> x IS NOT NULL) AS pb,
               list_contains(t, 'small') AS has_small,
               list_contains(t, 'gizmo') AS has_gizmo
        FROM toks
    )
    SELECT 'part:' || p_partkey AS id,
           CASE WHEN has_gizmo THEN 2 ELSE 1 END AS score
    FROM pos
    WHERE has_small
      AND NOT len(list_filter(ps,
              x -> len(list_filter(pb, y -> abs(x - y) <= 1)) > 0)) > 0
    """,
    survey="Q3",
)
def dsl_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining string-grammar boolean tokens (ml_lexer.py:328, cts
    andNotQuery/boostQuery/nearQuery) in ONE query parsed from the string
    surface: parts whose name word-matches 'small' ANDNOT 'small' NEAR
    'bolt' (distance 1), BOOSTed (+1 score, membership unchanged) when
    the name also contains 'gizmo'."""
    planner = build_planner(spark, sf_dir)
    return planner.search_scored(
        "BOOST(ANDNOT(AND(type=part, name~small),"
        " NEAR(name~small, name~bolt, 1)), AND(type=part, name~gizmo))"
    )


@query(
    "dsl_q12_any_rel_date_text",
    oracle=r"""
    SELECT DISTINCT 'order:' || o_orderkey AS id
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN part ON p_partkey = l_partkey
    WHERE CAST(o_orderdate AS DATE) >= DATE '1995-06-01'
      AND CAST(o_orderdate AS DATE) <= DATE '1995-06-30'
      AND len(list_filter(regexp_split_to_array(lower(p_name) || ' part', '\W+'),
                          t -> t = 'widget')) > 0
    """,
    survey="Q4,Q5,search-any-rel,search-date-field,search-anytext",
)
def dsl_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three field-table entries the round-10 audit of the
    reference's searchConfig.json (via ml_lexer.py:283-299) found
    untested, in one query: the `any` predicate-WILDCARD relationship
    (`lux:*Any` — edge traversal over every predicate), a typed `date`
    leaf with range comparators (the *DateFloat fields), and the
    `text`/*AnyText cross-field word surface — orders placed in June
    1995 with ANY related entity whose anytext word-matches 'widget'.
    Only contains-edges can satisfy the sub-plan (parts own the word),
    so the oracle replays the wildcard traversal as the lineitem join."""
    planner = build_planner(spark, sf_dir)
    return planner.plan(
        'AND(type=order, date>="1995-06-01", date<="1995-06-30",'
        ' any(anytext~widget))'
    )


@query(
    "dsl_q13_bucketed_serving_inverse",
    oracle=r"""
    SELECT DISTINCT 'part:' || p_partkey AS id
    FROM part
    JOIN lineitem ON l_partkey = p_partkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE o_totalprice > 480000
      AND len(list_filter(regexp_split_to_array(lower(p_name), '\W+'),
                          t -> t = 'widget')) > 0
    """,
    survey="Q5,Q6,serving,bucketed-model",
)
def dsl_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 serving win under driver eyes (VERDICT r11 #4):
    the PERSISTED bucketed dual-layout model answering the worst-scaling
    traversal shape.  Every other dsl query plans over build_planner's
    cached in-memory model; this one goes through serving_planner —
    materialize_model_bucketed once per session, then
    load_planner_bucketed — so the inverse hop joins the
    subject-BUCKETED edges table (the lineitem-scale `contains`
    relation, 41M rows per exchange already at the 30x protocol scale)
    with NO Exchange on the edge side.  Each edge table has
    ``spark.sql.shuffle.partitions`` buckets (32 on a 32-core bench
    host) stored one file per bucket, so the subquery side's shuffle
    lands on exactly the bucket count.  A regression in the dual-layout
    routing (forward->object-bucketed, inverse->subject-bucketed) now
    shows up as a driver bench/correctness delta instead of only in a
    scale run (SCALE.md, "Measured scaling curve (round 11)"; reproduce
    with ``tools/measure.py queries dsl_q13_bucketed_serving_inverse
    --sf DIR``).

    Query: widget parts contained in >480k orders — a word-query leaf
    AND an inverse traversal whose subquery side (orders) shuffles to
    the bucket count while the edges side reads pre-partitioned."""
    from ..plans.model import serving_planner

    planner = serving_planner(spark, sf_dir)
    return planner.plan(
        'AND(type=part, name~"widget",'
        " ^contains(AND(type=order, number>480000)))"
    )
