"""Driver-gated golden-oracle queries for the reconcile/identity family
(SURVEY §2.4 J1/J3/J4/J7 + §1.4 P2).

These pipeline operators are pure DataFrame transforms with no direct SQL
twin over the test tables, so each query synthesizes deterministic inputs
from customer keys (the established golden-oracle pattern: inputs are
k-rotations, the oracle states the expected outputs literally) and runs the
REAL pipeline function — the gate fails if the operator's semantics drift.

Reference parity targets (in /root/reference):
- J1/W4 candidate vote election: process/base/reconciler.py:197-274
- J3/J4 curated constraints: sources/lux/final/reconciler.py:21-55
- J7 deterministic minting: storage/idmap/redis.py:212-311 (restated
  uuid5-of-min-member, pipeline/idmap.py)
- P2 validation: process/validator.py:10-80
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import empty_indexes, load_table
from .registry import query

# J7 golden yuids: uuid5(NAMESPACE_URL, "h{g}") for every possible hub —
# computed with the stdlib so the oracle literally states the RFC-4122
# bytes the JVM-side sha1 construction must reproduce.
_HUB_VALUES = ",".join(
    f"({g}, '{uuid.uuid5(uuid.NAMESPACE_URL, f'h{g}')}')" for g in range(200)
)


@query(
    "j01_name_vote_election",
    oracle="""
    SELECT 'u' || c_custkey AS src_uri,
           'https://fixture.test/idx/t'
             || (CASE WHEN c_custkey % 3 = 0 THEN (c_custkey + 1) % 50
                      ELSE c_custkey % 50 END) AS dst_uri,
           'Person' AS rectype,
           'name' AS provenance
    FROM customer
    """,
    survey="J1,W4,P3",
)
def j01_name_vote_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 name-equality join + W4 candidate vote election through the
    driver gate.  Every record carries a priority-1 name n{k%50}; records
    with k%3==0 carry TWO lower-priority names for n{(k+1)%50}, so the
    vote count (2 votes) must beat the better priority (W4: most votes,
    then best priority, then identifier).  The index contains same-source
    poison rows (P3 not-self-source gate) and wrong-rectype poison rows
    (type must match) that must produce no edges."""
    from ..pipeline.reconcile import name_join

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    uri = F.concat(F.lit("u"), ks)

    def name_row(df, name_col, prio):
        return df.select(
            uri.alias("uri"),
            F.lit("srcA").alias("source"),
            F.lit("Person").alias("rectype"),
            name_col.alias("name_clean"),
            F.lit(prio).alias("priority"),
        )

    n_self = F.concat(F.lit("n"), (k % 50).cast("string"))
    n_next = F.concat(F.lit("n"), ((k + 1) % 50).cast("string"))
    names = (
        name_row(c, n_self, 1)
        .unionByName(name_row(c, n_next, 2))
        .unionByName(name_row(c.filter(k % 3 == 0), n_next, 3))
    )

    i = F.col("id").cast("string")
    r = spark.range(50)

    def idx_rows(source, target_prefix, rectype):
        return r.select(
            F.lit(source).alias("source"),
            F.concat(F.lit("n"), i).alias("name_clean"),
            F.concat(F.lit(target_prefix), i).alias("target_identifier"),
            F.lit(rectype).alias("rectype"),
        )

    name_index = (
        idx_rows("idx", "t", "Person")
        .unionByName(idx_rows("srcA", "x", "Person"))  # self-source poison
        .unionByName(idx_rows("idx2", "g", "Group"))  # wrong-type poison
    )
    return name_join(names, name_index)


@query(
    "j02_uri_equivalence",
    oracle="""
    SELECT 'u' || c_custkey AS src_uri,
           'https://fixture.test/srcX/t' || (c_custkey % 100) AS dst_uri,
           'Person' AS rectype,
           'uri' AS provenance
    FROM customer WHERE c_custkey % 100 < 50
    """,
    survey="J2,F10",
)
def j02_uri_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 uri-equivalence join through the driver gate: records assert
    external URIs with protocol/www/trailing-slash drift (http vs
    https://www vs trailing /) that must still hit the index via F10
    normalization on BOTH sides; index rows for e{50..99} carry the
    wrong rectype and must not match."""
    from ..pipeline.reconcile import uri_join

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    e = (k % 100).cast("string")
    ext = (
        F.when(k % 3 == 0, F.concat(F.lit("http://ext.example/e"), e))
        .when(k % 3 == 1, F.concat(F.lit("https://www.ext.example/e"), e))
        .otherwise(F.concat(F.lit("https://ext.example/e"), e, F.lit("/")))
    )
    equivs = c.select(
        F.concat(F.lit("u"), ks).alias("src_uri"),
        ext.alias("dst_uri"),
        F.lit("Person").alias("rectype"),
    )
    i = F.col("id").cast("string")
    uri_index = spark.range(100).select(
        F.concat(F.lit("https://ext.example/e"), i).alias("ext_uri"),
        F.lit("srcX").alias("source"),
        F.concat(F.lit("t"), i).alias("target_identifier"),
        F.when(F.col("id") < 50, F.lit("Person")).otherwise(F.lit("Group")).alias("rectype"),
    )
    return uri_join(equivs, uri_index)


@query(
    "j03_constraint_veto",
    oracle="""
    SELECT 'u' || c_custkey AS src_uri,
           'v' || (c_custkey % 100) AS dst_uri,
           'Person' AS rectype,
           'name' AS provenance
    FROM customer
    WHERE c_custkey % 7 <> 0 AND c_custkey % 11 <> 0
    UNION ALL
    SELECT 's' || c_custkey, 't' || c_custkey, CAST(NULL AS VARCHAR), 'sameAs'
    FROM customer WHERE c_custkey < 10
    """,
    survey="J3,J4",
)
def j03_constraint_veto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 differentFrom veto + J4 curated sameAs union through the driver
    gate.  Edges u{k}->v{k%100}; curated differentFrom pairs are stated
    FORWARD for k%7==0 and REVERSED for k%11==0 — both directions must
    veto (the anti-join symmetrizes the veto set).  Curated sameAs pairs
    (k<10) must appear as edges with null rectype."""
    from ..pipeline.reconcile import apply_constraints

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    u = F.concat(F.lit("u"), ks)
    v = F.concat(F.lit("v"), (k % 100).cast("string"))

    edges = c.select(
        u.alias("src_uri"),
        v.alias("dst_uri"),
        F.lit("Person").alias("rectype"),
        F.lit("name").alias("provenance"),
    )
    same_as = c.filter(k < 10).select(
        F.concat(F.lit("s"), ks).alias("uri_a"),
        F.concat(F.lit("t"), ks).alias("uri_b"),
    )
    different_from = (
        c.filter(k % 7 == 0)
        .select(u.alias("uri_a"), v.alias("uri_b"))
        .unionByName(c.filter(k % 11 == 0).select(v.alias("uri_a"), u.alias("uri_b")))
    )
    return apply_constraints(edges, same_as, different_from)


@query(
    "j06_reconcile_min_equivs",
    oracle="""
    SELECT 'R' || c_custkey AS src_uri,
           'https://eq.example/' || c_custkey || '_' || j AS dst_uri,
           'Person' AS rectype,
           'record' AS provenance
    FROM customer, range(1, 5) t(j)
    WHERE j <= c_custkey % 5
    UNION ALL
    SELECT 'R' || c_custkey,
           'https://fixture.test/idx/t' || (c_custkey % 50),
           'Person', 'name'
    FROM customer WHERE c_custkey % 5 < 3
    """,
    survey="J6,J1,J2,P3,P4",
)
def j06_reconcile_min_equivs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL reconcile() pass through the driver gate, centered on the
    J6 min_equivs gate (process/reconciler.py:23-25,76-86): each record
    asserts k%5 equivalents and one indexed name; records already holding
    >= 3 asserted equivalents must SKIP name matching (the fuzzy join
    runs only for poorly-connected records), so the expected edge set is
    exactly the asserted record edges plus name edges for k%5 < 3 —
    envelope extraction, J1 election, J2 (empty index), J3/J4 (empty
    constraints) and P4 (no timespans) all compose in one Catalyst plan."""
    from ..pipeline.reconcile import reconcile

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    n = k % 5
    eqs = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda j: F.concat(
                F.lit('{"id":"https://eq.example/'), ks, F.lit("_"),
                j.cast("string"), F.lit('"}'),
            ),
        ),
    ).otherwise(F.expr("array() :: array<string>"))
    data = F.concat(
        F.lit('{"id":"R'), ks,
        F.lit('","type":"Person","identified_by":[{"type":"Name","content":"N'),
        (k % 50).cast("string"),
        F.lit('"}],"equivalent":['), F.concat_ws(",", eqs), F.lit("]}"),
    )
    records = c.select(
        F.lit("srcA").alias("source"),
        ks.alias("identifier"),
        F.lit("Person").alias("rectype"),
        data.alias("data"),
    )
    i = F.col("id").cast("string")
    name_index = spark.range(50).select(
        F.lit("idx").alias("source"),
        F.concat(F.lit("n"), i).alias("name_clean"),
        F.concat(F.lit("t"), i).alias("target_identifier"),
        F.lit("Person").alias("rectype"),
    )
    indexes = {**empty_indexes(spark), "name_index": name_index}
    return reconcile(records, indexes, min_equivs=3)


@query(
    "j07_idmap_minting",
    oracle=f"""
    WITH expected(g, yuid) AS (VALUES {_HUB_VALUES}),
    nodes AS (
      SELECT 'u' || c_custkey AS qua_uri, c_custkey % 200 AS g FROM customer
      UNION ALL
      SELECT DISTINCT 'h' || (c_custkey % 200), c_custkey % 200 FROM customer
    )
    SELECT nodes.qua_uri, expected.yuid
    FROM nodes JOIN expected ON nodes.g = expected.g
    """,
    survey="J7,J5",
)
def j07_idmap_minting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 deterministic YUID minting through the driver gate: star
    components u{k} -> hub h{k%200}; closure labels each component with
    its lexical-min member (the hub: 'h' < 'u'), and the idmap mints
    uuid5(NAMESPACE_URL, label) JVM-side (sha1 + hex surgery,
    pipeline/idmap.py).  The oracle states the stdlib uuid.uuid5 values
    literally — byte parity or red."""
    from ..pipeline.idmap import build_idmap

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    src = F.concat(F.lit("u"), k.cast("string"))
    hub = F.concat(F.lit("h"), (k % 200).cast("string"))
    edges = c.select(src.alias("src_uri"), hub.alias("dst_uri"))
    all_uris = c.select(src.alias("uri"))
    return build_idmap(edges, all_uris)


@query(
    "p05_merge_veto",
    oracle="""
    SELECT 'y' || c_custkey AS yuid,
           'B' || c_custkey AS base_name,
           CASE WHEN c_custkey % 2 = 0 THEN 'S0' END AS stmt
    FROM customer
    """,
    survey="P5,A1",
)
def p05_merge_veto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 should_merge veto hooks through the driver gate
    (process/merger.py:926-958): every yuid folds a srcA base (name only)
    with a srcB candidate carrying a statement S{k%2}; srcB's
    should_merge_from hook vetoes candidates whose statement is S1, so
    odd keys must fold WITHOUT the candidate's contribution while even
    keys keep it — the veto observably changes the merge outcome."""
    from ..pipeline.merge_records import merge_by_yuid

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    yuid = F.concat(F.lit("y"), ks)
    base = F.concat(
        F.lit('{"id":"y'), ks,
        F.lit('","type":"Person","identified_by":[{"type":"Name","content":"B'), ks,
        F.lit('"}]}'),
    )
    cand = F.concat(
        F.lit('{"id":"y'), ks,
        F.lit('","type":"Person","referred_to_by":[{"type":"LinguisticObject","content":"S'),
        (k % 2).cast("string"), F.lit('"}]}'),
    )
    recs = c.select(
        yuid.alias("yuid"), F.lit("srcA").alias("source"), ks.alias("identifier"), base.alias("data")
    ).unionByName(
        c.select(yuid.alias("yuid"), F.lit("srcB").alias("source"), ks.alias("identifier"), cand.alias("data"))
    )
    vetoes = {
        "srcB": {
            "should_merge_from": lambda base_doc, cand_doc: (
                (cand_doc.get("referred_to_by") or [{}])[0].get("content") != "S1"
            )
        }
    }
    merged = merge_by_yuid(recs, {"srcA": 0, "srcB": 50}, vetoes=vetoes)
    return merged.select(
        "yuid",
        F.get_json_object("data", "$.identified_by[0].content").alias("base_name"),
        F.get_json_object("data", "$.referred_to_by[0].content").alias("stmt"),
    )


@query(
    "p02_validation_rules",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           CAST(CASE c_custkey % 8 WHEN 0 THEN 0 WHEN 5 THEN 3 ELSE 1 END AS INT)
             AS n_errors,
           CASE c_custkey % 8
             WHEN 0 THEN ''
             WHEN 1 THEN 'unparseable document'
             WHEN 2 THEN 'missing id'
             WHEN 3 THEN 'unknown record type'
             WHEN 4 THEN 'type/rectype mismatch'
             WHEN 5 THEN 'equivalent without id|missing required property: _label|name without content'
             WHEN 6 THEN 'unexpected properties: favorite_color, shoe_size'
             ELSE 'missing required property: _label'
           END AS errs
    FROM customer
    """,
    survey="P2",
)
def p02_validation_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 validation through the driver gate: records rotate through the
    rule families by k%8 — valid (incl. a `_`-prefixed extension property
    that the underscore exemption must pass), unparseable JSON, missing
    id, unknown class, type/rectype mismatch, a triple fault (name
    without content + equivalent without id + missing _label), unexpected
    properties (the per-class additionalProperties check, two offenders
    name-sorted into one message), and a concept-class record (Material,
    aliased to the concept schema) missing its required _label.  Errors
    ride alongside the record (warn-and-continue,
    process/validator.py:10-80); emitted sorted-joined for
    engine-portable rendering."""
    from ..pipeline.validate import validate_records

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 8
    data = (
        F.when(
            m == 0,
            F.concat(
                F.lit('{"id":"u'), ks,
                F.lit('","type":"Person","_label":"A","identified_by":[{"type":"Name","content":"A"}],"equivalent":[{"id":"e"}],"_content_html":"<b>x</b>"}'),
            ),
        )
        .when(m == 1, F.lit("{oops"))
        .when(m == 2, F.lit('{"type":"Person","_label":"A"}'))
        .when(m == 3, F.concat(F.lit('{"id":"u'), ks, F.lit('","type":"Banana"}')))
        .when(m == 4, F.concat(F.lit('{"id":"u'), ks, F.lit('","type":"Person","_label":"A"}')))
        .when(
            m == 5,
            F.concat(
                F.lit('{"id":"u'), ks,
                F.lit('","type":"Person","identified_by":[{"type":"Name"}],"equivalent":[{}]}'),
            ),
        )
        .when(
            m == 6,
            F.concat(
                F.lit('{"id":"u'), ks,
                F.lit('","type":"Person","_label":"A","shoe_size":44,"favorite_color":"teal"}'),
            ),
        )
        .otherwise(
            F.concat(F.lit('{"id":"u'), ks, F.lit('","type":"Material","broader":[{"id":"b"}]}'))
        )
    )
    rectype = (
        F.when(m == 3, F.lit(None).cast("string"))
        .when(m == 4, F.lit("Group"))
        .when(m == 7, F.lit("Material"))
        .otherwise(F.lit("Person"))
    )
    records = c.select(
        F.lit("srcA").alias("source"),
        ks.alias("identifier"),
        rectype.alias("rectype"),
        data.alias("data"),
    )
    return validate_records(records).select(
        "identifier",
        F.size("errors").cast("int").alias("n_errors"),
        F.array_join(F.array_sort("errors"), "|").alias("errs"),
    )


@query(
    "a02_skewed_merge_fold",
    oracle="""
    WITH c AS (
      SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS rn FROM customer
    ),
    s AS (
      SELECT rn, rn // 128 AS blk,
             CASE WHEN rn % 128 < 1 THEN 0 WHEN rn % 128 < 3 THEN 1
                  WHEN rn % 128 < 8 THEN 2 WHEN rn % 128 < 28 THEN 3
                  ELSE 4 END AS sub
      FROM c
    )
    SELECT lpad(CAST(min(rn) AS VARCHAR), 8, '0') AS comp_key,
           COUNT(*) AS n_records,
           'L' || CAST(min(rn) AS VARCHAR) AS label,
           LEAST(3, COUNT(*)) AS n_names
    FROM s GROUP BY blk, sub
    """,
    survey="A1,A3,J5,J6,J7,W2",
)
def a02_skewed_merge_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tailed component shapes through the REAL entity chain
    (reconcile -> closure -> mint -> reidentify -> merge fold) — the
    adversarial twin of a01's uniform pairs (VERDICT r9 #1).

    Plant: customers ordered by key become a dense row-number; each block
    of 128 rows splits into CHAIN components of sizes 1/2/5/20/100 (record
    rn asserts equivalence to rn+1 while the next row is in the same
    chain).  Chains are the worst case for label propagation — a 100-link
    chain needs ~100 naive rounds; the closure (closure.py: pointer
    jumping locally, star rounds distributed) must close it in O(log n)
    — and the 100-record groups stress the merge fold's
    per-group Arrow batch where a01's groups are always pairs.  The
    reference bounds BFS at max_distance=3 precisely to dodge this shape
    (docs/sample_config/base.json:6, process/collector.py:201-218); the
    whole-dataset closure has no such bound, so it must EARN it here.

    Output per merged entity: first-member key, component size, the
    merge-winner's label (W2: min identifier wins the fold order), and the
    fold's deduped name count (A3: names cycle rn%3, so a component keeps
    min(3, size) of them).  The oracle derives all four analytically from
    the block arithmetic — any closure under-merge, fold mis-order or
    dedupe drift breaks a column."""
    from pyspark.sql import Window as W

    from ..pipeline.envelope import with_doc
    from ..pipeline.idmap import build_idmap
    from ..pipeline.merge_records import merge_by_yuid
    from ..pipeline.reconcile import reconcile
    from ..pipeline.reidentify import reidentify

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    rn = F.row_number().over(W.orderBy("c_custkey")) - 1
    base = cust.select(rn.alias("rn")).select(
        "rn",
        F.lpad(F.col("rn").cast("string"), 8, "0").alias("id8"),
        (F.col("rn") % 128).alias("pos"),
    )
    # chain link: rn -> rn+1 unless rn sits on a sub-component boundary
    # (pos in {0,2,7,27,127}) or is the corpus' last row
    has_next = (~F.col("pos").isin(0, 2, 7, 27, 127)) & (
        F.lead("rn", 1).over(W.orderBy("rn")).isNotNull()
    )
    next_id8 = F.lpad((F.col("rn") + 1).cast("string"), 8, "0")
    uri = F.concat(F.lit("https://fixture.test/srcA/"), F.col("id8"))
    next_uri = F.concat(F.lit("https://fixture.test/srcA/"), next_id8)
    data = F.to_json(
        F.struct(
            uri.alias("id"),
            F.lit("Person").alias("type"),
            F.concat(F.lit("L"), F.col("rn").cast("string")).alias("_label"),
            F.array(
                F.struct(
                    F.lit("Name").alias("type"),
                    F.concat(F.lit("N"), (F.col("rn") % 3).cast("string")).alias(
                        "content"
                    ),
                )
            ).alias("identified_by"),
            F.when(
                has_next,
                F.array(F.struct(next_uri.alias("id"), F.lit("Person").alias("type"))),
            ).alias("equivalent"),
        )
    )
    records = base.select(
        F.lit("srcA").alias("source"),
        F.col("id8").alias("identifier"),
        F.lit("Person").alias("rectype"),
        data.alias("data"),
    )
    indexes = empty_indexes(spark)
    edges = reconcile(records, indexes)
    all_uris = with_doc(records).select(
        F.coalesce(F.col("doc.id"), F.concat_ws("/", "source", "identifier")).alias("uri")
    )
    idmap = build_idmap(edges, all_uris)
    reident = reidentify(records, idmap)
    merged = merge_by_yuid(
        reident.select("yuid", "source", "identifier", "data"), {"srcA": 0}
    )
    per = reident.groupBy("yuid").agg(
        F.min("identifier").alias("comp_key"),
        F.count(F.lit(1)).alias("n_records"),
    )
    names_schema = "identified_by array<struct<type:string,content:string>>"
    return per.join(merged, "yuid").select(
        "comp_key",
        "n_records",
        F.get_json_object(F.col("data"), "$._label").alias("label"),
        F.size(F.from_json(F.col("data"), names_schema).identified_by)
        .cast("long")
        .alias("n_names"),
    )


@query(
    "j14_salted_celebrity_reconcile",
    oracle="""
    SELECT 'https://fixture.test/srcA/' || c_custkey AS src_uri,
           'https://fixture.test/idx/T1' AS dst_uri,
           'Person' AS rectype,
           'name' AS provenance
    FROM customer WHERE c_custkey % 5 < 2
    UNION ALL
    SELECT 'https://fixture.test/srcA/7',
           'https://fixture.test/idx/T7', 'Person', 'name'
    """,
    survey="J1,W4,skew",
)
def j14_salted_celebrity_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-authority J1 route (pipeline/reconcile.name_join_salted:
    operators/skew.hot_key_salted_join fans hot (name_clean, rectype)
    keys over 16 salts) as its OWN oracle gate, under a celebrity plant
    — 40% of records share one hot name the index maps to a single
    target, the skew shape the salted path exists for (VERDICT r9 #1;
    measured on the real chain at 30x/100x in SCALE.md, "Measured
    scaling curve (round 10)", adversarial-shape entity build).  It
    calls ``name_join_salted`` directly, because a two-row index always
    takes name_join's broadcast route — without this gate the route
    that takes over above the broadcast threshold would have no oracle
    gate (the j09 pattern).  The oracle states the expected edge set
    analytically: every hot-name record gains the T1 edge, record 7
    (whose unique name the index also lists) gains T7 — identical
    output to the broadcast route by the tested equality."""
    from ..pipeline.envelope import extract_names, with_doc
    from ..pipeline.reconcile import name_join_salted

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    k = F.col("c_custkey")
    ks = k.cast("string")
    name = F.when(k % 5 < 2, F.lit("Celebrity Q Smith")).otherwise(
        F.concat(F.lit("Unique "), ks)
    )
    data = F.to_json(
        F.struct(
            F.concat(F.lit("https://fixture.test/srcA/"), ks).alias("id"),
            F.lit("Person").alias("type"),
            name.alias("_label"),
        )
    )
    records = cust.select(
        F.lit("srcA").alias("source"),
        ks.alias("identifier"),
        F.lit("Person").alias("rectype"),
        data.alias("data"),
    )
    name_index = spark.createDataFrame(
        [("idx", "celebrity q smith", "T1", "Person"),
         ("idx", "unique 7", "T7", "Person")],
        "source string, name_clean string, target_identifier string, rectype string",
    )
    return name_join_salted(extract_names(with_doc(records)), name_index)
