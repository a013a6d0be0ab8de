"""The entity build CHAIN as a declared, driver-benched query (VERDICT
r10 #1): map -> reconcile -> closure -> mint -> reidentify -> merge is
the engine's core deliverable (the reference's run-all.sh:26-60 IS this
chain), but BENCH_r01-r10 timed only query shapes — a chain regression
was invisible to the driver.  b01 runs the REAL ``pipeline.build
.run_build`` on a corpus derived from the SF directory (so the driver's
sf0.1 bench scales it exactly like every other headline query) and
emits an oracle-checkable projection of the merged tier.

Corpus: the pair protocol of SCALE.md "Measured scaling curve (round
8)" (``tools/measure.py build --sf DIR`` runs ``run_build`` on it) — one
Person record per customer in each of two pseudo-sources, srcA
asserting equivalence to srcB's twin.  Every equivalence component is
exactly a pair, so the DuckDB oracle is the customer table itself: one
merged entity per custkey, label elected from srcA (merge order),
exactly 2 sources folded.  The chain exercised is the production one
end to end — envelope parse, J2 record-asserted edges, closure
(size-routed), uuid5 mint, reidentify, Arrow merge fold — none of it
mocked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import empty_indexes, load_table
from ..sources.loaders import DEFAULT_RECORD_TIME, envelope
from .registry import query

_MERGE_ORDER = {"srcA": 0, "srcB": 1}


def _pair_records(
    spark: SparkSession,
    sf_dir: str,
    with_membership: bool = False,
    with_names: bool = False,
    with_statement: bool = False,
) -> DataFrame:
    """Two pseudo-source Person records per customer; srcA links srcB.

    ``with_membership`` adds a ``member_of`` reference from srcA to a
    per-nation group URI that is NOT a record and NOT equivalence-linked
    — so it must survive reidentification UNREWRITTEN (the idmap only
    covers component members) and come out of the edges tier as an
    external URI.  b01 keeps the original two-field corpus (its r11
    driver row vouches for exactly that input); b02 turns this on.

    ``with_names`` adds two ``identified_by`` Name entries to srcA
    (the customer name + an ' ALT' variant) so the facets/names export
    tiers have real content to extract (b03).

    ``with_statement`` adds one ``referred_to_by`` statement to srcA
    ('Resides in nation <nationkey>') so the TEXTS tier has a
    discriminating token per nation (b04)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    key = F.col("c_custkey").cast("string")
    member_of = (
        [
            F.array(
                F.struct(
                    F.concat(
                        F.lit("https://fixture.test/group/"),
                        F.col("c_nationkey").cast("string"),
                    ).alias("id"),
                    F.lit("Group").alias("type"),
                )
            ).alias("member_of")
        ]
        if with_membership
        else []
    )
    names = (
        [
            F.array(
                F.struct(
                    F.lit("Name").alias("type"),
                    F.col("c_name").alias("content"),
                ),
                F.struct(
                    F.lit("Name").alias("type"),
                    F.concat(F.col("c_name"), F.lit(" ALT")).alias("content"),
                ),
            ).alias("identified_by")
        ]
        if with_names
        else []
    )
    statement = (
        [
            F.array(
                F.struct(
                    F.lit("Statement").alias("type"),
                    F.concat(
                        F.lit("Resides in nation "),
                        F.col("c_nationkey").cast("string"),
                    ).alias("content"),
                )
            ).alias("referred_to_by")
        ]
        if with_statement
        else []
    )
    a = envelope(
        cust, "srcA", key, F.lit("Person"), F.lit(DEFAULT_RECORD_TIME),
        F.to_json(
            F.struct(
                F.concat(F.lit("https://fixture.test/srcA/"), key).alias("id"),
                F.lit("Person").alias("type"),
                F.col("c_name").alias("_label"),
                F.array(
                    F.struct(
                        F.concat(F.lit("https://fixture.test/srcB/"), key).alias("id"),
                        F.lit("Person").alias("type"),
                    )
                ).alias("equivalent"),
                *member_of,
                *names,
                *statement,
            )
        ),
    )
    b = envelope(
        cust, "srcB", key, F.lit("Person"), F.lit(DEFAULT_RECORD_TIME),
        F.to_json(
            F.struct(
                F.concat(F.lit("https://fixture.test/srcB/"), key).alias("id"),
                F.lit("Person").alias("type"),
                # distinct label: the output proves merge-order ELECTION
                # (srcA's label must win), not just component counting
                F.concat(F.col("c_name"), F.lit(" (b)")).alias("_label"),
            )
        ),
    )
    return a.unionByName(b)


@query(
    "b01_entity_build",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           'Person' AS rectype,
           c_name AS label,
           CAST(2 AS BIGINT) AS n_sources
    FROM customer
    """,
    survey="J2,J5,J7,J8,A1,W2,build-chain",
)
def b01_entity_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full entity build chain at SF scale, one row per merged
    entity: (identifier, rectype, label, n_sources).  identifier is the
    shared member identifier (both pair members carry the custkey), the
    label is the merged doc's _label — srcA's c_name iff the merge-order
    election held through the Arrow fold — and n_sources counts distinct
    folded sources via the reidentified tier (2 iff closure + mint
    grouped each pair into exactly one yuid and reidentify kept both
    members).  Reference: run-all.sh:26-60 (the pipeline phases this
    chain collapses)."""
    from ..pipeline.build import run_build

    records = _pair_records(spark, sf_dir)
    indexes = empty_indexes(spark)
    # this gate consumes TWO tiers (merged + reidentified); run_build's
    # checkpoints run the chain once for both, like the production CLI
    out = run_build(spark, records, indexes, merge_order=_MERGE_ORDER)
    members = out["reidentified"].groupBy("yuid").agg(
        F.min("identifier").alias("identifier"),
        F.countDistinct("source").alias("n_sources"),
    )
    return (
        out["merged"]
        .join(members, "yuid")
        .select(
            "identifier",
            "rectype",
            F.get_json_object("data", "$._label").alias("label"),
            "n_sources",
        )
    )


@query(
    "b02_entity_export",
    oracle="""
    WITH k AS (
      SELECT CAST(c_custkey AS VARCHAR) AS key,
             CAST(c_nationkey AS VARCHAR) AS nkey
      FROM customer
    )
    SELECT '<https://fixture.test/entity/' || key
           || '> <https://lux.example/ns/rdf:type> "Person" .' AS nt
    FROM k
    UNION ALL
    SELECT '<https://fixture.test/entity/' || key
           || '> <https://lux.example/ns/equivalent> <https://fixture.test/entity/'
           || key || '> .' AS nt
    FROM k
    UNION ALL
    SELECT '<https://fixture.test/entity/' || key
           || '> <https://lux.example/ns/member_of> <https://fixture.test/group/'
           || nkey || '> .' AS nt
    FROM k
    """,
    survey="X1,X5,K6,build-chain",
)
def b02_entity_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXTRACTION/EXPORT half of the build at SF scale (VERDICT r11
    #1): run_build -> edges tier -> N-Triples serialization, string-exact
    against the oracle.  b01 consumes the merged tier; its lineage never
    executed extract_edges or to_ntriples, leaving the reference's entire
    export phase (run-export.py:48-69, qlever/mapper2.py — a full fourth
    of its build) driver-invisible; an explode blowup in X1 would have
    gone unnoticed.

    The corpus is b01's pair protocol plus a per-nation ``member_of``
    group reference, so the exported edge inventory exercises the three
    reidentification outcomes the export must preserve:
      * rdf:type        -> a plain literal object ("Person"),
      * equivalent      -> a component-internal URI, rewritten by
                           reidentify to the minted yuid (emitted here
                           re-canonicalized to the entity URI — yuids are
                           uuid5/SHA-1, which DuckDB cannot compute),
      * member_of       -> an external URI absent from the idmap, which
                           must pass through reidentify UNREWRITTEN.
    The NT lines themselves come from the production serializer
    (pipeline/edges.to_ntriples), covering its URI-vs-literal branching
    and subject formatting against DuckDB-built expected strings."""
    from ..pipeline.build import run_build
    from ..pipeline.edges import to_ntriples

    records = _pair_records(spark, sf_dir, with_membership=True)
    indexes = empty_indexes(spark)
    # two consumed tiers (edges via merged + reidentified): the chain
    # runs once, as in b01
    out = run_build(spark, records, indexes, merge_order=_MERGE_ORDER)
    # yuid -> stable member identifier (both pair members share the
    # custkey); yuid-keyed groupBy + yuid-keyed join, same keys the chain
    # already shuffles on
    members = out["reidentified"].groupBy("yuid").agg(
        F.min("identifier").alias("identifier")
    )
    canon = F.concat(F.lit("https://fixture.test/entity/"), F.col("identifier"))
    edges = (
        out["edges"]
        .join(members, out["edges"]["subject"] == members["yuid"])
        .select(
            canon.alias("subject"),
            "predicate",
            # the equivalent edge points at the entity's own yuid after
            # reidentification; canonicalize it the same way so the NT
            # strings are deterministic for the oracle
            F.when(F.col("object") == F.col("yuid"), canon)
            .otherwise(F.col("object"))
            .alias("object"),
        )
    )
    return to_ntriples(edges)


@query(
    "b03_entity_facets_names",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           'Person' AS data_type,
           TRUE AS has_name,
           FALSE AS has_geometry,
           TRUE AS has_equivalents,
           CAST(0 AS BIGINT) AS n_statements,
           lower(c_name) || '|' || lower(c_name) || ' alt' AS names
    FROM customer
    """,
    survey="X2,A16-adjacent,F8,build-chain",
)
def b03_entity_facets_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining export tiers (VERDICT r11 #1's scope, completed):
    run_build -> extract_facets + extract_names_table over a pair corpus
    whose srcA carries two ``identified_by`` Name entries.  b02 proved
    the edges tier; this proves the facet booleans (X2,
    marklogic/mapper.py:248-845 analog) and the queryable names relation
    (clean_name F8 applied at extraction) survive the full chain — one
    row per merged entity with its facet flags and its sorted
    pipe-joined clean names (the customer name + ' ALT' variant, both
    lowered by F8)."""
    from ..pipeline.build import run_build
    from ..pipeline.edges import extract_facets, extract_names_table

    records = _pair_records(spark, sf_dir, with_names=True)
    indexes = empty_indexes(spark)
    out = run_build(spark, records, indexes, merge_order=_MERGE_ORDER)
    members = out["reidentified"].groupBy("yuid").agg(
        F.min("identifier").alias("identifier")
    )
    facets = extract_facets(out["merged"])
    names = extract_names_table(out["merged"]).groupBy("yuid").agg(
        F.concat_ws("|", F.sort_array(F.collect_list("name_clean"))).alias("names")
    )
    return (
        facets.join(names, "yuid")
        .join(members, "yuid")
        .select(
            "identifier",
            F.col("dataType").alias("data_type"),
            F.col("hasName").alias("has_name"),
            F.col("hasGeometry").alias("has_geometry"),
            F.col("hasEquivalents").alias("has_equivalents"),
            F.col("nStatements").cast("bigint").alias("n_statements"),
            "names",
        )
    )


@query(
    "b04_entity_texts",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           'statement' AS hit_src
    FROM customer WHERE c_nationkey = 7
    UNION ALL
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           'name' AS hit_src
    FROM customer WHERE c_custkey = 7
    """,
    survey="X1-texts,Q4,F8,build-chain",
)
def b04_entity_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TEXTS export tier + the word query over it, through the full
    chain — the last document->relational extraction surface without a
    driver gate (b02 edges, b03 facets/names).  The corpus carries two
    Name entries and one 'Resides in nation <nkey>' statement per srcA
    record; extract_texts must emit one row per name/statement value,
    and word_query's tokenized whole-word match (the unstemmed core of
    the reference's cts word queries, SURVEY §7.1) must discriminate:

    - field='statement', term '7': exactly the nation-7 customers (the
      token '7' matches whole-word only — '17' is a different token);
    - field='name', term '000000007': exactly customer 7 (TPC-H's
      zero-padded name), proving the name branch and the tokenizer's
      punctuation split ('Customer#000000007' -> 'customer',
      '000000007')."""
    from ..pipeline.build import run_build
    from ..pipeline.edges import extract_texts, word_query

    records = _pair_records(spark, sf_dir, with_names=True, with_statement=True)
    indexes = empty_indexes(spark)
    out = run_build(spark, records, indexes, merge_order=_MERGE_ORDER)
    members = out["reidentified"].groupBy("yuid").agg(
        F.min("identifier").alias("identifier")
    )
    texts = extract_texts(out["merged"])
    stmt_hits = word_query(texts, "7", field="statement").select(
        "yuid", F.lit("statement").alias("hit_src")
    )
    name_hits = word_query(texts, "000000007", field="name").select(
        "yuid", F.lit("name").alias("hit_src")
    )
    return (
        stmt_hits.unionByName(name_hits)
        .join(members, "yuid")
        .select("identifier", "hit_src")
    )
