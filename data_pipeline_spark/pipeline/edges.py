"""Document -> relational extraction (SURVEY §2.9 X1/X2/X5).

The reference flattens every merged record into RDF-ish triples + facet
columns for its search layer (sources/lux/marklogic/mapper.py:195-846 in
/root/reference) and serializes N-Triples for QLever
(sources/lux/qlever/mapper2.py). Spark restatement: one typed parse, then
explode-based projections into ``edges(subject, predicate, object)`` — the
first-class queryable model (SURVEY §1.5) that the search DSL traverses —
plus a boolean/id facet table and a ``format_string`` NT serializer (K6).
Everything is built-in expressions: a single scan, whole-stage codegen,
no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .envelope import with_doc


def extract_edges(merged: DataFrame) -> DataFrame:
    """merged(yuid, rectype, data) -> edges(subject, predicate, object).

    Predicate inventory (X1 subset, structured like mapper.py:238-846):
    rdf:type, classified_as, equivalent, member_of, part_of, broader,
    agentOfProduction / placeOfProduction shortcut edges.

    Single-pass shape (round 8): the former 8-branch union re-ran the
    from_json parse once PER BRANCH per row — measured at the 30x ETL
    scale as the dominant and variance-prone cost of the extract stage.
    Now ONE parse builds one row-local array of (predicate, object)
    structs and ONE explode fans it out — same rows, same dedup.

    Input contract: one row per ``yuid`` — the merged tier's shape (the
    fold emits exactly one row per entity).  Every duplicate of the
    (subject, predicate, object) dedup key is therefore WITHIN one row's
    arrays, so the dedup is row-local (``array_distinct`` before the
    explode) instead of a full ``dropDuplicates`` exchange of the edge
    relation (r16 opt, guide §2.4 — a distinct on data that is already
    unique per partition key; same argument as reidentify's r15
    array_distinct rewrite)."""

    def structs(field: str, predicate: str):
        return F.filter(
            F.transform(
                F.coalesce(F.col(f"doc.{field}"), F.array()),
                lambda x: F.struct(
                    F.lit(predicate).alias("predicate"), x["id"].alias("object")
                ),
            ),
            lambda s: s["object"].isNotNull(),
        )

    rdf_type = F.filter(
        F.array(
            F.struct(
                F.lit("rdf:type").alias("predicate"), F.col("rectype").alias("object")
            )
        ),
        lambda s: s["object"].isNotNull(),
    )
    parts = [
        rdf_type,
        structs("classified_as", "classified_as"),
        structs("equivalent", "equivalent"),
        structs("member_of", "member_of"),
        structs("part_of", "part_of"),
        structs("broader", "broader"),
        structs("produced_by.carried_out_by", "agentOfProduction"),
        structs("produced_by.took_place_at", "placeOfProduction"),
    ]
    docs = with_doc(merged)
    return (
        docs
        .select(
            F.col("yuid").alias("subject"),
            F.explode(F.array_distinct(F.concat(*parts))).alias("e"),
        )
        .select("subject", "e.predicate", "e.object")
    )


def any_edges(edges: DataFrame) -> DataFrame:
    """X1's `any` reachability predicate (marklogic/mapper.py's `any` /
    `referenceAny`): every non-type edge collapsed onto one predicate so
    "references at all" traversals are a single-predicate probe instead of
    an OR over the full predicate inventory."""
    return (
        edges.filter(F.col("predicate") != "rdf:type")
        .select("subject", F.lit("any").alias("predicate"), "object")
        .distinct()
    )


def reference_counts(edges: DataFrame, exclude_top_k: int = 0) -> DataFrame:
    """X1's refCtr: inbound-reference count per entity (the popularity
    signal), optionally dropping the top-k most-referenced entities — the
    reference maintains exactly such an exclusion list for hub concepts
    (marklogic/mapper.py's refCtr top-k exclusion). One groupBy on the
    object key; the top-k cut is a tiny ordered limit anti-joined back."""
    counts = (
        edges.filter(F.col("predicate") != "rdf:type")
        .groupBy(F.col("object").alias("yuid"))
        .agg(F.count(F.lit(1)).alias("ref_count"))
    )
    if exclude_top_k > 0:
        top = counts.orderBy(F.desc("ref_count"), "yuid").limit(exclude_top_k)
        counts = counts.join(top.select("yuid"), "yuid", "left_anti")
    return counts


def extract_texts(merged: DataFrame) -> DataFrame:
    """texts(yuid, field, text): the full-text tier (SURVEY §7.1) — names
    and statement contents, one row per text value, ready for tokenized
    word queries (Q4) and the top-k keyword synthesis (A16)."""
    docs = with_doc(merged)
    names = (
        docs.select(
            "yuid",
            F.explode(F.coalesce(F.col("doc.identified_by"), F.array())).alias("nm"),
        )
        .filter((F.col("nm.type") == "Name") & F.col("nm.content").isNotNull())
        .select("yuid", F.lit("name").alias("field"), F.col("nm.content").alias("text"))
    )
    stmts = (
        docs.select(
            "yuid",
            F.explode(F.coalesce(F.col("doc.referred_to_by"), F.array())).alias("st"),
        )
        .filter(F.col("st.content").isNotNull())
        .select("yuid", F.lit("statement").alias("field"), F.col("st.content").alias("text"))
    )
    return names.unionByName(stmts)


def word_query(texts: DataFrame, term: str, field: str | None = None) -> DataFrame:
    """Q4's word query over the texts tier: tokenized, case-folded
    whole-word match (the unstemmed core of cts word queries). Returns
    distinct yuids."""
    t = texts if field is None else texts.filter(F.col("field") == field)
    toks = F.split(F.lower(F.col("text")), r"\W+")
    return (
        t.filter(F.array_contains(toks, term.lower()))
        .select("yuid")
        .distinct()
    )


def extract_facets(merged: DataFrame) -> DataFrame:
    """X2 facet columns (marklogic/mapper.py:248-845 analog): per-entity
    booleans/ids derived in one pass."""
    docs = with_doc(merged)
    return docs.select(
        "yuid",
        F.col("rectype").alias("dataType"),
        (F.size(F.coalesce(F.col("doc.identified_by"), F.array())) > 0).alias("hasName"),
        F.col("doc.defined_by").isNotNull().alias("hasGeometry"),
        (F.size(F.coalesce(F.col("doc.equivalent"), F.array())) > 0).alias("hasEquivalents"),
        F.size(F.coalesce(F.col("doc.referred_to_by"), F.array())).alias("nStatements"),
    )


def extract_names_table(merged: DataFrame) -> DataFrame:
    """names(yuid, name_clean): the queryable names relation (SURVEY §7.1).

    Same one-row-per-yuid input contract as extract_edges, so the
    (yuid, name_clean) dedup is row-local: map each Name entry to its
    clean key inside the array, drop non-Name/null entries, array_distinct,
    THEN explode — no global distinct exchange (r16 opt, guide §2.4).
    clean_name is null-preserving on non-null input, so the when/filter
    pair keeps exactly the rows the old explode->filter chain kept
    (including empty-string keys)."""
    from ..functions.strings import clean_name

    docs = with_doc(merged)
    cleaned = F.array_distinct(
        F.filter(
            F.transform(
                F.coalesce(F.col("doc.identified_by"), F.array()),
                lambda nm: F.when(
                    (nm["type"] == "Name") & nm["content"].isNotNull(),
                    clean_name(nm["content"]),
                ),
            ),
            lambda x: x.isNotNull(),
        )
    )
    return docs.select("yuid", F.explode(cleaned).alias("name_clean"))


def to_ntriples(edges: DataFrame, base: str = "https://lux.example/ns/") -> DataFrame:
    """X5/K6: edges -> N-Triples lines (one string column `nt`), ready for
    ``df.write.text`` (manage-data.py:221-250 analog). URIs pass through;
    literal objects get xsd datatypes the way the reference's serializer
    does (qlever/mapper.py:210-412): numerics -> xsd:decimal, ISO
    timestamps -> xsd:dateTime, else plain strings."""
    is_uri = F.col("object").rlike("^https?://")
    is_num = F.col("object").rlike(r"^-?\d+(\.\d+)?$")
    is_dt = F.col("object").rlike(r"^-?\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}")
    # N-Triples literal escaping, in grammar order: backslash FIRST (or
    # the quote escape would double-escape), then quote, then control
    # characters — a newline/tab in statement text must not break the line
    escaped = F.col("object")
    for raw, esc in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
        escaped = F.replace(escaped, F.lit(raw), F.lit(esc))
    obj = (
        F.when(is_uri, F.format_string("<%s>", F.col("object")))
        .when(
            is_num,
            F.format_string(
                '"%s"^^<http://www.w3.org/2001/XMLSchema#decimal>', F.col("object")
            ),
        )
        .when(
            is_dt,
            F.format_string(
                '"%s"^^<http://www.w3.org/2001/XMLSchema#dateTime>', F.col("object")
            ),
        )
        .otherwise(F.format_string('"%s"', escaped))
    )
    subj = F.when(
        F.col("subject").rlike("^https?://"),
        F.format_string("<%s>", F.col("subject")),
    ).otherwise(F.format_string("<urn:yuid:%s>", F.col("subject")))
    return edges.select(
        F.format_string(
            "%s <%s%s> %s .", subj, F.lit(base), F.col("predicate"), obj
        ).alias("nt")
    )
