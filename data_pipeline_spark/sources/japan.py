"""NDL (Japan) authority source (U1 breadth #5): the library mapper.

Restates sources/libraries/japan/mapper.py:1-344 in /root/reference as
DataFrame expressions.  Shapes kept:

- **guess_type** (mapper.py:10-29, in check order): primaryTopic foaf
  Person/Organization -> Person/Group; the FRBR Family URI -> Group (the
  reference's vocab.Family IS a Group; the family distinction survives as
  a classification); inScheme uniformTitles -> dropped; geographicNames
  -> Place; topicalTerms -> Type; anything else dropped.
- **names + dupes set** (handle_common, mapper.py:51-103): prefLabel
  transcriptions become PrimaryNames (language = '-'-split tag) unless
  equal to the pref literal; the pref literal (falling back to ``label``)
  is the anchor PrimaryName; each altLabel literal joins the running
  dupes set before its transcriptions are checked against it —
  restated as one F.aggregate fold, same visit order.
- **equivalents** (mapper.py:99-103): exactMatch URIs, typed like the
  record.
- **person events** (handle_person, mapper.py:113-152): dateOfBirth /
  dateOfDeath through the F1 date parser with the raw string as
  DisplayName; fieldOfActivityOfThePerson -> ja BiographyStatements;
  biographicalInformation -> untagged BiographyStatements.
- **group events** (handle_group, mapper.py:154-233): establishment /
  termination -> Formation/Dissolution timespans; family/corporate
  history -> ja Notes; previousName / laterName (record level, label
  falling back to the pref literal) -> AttributeAssignments classified
  as wikidata Q79030196 ("Previous Name") / Q79030284 ("Later Name").
- **transform extras** (mapper.py:257-274): primaryTopic.name becomes an
  AlternateName unless already in the dupes set; anotherName / realName
  URIs become equivalents typed like the record.

The SPARQL discovery side (JapanSparqlFetcher) is the S14 connector
(sources/sparql.py: harvest_sparql); this module is the record mapper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .loaders import (
    IDENTIFIER_SNIFF, NAME_T, envelope, load_jsonl_dump, name_node, type_ref,
)

FOAF_PERSON = "http://xmlns.com/foaf/0.1/Person"
FOAF_ORG = "http://xmlns.com/foaf/0.1/Organization"
FRBR_FAMILY = "http://RDVocab.info/uri/schema/FRBRentitiesRDA/Family"
SCHEME_UNIFORM = "http://id.ndl.go.jp/auth#uniformTitles"
SCHEME_GEO = "http://id.ndl.go.jp/auth#geographicNames"
SCHEME_TOPIC = "http://id.ndl.go.jp/auth#topicalTerms"
PREVIOUS_NAME_TYPE = "http://www.wikidata.org/entity/Q79030196"
LATER_NAME_TYPE = "http://www.wikidata.org/entity/Q79030284"

_LABEL = "struct<literalForm: string, transcriptions: array<struct<value: string, lang: string>>>"
_REF = "array<struct<uri: string, label: string>>"
RAW_SCHEMA = (
    "identifier string, record_time string,"
    " doc struct<"
    "   uri: string, label: string,"
    f"  prefLabel: {_LABEL},"
    f"  altLabel: array<{_LABEL}>,"
    "   exactMatch: array<struct<uri: string>>,"
    "   inScheme: struct<uri: string>,"
    f"  previousName: {_REF}, laterName: {_REF},"
    f"  anotherName: {_REF}, realName: {_REF},"
    "   primaryTopic: struct<"
    "     type: struct<uri: string>, name: string,"
    "     dateOfBirth: string, dateOfDeath: string,"
    "     dateOfEstablishment: string, dateOfTermination: string,"
    "     fieldOfActivityOfThePerson: array<string>,"
    "     biographicalInformation: array<string>,"
    "     familyHistory: array<string>, corporateHistory: array<string>>>"
)


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_jsonl_dump(
        spark, cfg["dump_path"], schema=RAW_SCHEMA, sniff_regex=IDENTIFIER_SNIFF
    )


def guess_type(doc: F.Column) -> F.Column:
    """F23 (mapper.py:10-29): primaryTopic type first, then inScheme;
    null = drop (uniform titles and unknown schemes)."""
    topic_uri = F.coalesce(
        doc.getField("primaryTopic").getField("type").getField("uri"), F.lit("")
    )
    scheme = F.coalesce(doc.getField("inScheme").getField("uri"), F.lit(""))
    return (
        F.when(topic_uri == FOAF_PERSON, "Person")
        .when(topic_uri == FOAF_ORG, "Group")
        .when(topic_uri == FRBR_FAMILY, "Group")  # Family: a Group subclass
        .when(scheme == SCHEME_UNIFORM, F.lit(None).cast("string"))
        .when(scheme == SCHEME_GEO, "Place")
        .when(scheme == SCHEME_TOPIC, "Type")
    )


def _txn_lang(t: F.Column) -> F.Column:
    """'-'-split language tag head ('ja-Latn' -> 'ja'); null when empty."""
    head = F.split(F.coalesce(t.getField("lang"), F.lit("")), "-")[0]
    return F.when(head != "", F.lower(head))


def _preflbl(doc: F.Column) -> F.Column:
    """The pref literal with the ``label`` fallback (mapper.py:54-57)."""
    return F.coalesce(
        F.nullif(doc.getField("prefLabel").getField("literalForm"), F.lit("")),
        F.nullif(doc.getField("label"), F.lit("")),
        F.lit(""),
    )


def _dupes(doc: F.Column) -> F.Column:
    """The dupes set handle_common returns: pref literal + every alt
    literal (transcription values never join it — mapper.py:58,84-85)."""
    return F.concat(
        F.array(_preflbl(doc)),
        F.transform(
            F.coalesce(doc.getField("altLabel"), F.array()),
            lambda a: F.coalesce(a.getField("literalForm"), F.lit("")),
        ),
    )


def _names(doc: F.Column) -> F.Column:
    """handle_common's name assembly, dupes-set order preserved."""
    pref = doc.getField("prefLabel")
    preflbl = _preflbl(doc)
    pref_txns = F.filter(
        F.transform(
            F.coalesce(pref.getField("transcriptions"), F.array()),
            lambda t: F.when(
                (t.getField("value").isNotNull())
                & (t.getField("value") != "")
                & (t.getField("value") != preflbl),
                name_node(t.getField("value"), "primaryName", _txn_lang(t)),
            ),
        ),
        lambda n: n.isNotNull(),
    )
    anchor = F.when(preflbl != "", F.array(name_node(preflbl, "primaryName"))).otherwise(
        F.array()
    )

    # the running dupes set: seen = {preflbl} + each visited alt literal;
    # alt transcriptions test against seen AFTER their own literal joined
    init = F.struct(
        F.array(preflbl).alias("seen"),
        F.array().cast(f"array<{NAME_T}>").alias("names"),
    )

    def fold(acc, alt):
        alt_txt = F.coalesce(alt.getField("literalForm"), F.lit(""))
        fresh = ~F.array_contains(acc.getField("seen"), alt_txt)
        seen2 = F.when(
            fresh, F.concat(acc.getField("seen"), F.array(alt_txt))
        ).otherwise(acc.getField("seen"))
        alt_name = F.when(
            fresh & (alt_txt != ""),
            F.array(name_node(alt_txt, "alternateName")),
        ).otherwise(F.array().cast(f"array<{NAME_T}>"))
        txns = F.filter(
            F.transform(
                F.coalesce(alt.getField("transcriptions"), F.array()),
                lambda t: F.when(
                    (t.getField("value").isNotNull())
                    & (t.getField("value") != "")
                    & ~F.array_contains(seen2, t.getField("value")),
                    name_node(t.getField("value"), "alternateName", _txn_lang(t)),
                ),
            ),
            lambda n: n.isNotNull(),
        )
        return F.struct(
            seen2.alias("seen"),
            F.concat(acc.getField("names"), alt_name, txns).alias("names"),
        )

    alts = F.aggregate(
        F.coalesce(doc.getField("altLabel"), F.array()), init, fold
    ).getField("names")
    return F.concat(pref_txns, anchor, alts)


def _statements(doc: F.Column, rectype: F.Column) -> F.Column:
    """BiographyStatements/Notes per record class (ja-tagged where the
    reference tags them)."""
    topic = doc.getField("primaryTopic")

    def stmts(field: str, lang: str | None, role: str) -> F.Column:
        return F.transform(
            F.coalesce(topic.getField(field), F.array()),
            lambda s: F.struct(
                F.lit("LinguisticObject").alias("type"),
                s.alias("content"),
                (F.lit(lang) if lang else F.lit(None).cast("string")).alias("language"),
                F.lit(role).alias("role"),
            ),
        )

    person = F.concat(
        stmts("fieldOfActivityOfThePerson", "ja", "biography"),
        stmts("biographicalInformation", None, "biography"),
    )
    group = F.concat(
        stmts("familyHistory", "ja", "note"), stmts("corporateHistory", "ja", "note")
    )
    empty = F.array().cast(
        "array<struct<type: string, content: string, language: string, role: string>>"
    )
    return (
        F.when(rectype == "Person", person)
        .when(rectype == "Group", group)
        .otherwise(empty)
    )


def map_records(loaded: DataFrame, source_name: str = "japan") -> DataFrame:
    """Raw JSON-LD rows -> record envelopes (one projection)."""
    from ..functions.dates import make_datetime

    doc = F.col("doc")
    df = (
        loaded.filter(doc.getField("identifier").isNotNull())
        .withColumn("rectype", guess_type(doc.getField("doc")))
        .filter(F.col("rectype").isNotNull())
    )
    d = doc.getField("doc")
    topic = d.getField("primaryTopic")
    is_person = F.col("rectype") == "Person"
    is_group = F.col("rectype") == "Group"
    begin_raw = F.when(
        is_person, topic.getField("dateOfBirth")
    ).when(is_group, topic.getField("dateOfEstablishment"))
    end_raw = F.when(
        is_person, topic.getField("dateOfDeath")
    ).when(is_group, topic.getField("dateOfTermination"))
    df = (
        df.withColumn("begin_raw", begin_raw)
        .withColumn("end_raw", end_raw)
        .withColumn("begin_ts", make_datetime(F.col("begin_raw")))
        .withColumn("end_ts", make_datetime(F.col("end_raw")))
    )

    def event(ts, raw):
        return F.when(
            raw.isNotNull() & ts.getField("begin_iso").isNotNull(),
            F.struct(
                F.struct(
                    ts.getField("begin_iso").alias("begin_of_the_begin"),
                    ts.getField("end_iso").alias("end_of_the_end"),
                ).alias("timespan"),
                raw.alias("display"),
            ),
        )

    is_family = (
        F.coalesce(topic.getField("type").getField("uri"), F.lit("")) == FRBR_FAMILY
    )

    def uri_refs(field: str) -> F.Column:
        """Non-empty URIs of a record-level {uri,label} array, typed like
        the record (exactMatch mapper.py:99-103; anotherName/realName
        mapper.py:262-274)."""
        return F.filter(
            F.transform(
                F.coalesce(d.getField(field), F.array()),
                lambda e: F.when(
                    e.getField("uri").isNotNull() & (e.getField("uri") != ""),
                    F.struct(
                        e.getField("uri").alias("id"),
                        F.col("rectype").alias("type"),
                    ),
                ),
            ),
            lambda e: e.isNotNull(),
        )

    exact = F.filter(
        F.transform(
            F.coalesce(d.getField("exactMatch"), F.array()),
            lambda e: F.when(
                e.getField("uri").isNotNull() & (e.getField("uri") != ""),
                F.struct(e.getField("uri").alias("id"), F.col("rectype").alias("type")),
            ),
        ),
        lambda e: e.isNotNull(),
    )
    equivalents = F.concat(exact, uri_refs("anotherName"), uri_refs("realName"))

    preflbl = _preflbl(d)

    def attributions(field: str, type_uri: str) -> F.Column:
        """Record-level previousName/laterName -> AttributeAssignments
        (mapper.py:209-233); the ref label falls back to the pref
        literal, as the reference's ``orec.get('label', preflbl)``."""
        return F.filter(
            F.transform(
                F.coalesce(d.getField(field), F.array()),
                lambda p: F.when(
                    p.getField("uri").isNotNull() & (p.getField("uri") != ""),
                    F.struct(
                        F.lit("AttributeAssignment").alias("type"),
                        F.struct(
                            p.getField("uri").alias("id"), F.lit("Group").alias("type"),
                            F.coalesce(p.getField("label"), preflbl).alias("_label"),
                        ).alias("assigned"),
                        F.array(
                            F.struct(
                                F.lit(type_uri).alias("id"),
                                F.lit("Type").alias("type"),
                            )
                        ).alias("classified_as"),
                    ),
                ),
            ),
            lambda p: p.isNotNull(),
        )

    attributed = F.concat(
        attributions("previousName", PREVIOUS_NAME_TYPE),
        attributions("laterName", LATER_NAME_TYPE),
    )

    # primaryTopic.name -> AlternateName unless already a known literal
    # (mapper.py:257-260; the dupes set is pref + alt literals only)
    topic_name = F.coalesce(topic.getField("name"), F.lit(""))
    topic_alt = F.when(
        (topic_name != "") & ~F.array_contains(_dupes(d), topic_name),
        F.array(name_node(topic_name, "alternateName")),
    ).otherwise(F.array().cast(f"array<{NAME_T}>"))

    body = F.to_json(
        F.struct(
            d.getField("uri").alias("id"),
            F.col("rectype").alias("type"),
            F.concat(_names(d), topic_alt).alias("identified_by"),
            _statements(d, F.col("rectype")).alias("referred_to_by"),
            equivalents.alias("equivalent"),
            F.when(
                is_family,
                F.array(type_ref("family")),
            ).alias("classified_as"),
            F.when(is_person, event(F.col("begin_ts"), F.col("begin_raw"))).alias("born"),
            F.when(is_person, event(F.col("end_ts"), F.col("end_raw"))).alias("died"),
            F.when(is_group, event(F.col("begin_ts"), F.col("begin_raw"))).alias("formed_by"),
            F.when(is_group, event(F.col("end_ts"), F.col("end_raw"))).alias("dissolved_by"),
            F.when(is_group, attributed).alias("attributed_by"),
        )
    )
    return envelope(
        df, source_name, doc.getField("identifier"), "rectype",
        doc.getField("record_time"), body,
    )


CONFIG = {
    "name": "japan",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 6,
}
