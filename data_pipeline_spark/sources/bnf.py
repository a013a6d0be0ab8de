"""BnF (Bibliothèque nationale de France) source (U1 breadth #25).

Restates the RDF/XML mapper (sources/libraries/bnf/mapper.py:16-300,
class BnfXmlMapper) in /root/reference as DataFrame expressions over
``F.from_xml`` — the record is an ``rdf:RDF`` of ``rdf:Description``
nodes addressed by ``rdf:about``.  Kept semantics:

- **type** (guess_type): the ``{ark}#about`` node's rdf:type — foaf
  Organization -> Group, foaf Person -> Person, wgs84 SpatialThing ->
  Place, anything else Type.
- **handle_common** on the bare ``{ark}`` concept node: French-tagged
  pref/alt labels, broader -> part_of (Place) or broader, exactMatch
  then closeMatch equivalents, note + scopeNote -> French Descriptions.
  A record whose concept node is missing (or duplicated) skips the
  common block, exactly like the reference's early return.
- **person**: foaf:name fallback primary when the concept had no pref
  label; biographicalInformation fallback note; foaf:gender matched
  ANYWHERE in the document (the reference's ``//foaf:gender``);
  bio:birth / bio:death through F1 with display names.
- **place**: rdfs:label fallback name; geo lat/long -> POINT.
- **group**: foaf:name fallback; corporateHistory fallback note;
  integer-datatyped bnf-onto firstYear/lastYear -> Formation /
  Dissolution.

The sibling JSON-LD mapper (class BnfMapper, the @graph reconstitute
walk) maps the same properties from the older dump shape; the XML dump
is the shape this port targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .loaders import IDENTIFIER_SNIFF, NAME_T, envelope, load_jsonl_dump, name_node

FOAF_ORG = "http://xmlns.com/foaf/0.1/Organization"
FOAF_PERSON = "http://xmlns.com/foaf/0.1/Person"
WGS_SPATIAL = "http://www.w3.org/2003/01/geo/wgs84_pos#SpatialThing"
MALE = "http://vocab.getty.edu/aat/300189559"
FEMALE = "http://vocab.getty.edu/aat/300189557"

_RES = "array<struct<`_rdf:resource`: string>>"
_YEAR = "array<struct<_VALUE: string, `_rdf:datatype`: string>>"
_DESC_T = (
    "struct<"
    " `_rdf:about`: string,"
    f" `rdf:type`: {_RES},"
    " `skos:prefLabel`: array<string>, `skos:altLabel`: array<string>,"
    f" `skos:closeMatch`: {_RES}, `skos:exactMatch`: {_RES},"
    f" `skos:broader`: {_RES},"
    " `skos:note`: array<string>, `skos:scopeNote`: array<string>,"
    " `foaf:name`: array<string>, `foaf:gender`: array<string>,"
    " `rdfs:label`: array<string>,"
    " `bio:birth`: array<string>, `bio:death`: array<string>,"
    " `rdagroup2elements:biographicalInformation`: array<string>,"
    " `rdagroup2elements:corporateHistory`: array<string>,"
    " `geo:lat`: string, `geo:long`: string,"
    f" `bnf-onto:firstYear`: {_YEAR}, `bnf-onto:lastYear`: {_YEAR}>"
)
RDF_XML_SCHEMA = f"struct<`rdf:Description`: array<{_DESC_T}>>"

RAW_SCHEMA = "identifier string, record_time string, doc struct<xml: string>"

ARK_NS = "https://data.bnf.fr/ark:/12148/"

def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_jsonl_dump(
        spark, cfg["dump_path"], schema=RAW_SCHEMA, sniff_regex=IDENTIFIER_SNIFF
    )


def _resources(col) -> F.Column:
    return F.filter(
        F.transform(
            F.coalesce(col, F.array().cast(_RES)),
            lambda r: r.getField("_rdf:resource"),
        ),
        lambda v: v.isNotNull() & (v != ""),
    )


def map_records(loaded: DataFrame, source_name: str = "bnf") -> DataFrame:
    from ..functions.dates import make_datetime

    doc = F.col("doc")
    ident = doc.getField("identifier")
    rdf = F.from_xml(doc.getField("doc").getField("xml"), RDF_XML_SCHEMA)
    descs = F.coalesce(
        rdf.getField("rdf:Description"), F.array().cast(f"array<{_DESC_T}>")
    )
    base = F.concat(F.lit(ARK_NS), ident)
    about_url = F.concat(base, F.lit("#about"))

    def node_for(url) -> F.Column:
        return F.try_element_at(
            F.filter(descs, lambda d: d.getField("_rdf:about") == url), F.lit(1)
        )

    me = node_for(about_url)
    commons = F.filter(descs, lambda d: d.getField("_rdf:about") == base)
    common = F.when(F.size(commons) == 1, F.element_at(commons, 1))

    class_typ = F.try_element_at(
        F.coalesce(me.getField("rdf:type"), F.array().cast(_RES)), F.lit(1)
    ).getField("_rdf:resource")
    rectype = (
        F.when(class_typ == FOAF_ORG, "Group")
        .when(class_typ == FOAF_PERSON, "Person")
        .when(class_typ == WGS_SPATIAL, "Place")
        .otherwise("Type")
    )

    fr = F.lit("fr")
    pref = F.try_element_at(
        F.coalesce(common.getField("skos:prefLabel"), F.array().cast("array<string>")),
        F.lit(1),
    )
    common_names = F.concat(
        F.when(pref.isNotNull(), F.array(name_node(pref, "primaryName", fr)))
        .otherwise(F.array().cast(f"array<{NAME_T}>")),
        F.transform(
            F.coalesce(common.getField("skos:altLabel"), F.array().cast("array<string>")),
            lambda a: name_node(a, "alternateName", fr),
        ),
    )
    # class-specific name fallback, only when the common block gave none
    fallback_name = F.coalesce(
        F.try_element_at(
            F.coalesce(me.getField("foaf:name"), F.array().cast("array<string>")),
            F.lit(1),
        ),
        F.when(
            rectype == "Place",
            F.try_element_at(
                F.coalesce(me.getField("rdfs:label"), F.array().cast("array<string>")),
                F.lit(1),
            ),
        ),
    )
    names = F.when(F.size(common_names) > 0, common_names).otherwise(
        F.when(
            fallback_name.isNotNull(),
            F.array(name_node(fallback_name, "primaryName")),
        ).otherwise(F.array().cast(f"array<{NAME_T}>"))
    )

    broaders = _resources(common.getField("skos:broader"))
    broader_refs = F.transform(
        broaders, lambda b: F.struct(b.alias("id"), rectype.alias("type"))
    )
    equivalents = F.transform(
        F.concat(
            _resources(common.getField("skos:exactMatch")),
            _resources(common.getField("skos:closeMatch")),
        ),
        lambda e: F.struct(e.alias("id"), rectype.alias("type")),
    )

    common_notes = F.transform(
        F.concat(
            F.coalesce(common.getField("skos:note"), F.array().cast("array<string>")),
            F.coalesce(common.getField("skos:scopeNote"), F.array().cast("array<string>")),
        ),
        lambda n: F.struct(
            F.lit("LinguisticObject").alias("type"), n.alias("content"),
            F.lit("fr").alias("language"), F.lit("description").alias("role"),
        ),
    )
    fallback_note = F.when(
        rectype == "Person",
        F.try_element_at(
            F.coalesce(
                me.getField("rdagroup2elements:biographicalInformation"),
                F.array().cast("array<string>"),
            ),
            F.lit(1),
        ),
    ).when(
        rectype == "Group",
        F.try_element_at(
            F.coalesce(
                me.getField("rdagroup2elements:corporateHistory"),
                F.array().cast("array<string>"),
            ),
            F.lit(1),
        ),
    )
    note_t = (
        "array<struct<type: string, content: string, language: string,"
        " role: string>>"
    )
    notes = F.when(F.size(common_notes) > 0, common_notes).otherwise(
        F.when(
            fallback_note.isNotNull(),
            F.array(
                F.struct(
                    F.lit("LinguisticObject").alias("type"),
                    fallback_note.alias("content"),
                    F.when(rectype == "Group", F.lit("fr")).alias("language"),
                    F.lit("description").alias("role"),
                )
            ),
        ).otherwise(F.array().cast(note_t))
    )

    # gender: ANY node's foaf:gender (the reference's //foaf:gender)
    genders = F.flatten(
        F.transform(
            descs,
            lambda d: F.coalesce(d.getField("foaf:gender"), F.array().cast("array<string>")),
        )
    )
    gender = F.lower(F.coalesce(F.try_element_at(genders, F.lit(1)), F.lit("")))
    classes = F.when(
        (rectype == "Person") & (gender == "male"),
        F.array(F.struct(F.lit(MALE).alias("id"), F.lit("Type").alias("type"),
                         F.lit("male").alias("_label"))),
    ).when(
        (rectype == "Person") & (gender == "female"),
        F.array(F.struct(F.lit(FEMALE).alias("id"), F.lit("Type").alias("type"),
                         F.lit("female").alias("_label"))),
    )

    def first_txt(col):
        return F.try_element_at(
            F.coalesce(col, F.array().cast("array<string>")), F.lit(1)
        )

    def year_of(col):
        vals = F.filter(
            F.coalesce(col, F.array().cast(_YEAR)),
            lambda y: y.getField("_rdf:datatype")
            == "http://www.w3.org/2001/XMLSchema#integer",
        )
        return F.try_element_at(vals, F.lit(1)).getField("_VALUE")

    def event(raw) -> F.Column:
        ts = make_datetime(raw)
        return F.when(
            raw.isNotNull() & (raw != "") & ts.getField("begin_iso").isNotNull(),
            F.struct(
                F.struct(
                    ts.getField("begin_iso").alias("begin_of_the_begin"),
                    ts.getField("end_iso").alias("end_of_the_end"),
                ).alias("timespan"),
                raw.alias("display"),
            ),
        )

    dob = first_txt(me.getField("bio:birth"))
    dod = first_txt(me.getField("bio:death"))
    dof = year_of(me.getField("bnf-onto:firstYear"))
    dol = year_of(me.getField("bnf-onto:lastYear"))

    lat = me.getField("geo:lat")
    lng = me.getField("geo:long")
    wkt = F.when(
        (rectype == "Place") & lat.isNotNull() & (lat != "")
        & lng.isNotNull() & (lng != ""),
        F.format_string("POINT ( %s %s )", lng, lat),
    )

    body = F.to_json(
        F.struct(
            base.alias("id"),
            rectype.alias("type"),
            names.alias("identified_by"),
            F.when(F.size(notes) > 0, notes).alias("referred_to_by"),
            F.when(
                rectype == "Place", F.when(F.size(broader_refs) > 0, broader_refs)
            ).alias("part_of"),
            F.when(
                rectype != "Place", F.when(F.size(broader_refs) > 0, broader_refs)
            ).alias("broader"),
            F.when(F.size(equivalents) > 0, equivalents).alias("equivalent"),
            classes.alias("classified_as"),
            F.when(rectype == "Person", event(dob)).alias("born"),
            F.when(rectype == "Person", event(dod)).alias("died"),
            F.when(rectype == "Group", event(dof)).alias("formed_by"),
            F.when(rectype == "Group", event(dol)).alias("dissolved_by"),
            wkt.alias("defined_by"),
        )
    )
    df = (
        loaded.filter(ident.isNotNull())
        .withColumn("_rdf", rdf)
        .filter(F.col("_rdf").isNotNull())
    )
    return envelope(
        df, source_name, ident, rectype, doc.getField("record_time"), body
    )


CONFIG = {
    "name": "bnf",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 25,
}
