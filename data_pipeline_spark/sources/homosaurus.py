"""Homosaurus vocabulary source (U1 breadth #12).

Restates sources/authorities/homosaurus/mapper.py:1-63 in
/root/reference: every SKOS concept becomes a Type — prefLabel ->
PrimaryName, altLabels -> AlternateNames, exactMatch then closeMatch
@ids deduped into equivalents (exact first, close only if new),
rdfs:comment -> Note, skos:broader @ids -> broader Types.  The
reference's scalar-or-list leniency is a JSON-LD artifact; the loader
here parses the list forms (a scalar value yields null through the
typed schema and the field is simply absent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .loaders import IDENTIFIER_SNIFF, NAME_T, envelope, load_jsonl_dump, name_node

_REF = "array<struct<`@id`: string>>"
RAW_SCHEMA = (
    "identifier string, record_time string,"
    " doc struct<"
    "   `skos:prefLabel`: string, `skos:altLabel`: array<string>,"
    f"  `skos:exactMatch`: {_REF}, `skos:closeMatch`: {_REF},"
    "   `rdfs:comment`: string,"
    f"  `skos:broader`: {_REF}>"
)


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_jsonl_dump(
        spark, cfg["dump_path"], schema=RAW_SCHEMA, sniff_regex=IDENTIFIER_SNIFF
    )


def _ids(col) -> F.Column:
    return F.filter(
        F.transform(
            F.coalesce(col, F.array().cast(_REF)), lambda e: e.getField("@id")
        ),
        lambda v: v.isNotNull() & (v != ""),
    )


def map_records(
    loaded: DataFrame,
    source_name: str = "homosaurus",
    namespace: str = "https://vocab.example/homosaurus/",
) -> DataFrame:
    doc = F.col("doc")
    d = doc.getField("doc")

    pref = F.when(
        d.getField("skos:prefLabel").isNotNull()
        & (d.getField("skos:prefLabel") != ""),
        F.array(name_node(d.getField("skos:prefLabel"), "primaryName")),
    ).otherwise(F.array().cast(f"array<{NAME_T}>"))
    alts = F.transform(
        F.coalesce(d.getField("skos:altLabel"), F.array().cast("array<string>")),
        lambda a: name_node(a, "alternateName"),
    )

    # exactMatch first; closeMatch joins only when not already present
    exact = _ids(d.getField("skos:exactMatch"))
    close = F.filter(
        _ids(d.getField("skos:closeMatch")),
        lambda v: ~F.array_contains(exact, v),
    )
    equivalents = F.transform(
        F.concat(exact, close),
        lambda v: F.struct(v.alias("id"), F.lit("Type").alias("type")),
    )

    note = d.getField("rdfs:comment")
    broader = F.transform(
        _ids(d.getField("skos:broader")),
        lambda v: F.struct(v.alias("id"), F.lit("Type").alias("type")),
    )

    body = F.to_json(
        F.struct(
            F.concat(F.lit(namespace), doc.getField("identifier")).alias("id"),
            F.lit("Type").alias("type"),
            d.getField("skos:prefLabel").alias("_label"),
            F.concat(pref, alts).alias("identified_by"),
            F.when(F.size(equivalents) > 0, equivalents).alias("equivalent"),
            F.when(
                note.isNotNull() & (note != ""),
                F.array(
                    F.struct(
                        F.lit("LinguisticObject").alias("type"),
                        note.alias("content"),
                        F.lit("note").alias("role"),
                    )
                ),
            ).alias("referred_to_by"),
            F.when(F.size(broader) > 0, broader).alias("broader"),
        )
    )
    return envelope(
        loaded.filter(doc.getField("identifier").isNotNull()), source_name,
        doc.getField("identifier"), F.lit("Type"), doc.getField("record_time"), body,
    )


CONFIG = {
    "name": "homosaurus",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 11,
}
