"""GBIF taxon authority source (U1 breadth #11).

Restates sources/authorities/gbif/mapper.py:1-98 in /root/reference as
DataFrame expressions.  Every record maps to a Type (taxon concept):

- **names**: canonicalName then vernacularName; scientificName only when
  neither exists; the record's own rank field (``data[rank]``, a
  rank-named column like ``genus``) as the last resort.  First name is
  the PrimaryName and the label, the rest AlternateNames.
- **broader**: parentKey -> the parent taxon URI.
- **classified_as**: the rank mapped through the wikidata rank table
  (kingdom..subspecies).
- **referred_to_by**: description entries as LinguisticObjects; language
  through the F15 3->2 map; the source attached as an
  AttributeAssignment note.
- **identified_by (altids)**: sourceTaxonKey as AlternateNames,
  classified through the known-source wikidata table, otherwise the
  source rides along as an AttributeAssignment note.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.strings import LANG_THREE_TO_TWO
from .loaders import IDENTIFIER_SNIFF, envelope, load_jsonl_dump, type_ref

WD = "http://www.wikidata.org/entity/"

# mapper.py:8-21 — taxonomic rank -> wikidata concept
RANK_TYPES = {
    "kingdom": WD + "Q36732", "phylum": WD + "Q38348",
    "subphylum": WD + "Q1153785", "superclass": WD + "Q3504061",
    "class": WD + "Q37517", "subclass": WD + "Q5867051",
    "superorder": WD + "Q5868144", "order": WD + "Q36602",
    "family": WD + "Q35409", "genus": WD + "Q34740",
    "species": WD + "Q7432", "subspecies": WD + "Q68947",
}

# mapper.py:22-28 — alt-id source -> wikidata concept
ALTID_TYPES = {
    "World Register of Marine Species": WD + "Q604063",
    "The Paleobiology Database": WD + "Q17073815",
    "Catalogue of Life Checklist": WD + "Q38840",
    "The Interim Register of Marine and Nonmarine Genera": WD + "Q51885189",
    "Zoological names. A list of phyla, classes, and orders, prepared for "
    "section F, American Association for the Advancement of Science":
        WD + "Q109580022",
}

_RANK_FIELDS = ", ".join(f"`{r}`: string" for r in RANK_TYPES)
RAW_SCHEMA = (
    "identifier string, record_time string,"
    " doc struct<"
    "   key: long, rank: string, parentKey: long,"
    "   canonicalName: string, vernacularName: string, scientificName: string,"
    f"  {_RANK_FIELDS},"
    "   description: array<struct<description: string, source: string,"
    "     language: string>>,"
    "   altids: array<struct<sourceTaxonKey: string, source: string>>>"
)


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_jsonl_dump(
        spark, cfg["dump_path"], schema=RAW_SCHEMA, sniff_regex=IDENTIFIER_SNIFF
    )


def map_records(
    loaded: DataFrame,
    source_name: str = "gbif",
    namespace: str = "https://taxon.example/species/",
) -> DataFrame:
    doc = F.col("doc")
    d = doc.getField("doc")
    rank = F.lower(F.coalesce(d.getField("rank"), F.lit("")))

    def nn(col):  # non-empty
        return F.when(col.isNotNull() & (col != ""), col)

    # data[rank]: the rank-named field selected by the rank value
    rank_field = F.lit(None).cast("string")
    for r in RANK_TYPES:
        rank_field = F.when(rank == r, nn(d.getField(r))).otherwise(rank_field)

    primary3 = F.array_compact(
        F.array(nn(d.getField("canonicalName")), nn(d.getField("vernacularName")))
    )
    names_list = F.when(F.size(primary3) > 0, primary3).otherwise(
        F.array_compact(F.array(F.coalesce(nn(d.getField("scientificName")),
                                           rank_field)))
    )

    def name_struct(content, cls):
        return F.struct(
            F.lit("Name").alias("type"), content.alias("content"),
            F.array(type_ref(cls)).alias("classified_as"),
            F.lit(None).cast("string").alias("_note"),
        )

    base_names = F.transform(
        names_list,
        lambda c, i: F.when(i == 0, name_struct(c, "primaryName")).otherwise(
            name_struct(c, "alternateName")
        ),
    )

    # altids -> AlternateNames, classified via the known-source table or
    # carrying the source as a note
    def altid_name(a):
        cls = F.lit(None).cast("string")
        for src, wd in ALTID_TYPES.items():
            cls = F.when(a.getField("source") == src, F.lit(wd)).otherwise(cls)
        return F.struct(
            F.lit("Name").alias("type"),
            a.getField("sourceTaxonKey").alias("content"),
            F.when(
                cls.isNotNull(),
                F.array(F.struct(cls.alias("id"), F.lit("Type").alias("type"))),
            ).otherwise(F.array(type_ref("alternateName"))).alias("classified_as"),
            F.when(cls.isNull(), a.getField("source")).alias("_note"),
        )

    altids = F.filter(
        F.transform(
            F.coalesce(d.getField("altids"), F.array().cast(
                "array<struct<sourceTaxonKey: string, source: string>>")),
            lambda a: F.when(a.getField("sourceTaxonKey").isNotNull(),
                             altid_name(a)),
        ),
        lambda n: n.isNotNull(),
    )

    def desc_lang(lang):
        mapped = F.lit(None).cast("string")
        for three, two in LANG_THREE_TO_TWO.items():
            mapped = F.when(lang == three, F.lit(two)).otherwise(mapped)
        return F.when(F.length(F.coalesce(lang, F.lit(""))) == 3, mapped).otherwise(
            nn(F.coalesce(lang, F.lit("")))
        )

    descriptions = F.filter(
        F.transform(
            F.coalesce(d.getField("description"), F.array().cast(
                "array<struct<description: string, source: string,"
                " language: string>>")),
            lambda x: F.when(
                x.getField("description").isNotNull(),
                F.struct(
                    F.lit("LinguisticObject").alias("type"),
                    x.getField("description").alias("content"),
                    desc_lang(x.getField("language")).alias("language"),
                    x.getField("source").alias("_source"),
                ),
            ),
        ),
        lambda s: s.isNotNull(),
    )

    rank_class = F.lit(None).cast("string")
    for r, wd in RANK_TYPES.items():
        rank_class = F.when(rank == r, F.lit(wd)).otherwise(rank_class)

    body = F.to_json(
        F.struct(
            F.concat(F.lit(namespace), d.getField("key").cast("string")).alias("id"),
            F.lit("Type").alias("type"),
            F.element_at(names_list, 1).alias("_label"),
            F.concat(base_names, altids).alias("identified_by"),
            F.when(
                d.getField("parentKey").isNotNull(),
                F.array(
                    F.struct(
                        F.concat(
                            F.lit(namespace), d.getField("parentKey").cast("string")
                        ).alias("id"),
                        F.lit("Type").alias("type"),
                    )
                ),
            ).alias("broader"),
            F.when(
                rank_class.isNotNull(),
                F.array(F.struct(rank_class.alias("id"), F.lit("Type").alias("type"))),
            ).alias("classified_as"),
            F.when(F.size(descriptions) > 0, descriptions).alias("referred_to_by"),
        )
    )
    df = (
        loaded.filter(
            doc.getField("identifier").isNotNull()
            & d.getField("key").isNotNull()
        )
        .withColumn("_n", names_list)
        .filter(F.size(F.col("_n")) > 0)
    )
    return envelope(
        df, source_name, doc.getField("identifier"), F.lit("Type"),
        doc.getField("record_time"), body,
    )


CONFIG = {
    "name": "gbif",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 10,
}
