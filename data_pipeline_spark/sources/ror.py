"""ROR (Research Organization Registry) source (U1 breadth #10).

Restates sources/general/ror/mapper.py:1-104 in /root/reference as
DataFrame expressions over the v2 API record shape
(api.ror.org/v2/organizations/{id}).  Kept semantics:

- **names**: ``names[]`` entries — ``ror_display`` type -> PrimaryName,
  any other non-``alias`` type -> plain Name, ``alias`` skipped;
  ``labels[]`` (label+iso639) append as plain Names; the legacy
  top-level ``name`` string becomes a ror_display entry when ``names``
  is absent.  Languages kept only when in the process-langs set.
  Records with no names at all are dropped (mapper.py:33-36).
- **established** year -> Formation timespan (Jan 1 .. Dec 31, the year
  string as DisplayName).
- **locations/addresses** ``geonames_id`` -> residence Place
  (sws.geonames.org URI) — S13/geonames is the join target.
- **links** of type website -> subject_of WebPage access point.
- **external_ids**: ISNI and Wikidata ids -> equivalents, with the
  reference's literal ``isni``/``wd`` prefixes kept verbatim
  (mapper.py:88-95 concatenates the short prefix, not a URL).
- **relationships** of type parent -> member_of.

The reference's per-entry string leniencies (a bare string inside
``names``/``links``) are v1-API relics its own comment disclaims; the
v2 loader here parses the object forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .loaders import IDENTIFIER_SNIFF, envelope, load_jsonl_dump, name_node

PROCESS_LANGS = [
    "en", "fr", "de", "es", "it", "nl", "pt", "zh", "ja", "ru", "ar",
    "el", "he", "hi", "ko", "pl", "sv", "da", "no", "fi", "cs", "tr",
]

RAW_SCHEMA = (
    "identifier string, record_time string,"
    " doc struct<"
    "   id: string, name: string,"
    "   names: array<struct<value: string, types: array<string>, lang: string>>,"
    "   labels: array<struct<label: string, iso639: string>>,"
    "   established: int,"
    "   locations: array<struct<geonames_id: long>>,"
    "   addresses: array<struct<geonames_id: long>>,"
    "   links: array<struct<type: string, value: string>>,"
    "   external_ids: array<struct<type: string, all: array<string>>>,"
    "   relationships: array<struct<type: string, id: string, label: string>>>"
)

EXTERNAL_ID_PREFIXES = (("ISNI", "isni"), ("Wikidata", "wd"))

def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_jsonl_dump(
        spark, cfg["dump_path"], schema=RAW_SCHEMA, sniff_regex=IDENTIFIER_SNIFF
    )


def map_records(loaded: DataFrame, source_name: str = "ror") -> DataFrame:
    doc = F.col("doc")
    d = doc.getField("doc")

    def lang_ok(lang):
        return F.when(lang.isin(*PROCESS_LANGS), lang)

    # names[] (legacy top-level name injected as ror_display when absent)
    base_names = F.coalesce(
        d.getField("names"),
        F.when(
            d.getField("name").isNotNull(),
            F.array(
                F.struct(
                    d.getField("name").alias("value"),
                    F.array(F.lit("ror_display")).alias("types"),
                    F.lit(None).cast("string").alias("lang"),
                )
            ),
        ),
    )
    from_names = F.filter(
        F.transform(
            F.coalesce(base_names, F.array().cast(
                "array<struct<value: string, types: array<string>, lang: string>>")),
            lambda n: F.when(
                n.getField("value").isNotNull()
                & ~F.array_contains(F.coalesce(n.getField("types"), F.array()), "alias"),
                F.when(
                    F.array_contains(
                        F.coalesce(n.getField("types"), F.array()), "ror_display"
                    ),
                    name_node(n.getField("value"), "primaryName",
                          lang_ok(n.getField("lang"))),
                ).otherwise(
                    name_node(n.getField("value"), None, lang_ok(n.getField("lang")))
                ),
            ),
        ),
        lambda n: n.isNotNull(),
    )
    from_labels = F.filter(
        F.transform(
            F.coalesce(d.getField("labels"), F.array().cast(
                "array<struct<label: string, iso639: string>>")),
            lambda l: F.when(
                l.getField("label").isNotNull(),
                name_node(l.getField("label"), None, lang_ok(l.getField("iso639"))),
            ),
        ),
        lambda n: n.isNotNull(),
    )
    names = F.concat(from_names, from_labels)

    est = d.getField("established")
    formed = F.when(
        est.isNotNull() & (est != 0),
        F.struct(
            F.struct(
                F.concat(est.cast("string"), F.lit("-01-01T00:00:00")).alias(
                    "begin_of_the_begin"
                ),
                F.concat(est.cast("string"), F.lit("-12-31T23:59:59")).alias(
                    "end_of_the_end"
                ),
            ).alias("timespan"),
            est.cast("string").alias("display"),
        ),
    )

    locs = F.coalesce(
        d.getField("locations"), d.getField("addresses"),
        F.array().cast("array<struct<geonames_id: long>>"),
    )
    residence = F.filter(
        F.transform(
            locs,
            lambda a: F.when(
                a.getField("geonames_id").isNotNull(),
                F.struct(
                    F.concat(
                        F.lit("https://sws.geonames.org/"),
                        a.getField("geonames_id").cast("string"),
                    ).alias("id"),
                    F.lit("Place").alias("type"),
                ),
            ),
        ),
        lambda p: p.isNotNull(),
    )

    websites = F.filter(
        F.transform(
            F.coalesce(d.getField("links"), F.array().cast(
                "array<struct<type: string, value: string>>")),
            lambda l: F.when(
                (l.getField("type") == "website") & l.getField("value").isNotNull(),
                F.struct(
                    F.lit("LinguisticObject").alias("type"),
                    F.lit("Website Text").alias("_label"),
                    F.struct(
                        F.lit("WebPage").alias("_label"),
                        F.array(
                            F.struct(
                                l.getField("value").alias("id"),
                                F.lit("DigitalObject").alias("type"),
                            )
                        ).alias("access_point"),
                    ).alias("digitally_carried_by"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )

    def _prefixer(prefix: str):
        # factory closure: a defaulted lambda param would be counted as
        # the HOF's index argument (see functions/dates.py note)
        return lambda a: F.struct(
            F.concat(F.lit(prefix), a).alias("id"),
            F.lit("Group").alias("type"),
        )

    equivalents = F.flatten(
        F.transform(
            F.coalesce(d.getField("external_ids"), F.array().cast(
                "array<struct<type: string, all: array<string>>>")),
            lambda e: F.coalesce(
                *[
                    F.when(
                        e.getField("type") == typ,
                        # the reference's literal short prefix, kept
                        F.transform(
                            F.coalesce(e.getField("all"), F.array()),
                            _prefixer(prefix),
                        ),
                    )
                    for typ, prefix in EXTERNAL_ID_PREFIXES
                ],
                F.array().cast("array<struct<id: string, type: string>>"),
            ),
        )
    )

    member_of = F.filter(
        F.transform(
            F.coalesce(d.getField("relationships"), F.array().cast(
                "array<struct<type: string, id: string, label: string>>")),
            lambda r: F.when(
                F.lower(F.coalesce(r.getField("type"), F.lit(""))) == "parent",
                F.struct(
                    r.getField("id").alias("id"), F.lit("Group").alias("type"),
                    r.getField("label").alias("_label"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )

    body = F.to_json(
        F.struct(
            d.getField("id").alias("id"),
            F.lit("Group").alias("type"),
            names.alias("identified_by"),
            formed.alias("formed_by"),
            F.when(F.size(residence) > 0, residence).alias("residence"),
            F.when(F.size(websites) > 0, websites).alias("subject_of"),
            F.when(F.size(equivalents) > 0, equivalents).alias("equivalent"),
            F.when(F.size(member_of) > 0, member_of).alias("member_of"),
        )
    )
    df = (
        loaded.filter(doc.getField("identifier").isNotNull())
        .withColumn("_names", names)
        .filter(F.size(F.col("_names")) > 0)  # nameless records dropped
    )
    return envelope(
        df, source_name, doc.getField("identifier"), F.lit("Group"),
        doc.getField("record_time"), body,
    )


CONFIG = {
    "name": "ror",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 9,
}
