"""GeoNames source (U1 breadth #7): the gazetteer feeding F16-F19.

Restates sources/general/geonames/{mapper,loader,fetcher}.py in
/root/reference as DataFrame expressions.  Two ingest shapes, both kept:

- **RDF/XML records** (``map_records``, reference mapper.py:25-136): the
  fetched per-place ``<rdf:RDF><gn:Feature>`` documents.  Parsed
  JVM-side with ``F.from_xml`` (namespace-prefixed tags are literal
  field names; attributes carry the ``_`` prefix) — no Python in the
  parse path.  Kept semantics, in reference order: officialName ->
  one PrimaryName per language (dict semantics: LAST value per lang
  wins), alternateName -> AlternateNames (all, per lang), language
  filter ``not lang or lang in process_langs``, the name election
  (gn:name, then en official, en alternate, untagged official, any
  official, any alternate), ``POINT ( lng lat )`` from wgs84 lat/long
  (F16), parentFeature else parentCountry -> part_of, seeAlso ->
  equivalents labelled with the elected name.  Records whose XML does
  not parse to a gn:Feature are dropped (reference returns None).
- **bulk TSV dump** (``load_dump``/``map_dump``, reference
  loader.py:31-78): allCountries.txt (19 tab-separated columns, 12.3M
  rows at full scale) + hierarchy.txt child->parent.  The reference
  streams the TSV through one process; here the file splits across
  executors (csv reader, no quoting) and the hierarchy lookup is a
  shuffle join on geonameid — both sides scale linearly.  Alternate
  names come pre-flattened (comma-joined, no languages); each becomes
  an untagged AlternateName unless equal to the primary name.

The fetch throttle check (fetcher.py:7-10: a 'Please throttle' body
disables the network) belongs to the S1 fetcher's retry policy; the
dump-first design makes it moot here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geometry import wkt_point
from .loaders import IDENTIFIER_SNIFF, envelope, load_jsonl_dump, name_node

# The reference filters names to languages it has vocab instances for
# (process/base/mapper.py:35-41: every cromulent Language with a
# notation).  The common-notation set, as data:
PROCESS_LANGS = [
    "en", "fr", "de", "es", "it", "nl", "pt", "zh", "ja", "ru", "ar",
    "el", "he", "hi", "ko", "pl", "sv", "da", "no", "fi", "cs", "tr",
]

# gn:Feature schema for F.from_xml over the raw RDF/XML value.  Spark's
# XML reader keeps namespace prefixes in tag names and prefixes
# attributes with '_'; element text beside attributes lands in _VALUE.
FEATURE_XML_SCHEMA = (
    "struct<`gn:Feature`: struct<"
    " `_rdf:about`: string,"
    " `gn:name`: array<string>,"
    " `gn:officialName`: array<struct<_VALUE: string, `_xml:lang`: string>>,"
    " `gn:alternateName`: array<struct<_VALUE: string, `_xml:lang`: string>>,"
    " `gn:shortName`: array<struct<_VALUE: string, `_xml:lang`: string>>,"
    " `gn:featureClass`: array<struct<`_rdf:resource`: string>>,"
    " `gn:featureCode`: array<struct<`_rdf:resource`: string>>,"
    " `gn:countryCode`: string,"
    " `wgs84_pos:lat`: string, `wgs84_pos:long`: string,"
    " `gn:parentFeature`: array<struct<`_rdf:resource`: string>>,"
    " `gn:parentCountry`: array<struct<`_rdf:resource`: string>>,"
    " `rdfs:seeAlso`: array<struct<`_rdf:resource`: string>>>>"
)

RAW_SCHEMA = (
    "identifier string, record_time string, doc struct<value: string>"
)

_LANGED_T = "array<struct<lang: string, txt: string>>"


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    """Fetched-record JSONL dump: one row per place, the raw RDF/XML in
    doc.value (the fetcher stores it verbatim, fetcher.py:3-5)."""
    return load_jsonl_dump(
        spark, cfg["dump_path"], schema=RAW_SCHEMA, sniff_regex=IDENTIFIER_SNIFF
    )


def _lang_ok(lang: F.Column) -> F.Column:
    return (lang == "") | lang.isin(*PROCESS_LANGS)


def _langed(elems: F.Column) -> F.Column:
    """(lang, txt) pairs of a value+xml:lang element array, language
    filter applied, empty lang for untagged (mapper.py:70-84)."""
    return F.filter(
        F.transform(
            F.coalesce(elems, F.array().cast(
                "array<struct<_VALUE: string, `_xml:lang`: string>>")),
            lambda e: F.struct(
                F.coalesce(e.getField("_xml:lang"), F.lit("")).alias("lang"),
                e.getField("_VALUE").alias("txt"),
            ),
        ),
        lambda p: p.getField("txt").isNotNull()
        & (p.getField("txt") != "")
        & _lang_ok(p.getField("lang")),
    )


def _pnames(officials: F.Column) -> F.Column:
    """The pnames dict fold: one entry per language, LAST value wins,
    first-seen position kept (python dict update semantics)."""
    def upsert(acc, e):
        seen = F.exists(acc, lambda a: a.getField("lang") == e.getField("lang"))
        replaced = F.transform(
            acc,
            lambda a: F.when(a.getField("lang") == e.getField("lang"), e).otherwise(a),
        )
        return F.when(seen, replaced).otherwise(F.concat(acc, F.array(e)))

    return F.aggregate(officials, F.array().cast(_LANGED_T), upsert)


def _first_txt(pairs: F.Column, lang=None) -> F.Column:
    got = pairs if lang is None else F.filter(
        pairs, lambda p: p.getField("lang") == lang
    )
    # try_element_at: empty candidate lists must yield NULL for the
    # coalesce election, not an ANSI index error
    return F.try_element_at(got, F.lit(1)).getField("txt")


def map_records(loaded: DataFrame, source_name: str = "geonames") -> DataFrame:
    """RDF/XML rows -> Place record envelopes (one projection)."""
    feat = F.from_xml(
        F.col("doc").getField("doc").getField("value"), FEATURE_XML_SCHEMA
    ).getField("gn:Feature")
    df = (
        loaded.filter(F.col("doc").getField("identifier").isNotNull())
        .withColumn("feat", feat)
        .filter(F.col("feat").isNotNull()
                & F.col("feat").getField("_rdf:about").isNotNull())
    )
    f = F.col("feat")
    ident = F.regexp_replace(F.trim(f.getField("_rdf:about")), "/+$", "")

    pnames = _pnames(_langed(f.getField("gn:officialName")))
    anames = _langed(f.getField("gn:alternateName"))
    gname = F.try_element_at(
        F.coalesce(f.getField("gn:name"), F.array().cast("array<string>")), F.lit(1)
    )
    # name election, reference order (mapper.py:86-101)
    name = F.coalesce(
        gname,
        _first_txt(pnames, F.lit("en")),
        _first_txt(anames, F.lit("en")),
        _first_txt(pnames, F.lit("")),
        _first_txt(pnames),
        _first_txt(anames),
    )

    def names_of(pairs: F.Column, cls: str) -> F.Column:
        return F.transform(
            pairs,
            lambda p: name_node(
                p.getField("txt"), cls,
                F.when(p.getField("lang") != "", p.getField("lang")),
            ),
        )

    identified = F.concat(names_of(pnames, "primaryName"),
                          names_of(anames, "alternateName"))

    lat = f.getField("wgs84_pos:lat")
    lng = f.getField("wgs84_pos:long")
    wkt = F.when(
        lat.isNotNull() & (lat != "") & lng.isNotNull() & (lng != ""),
        wkt_point(lng, lat),
    )

    def refs(field: str) -> F.Column:
        return F.filter(
            F.transform(
                F.coalesce(f.getField(field), F.array().cast(
                    "array<struct<`_rdf:resource`: string>>")),
                lambda r: F.when(
                    r.getField("_rdf:resource").isNotNull()
                    & (r.getField("_rdf:resource") != ""),
                    F.struct(
                        r.getField("_rdf:resource").alias("id"),
                        F.lit("Place").alias("type"),
                    ),
                ),
            ),
            lambda r: r.isNotNull(),
        )

    parents = refs("gn:parentFeature")
    part_of = F.when(F.size(parents) > 0, parents).otherwise(refs("gn:parentCountry"))
    equivalents = F.transform(
        refs("rdfs:seeAlso"),
        lambda r: F.struct(
            r.getField("id").alias("id"), r.getField("type").alias("type"),
            name.alias("_label"),
        ),
    )

    body = F.to_json(
        F.struct(
            ident.alias("id"),
            F.lit("Place").alias("type"),
            name.alias("_label"),
            identified.alias("identified_by"),
            wkt.alias("defined_by"),
            part_of.alias("part_of"),
            equivalents.alias("equivalent"),
        )
    )
    return envelope(
        df, source_name,
        F.regexp_replace(F.col("doc").getField("identifier"), "/+$", ""),
        F.lit("Place"), F.col("doc").getField("record_time"), body,
    )


# ---------------------------------------------------------------------------
# bulk TSV dump (allCountries.txt + hierarchy.txt)
# ---------------------------------------------------------------------------

DUMP_SCHEMA = (
    "geonameid string, name string, asciiname string, alternatenames string,"
    " latitude string, longitude string, feature_class string,"
    " feature_code string, country_code string, cc2 string,"
    " admin1 string, admin2 string, admin3 string, admin4 string,"
    " population long, elevation int, dem int, timezone string,"
    " modification_date string"
)


def load_dump(spark: SparkSession, path: str) -> DataFrame:
    """allCountries.txt: tab-separated, unquoted, no header — splits
    across executors like any text source (the reference single-process
    loop is loader.py:46-78)."""
    return spark.read.csv(path, sep="\t", schema=DUMP_SCHEMA, quote="")


def load_hierarchy(spark: SparkSession, path: str) -> DataFrame:
    """hierarchy.txt: parent<TAB>child<TAB>type rows (loader.py:36-43,
    the child_parent dict — here a join relation)."""
    return spark.read.csv(
        path, sep="\t", schema="parent string, child string, htype string", quote=""
    )


def map_dump(
    rows: DataFrame,
    hierarchy: DataFrame | None = None,
    namespace: str = "https://sws.geonames.org/",
) -> DataFrame:
    """Bulk rows -> Place envelopes (loader.py:46-73): primary name +
    comma-flattened alternates (minus the primary), POINT WKT, part_of
    via the hierarchy join.  The reference keeps the FIRST record per
    geonameid (out_cache check) — restated as a keep-first dedupe."""
    df = rows.filter(F.col("geonameid").isNotNull()).dropDuplicates(["geonameid"])
    if hierarchy is not None:
        df = df.join(
            hierarchy.dropDuplicates(["child"]).select(
                F.col("child").alias("geonameid"), F.col("parent").alias("_parent")
            ),
            "geonameid",
            "left",
        )
    else:
        df = df.withColumn("_parent", F.lit(None).cast("string"))

    ident = F.concat(F.lit(namespace), F.col("geonameid"))
    name = F.col("name")
    alts = F.filter(
        F.split(F.coalesce(F.col("alternatenames"), F.lit("")), ","),
        lambda a: (a != "") & (a != name),
    )
    identified = F.concat(
        F.array(name_node(name, "primaryName")),
        F.transform(alts, lambda a: name_node(a, "alternateName")),
    )
    lat, lng = F.col("latitude"), F.col("longitude")
    wkt = F.when(
        lat.isNotNull() & (lat != "") & lng.isNotNull() & (lng != ""),
        wkt_point(lng, lat),
    )
    part_of = F.when(
        F.col("_parent").isNotNull(),
        F.array(
            F.struct(
                F.concat(F.lit(namespace), F.col("_parent")).alias("id"),
                F.lit("Place").alias("type"),
            )
        ),
    )
    body = F.to_json(
        F.struct(
            ident.alias("id"),
            F.lit("Place").alias("type"),
            name.alias("_label"),
            identified.alias("identified_by"),
            wkt.alias("defined_by"),
            part_of.alias("part_of"),
        )
    )
    return envelope(
        df, "geonames", ident, F.lit("Place"),
        F.concat(F.col("modification_date"), F.lit("T00:00:00")), body,
    )


CONFIG = {
    "name": "geonames",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 7,
}
