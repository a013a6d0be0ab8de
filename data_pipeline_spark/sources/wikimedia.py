"""Wikimedia Commons image source (U1 breadth #4): the imageinfo mapper.

Restates sources/general/wikimedia/mapper.py:1-92 in /root/reference as
DataFrame expressions.  The reference consumes Commons imageinfo API
responses and emits a DigitalImage per allowed-license image; everything
else returns None.  Shapes kept:

- **page extraction** (mapper.py:21-31): ``data.query.pages.popitem()``
  takes the single dynamic-keyed page — Spark: last map value; a missing
  page or missing ``imageinfo[0].extmetadata`` drops the record.
- **license gate** (mapper.py:32-35): extmetadata License.value must be
  one of the allowed license codes (pd, cc0, cc-by-sa-4.0, cc-by-4.0).
- **title/extension gate** (mapper.py:40-46): strip the ``File:`` prefix;
  only jpg/jpeg/gif/png survive.
- **access point** (mapper.py:47-48): the Special:FilePath URL for the
  title.
- **name/description** (mapper.py:50-66): ObjectName / ImageDescription
  HTML-stripped (F14) into PrimaryName / Description.
- **rights** (mapper.py:68-77): LicenseUrl+UsageTerms become a Right
  classified by the license URL.
- **credit line** (mapper.py:79-89): ``<span>{name|title}[ by artist]
  [ credit], {<a>shortname</a>|usageterms}</span>`` RightsStatement.

The fetch stage is the generic distributed fetcher (S1,
sources/fetcher.py) with the reference's make_fetch_uri fragment-strip
(fetcher.py:14-17) applied at URI build time; ``licenses_from_mapped``
exports the (filename, license_uri) table the concrete J11 join
(pipeline/enrich.py: enrich_wikimedia_licenses) consumes — mapper output
feeding license validation end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .loaders import IDENTIFIER_SNIFF, envelope, load_jsonl_dump, name_node

ALLOWED_LICENSES = ["pd", "cc0", "cc-by-sa-4.0", "cc-by-4.0"]
_OK_EXT = r"(?i)\.(jpe?g|gif|png)$"
FILEPATH_BASE = "https://commons.wikimedia.org/wiki/Special:Filepath/"

# imageinfo API response, normalized at parse time (the reference's
# try/except ladders become null checks on the parsed struct).
RAW_SCHEMA = (
    "identifier string, record_time string,"
    " data struct<query: struct<pages: map<string, struct<"
    "   title: string,"
    "   imageinfo: array<struct<extmetadata: struct<"
    "     License: struct<value: string>,"
    "     ObjectName: struct<value: string>,"
    "     ImageDescription: struct<value: string>,"
    "     LicenseUrl: struct<value: string>,"
    "     UsageTerms: struct<value: string>,"
    "     LicenseShortName: struct<value: string>,"
    "     Credit: struct<value: string>,"
    "     Artist: struct<value: string>>>>>>>>"
)


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_jsonl_dump(
        spark, cfg["dump_path"], schema=RAW_SCHEMA, sniff_regex=IDENTIFIER_SNIFF
    )


def _meta(field: F.Column, name: str) -> F.Column:
    """extmetadata.<name>.value with the reference's {'value': ''} default."""
    return F.coalesce(field.getField(name).getField("value"), F.lit(""))


def image_fields(doc: F.Column) -> F.Column:
    """The mapper's full decision as one struct: ``status`` is 'ok' or the
    drop reason; the remaining fields are null/'' unless status='ok'.
    Exposed so the driver gate query and map_records share one code path."""
    # popitem() pops the LAST dict entry; map_values keeps insertion order
    page = F.try_element_at(
        F.map_values(doc.getField("data").getField("query").getField("pages")),
        F.lit(-1),
    )
    info = F.try_element_at(page.getField("imageinfo"), F.lit(1)).getField(
        "extmetadata"
    )
    lic = _meta(info, "License")
    raw_title = F.coalesce(page.getField("title"), F.lit(""))
    title = F.when(
        raw_title.startswith("File:"), F.substring(raw_title, 6, 1 << 20)
    ).otherwise(raw_title)

    from ..functions.strings import strip_html

    name = strip_html(_meta(info, "ObjectName"))
    desc = strip_html(_meta(info, "ImageDescription"))
    licurl = _meta(info, "LicenseUrl")
    licname = _meta(info, "UsageTerms")
    licsn = _meta(info, "LicenseShortName")
    credit = _meta(info, "Credit")
    artist = _meta(info, "Artist")

    # (name|title) [by artist] [credit], lic  (mapper.py:79-89)
    cname = F.when(name != "", name).otherwise(title)
    a_part = F.when(artist != "", F.concat(F.lit(" by "), artist)).otherwise(F.lit(""))
    c_part = F.when(credit != "", F.concat(F.lit(" "), credit)).otherwise(F.lit(""))
    ltxt = F.when(
        licurl != "",
        F.concat(F.lit('<a href="'), licurl, F.lit('">'), licsn, F.lit("</a>")),
    ).otherwise(licname)
    credit_span = F.concat(
        F.lit("<span>"), cname, a_part, c_part, F.lit(", "), ltxt, F.lit("</span>")
    )

    status = (
        F.when(page.isNull(), "no_data")
        .when(info.isNull(), "no_image")
        .when((lic == "") | ~lic.isin(*ALLOWED_LICENSES), "bad_license")
        .when(F.regexp_count(title, F.lit(_OK_EXT)) == 0, "bad_extension")
        .otherwise("ok")
    )
    ok = status == "ok"

    def only_ok(col: F.Column) -> F.Column:
        return F.when(ok, col)

    return F.struct(
        status.alias("status"),
        only_ok(title).alias("title"),
        only_ok(F.concat(F.lit(FILEPATH_BASE), title)).alias("access_point"),
        only_ok(name).alias("name"),
        only_ok(desc).alias("description"),
        only_ok(licurl).alias("license_url"),
        only_ok(licname).alias("license_name"),
        only_ok(credit_span).alias("credit_span"),
    )


def map_records(loaded: DataFrame, source_name: str = "wikimedia") -> DataFrame:
    """Raw API-response rows -> DigitalImage record envelopes (one
    projection); non-'ok' records are dropped like the reference's
    ``return None`` paths."""
    doc = F.col("doc")
    df = (
        loaded.filter(doc.getField("identifier").isNotNull())
        .withColumn("img", image_fields(doc))
        .filter(F.col("img.status") == "ok")
    )
    img = F.col("img")
    names = F.when(
        img.getField("name") != "",
        F.array(name_node(img.getField("name"), "primaryName")),
    )
    statements = F.concat(
        F.when(
            img.getField("description") != "",
            F.array(
                F.struct(
                    F.lit("LinguisticObject").alias("type"),
                    img.getField("description").alias("content"),
                    F.lit("description").alias("role"),
                )
            ),
        ).otherwise(F.array()),
        F.array(
            F.struct(
                F.lit("LinguisticObject").alias("type"),
                img.getField("credit_span").alias("content"),
                F.lit("rights_statement").alias("role"),
            )
        ),
    )
    rights = F.when(
        img.getField("license_url") != "",
        F.array(
            F.struct(
                F.lit("Right").alias("type"),
                F.array(
                    F.struct(
                        img.getField("license_url").alias("id"),
                        F.lit("Type").alias("type"),
                    )
                ).alias("classified_as"),
                img.getField("license_name").alias("label"),
            )
        ),
    )
    body = F.to_json(
        F.struct(
            img.getField("access_point").alias("id"),
            F.lit("DigitalImage").alias("type"),
            F.array(
                F.struct(
                    img.getField("access_point").alias("id"),
                    F.lit("DigitalObject").alias("type"),
                )
            ).alias("access_point"),
            names.alias("identified_by"),
            statements.alias("referred_to_by"),
            rights.alias("subject_to"),
        )
    )
    return envelope(
        df, source_name, doc.getField("identifier"), F.lit("DigitalImage"),
        doc.getField("record_time"), body,
    )


def licenses_from_mapped(envelopes: DataFrame) -> DataFrame:
    """(filename, license_uri): the J11 lookup table, derived from mapped
    DigitalImage envelopes.  The key is the record's IDENTIFIER — in the
    reference the commons record is fetched BY the F11-munged access-point
    filename (final/mapper.py:108-127 builds ``fn`` and
    ``get_commons_license(fn)`` keys every cache on it), so the munged
    filename IS the fetch identifier and the join key.  license_uri is the
    URL the record's Right asserts (null for url-less licenses like plain
    pd).  This wires the wikimedia source into
    enrich_wikimedia_licenses end to end."""
    doc = F.from_json(
        "data",
        "id string,"
        " subject_to array<struct<classified_as: array<struct<id: string>>>>",
    )
    lic = F.try_element_at(
        F.try_element_at(doc.getField("subject_to"), F.lit(1)).getField(
            "classified_as"
        ),
        F.lit(1),
    ).getField("id")
    return (
        envelopes.select(
            F.col("identifier").alias("filename"), lic.alias("license_uri")
        )
        .filter(F.col("filename").isNotNull())
        .dropDuplicates(["filename"])
    )


CONFIG = {
    "name": "wikimedia",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 9,
}
