"""SNAC archival-constellation source (U1 breadth #13, the archives
category).

Restates sources/archives/snac/mapper.py:1-187 in /root/reference as
DataFrame expressions.  Kept semantics:

- **type**: entityType corporateBody/family -> Group, else Person
  (do_setup); the ark is the record URI.
- **names** (handle_common:86-115): nameEntries with a preferenceScore —
  the FIRST score-99 entry is the PrimaryName, everything else an
  AlternateName; entries without a score become the primary only if no
  primary exists yet; all names tagged English (the mapper's fixed
  ``process_langs['en']``).
- **biogHists**: ``<biogHist>`` XML unwrapped to its text (tags
  stripped, whitespace collapsed) -> BiographyStatements; the entry
  language through the F15 3->2 map.
- **equivalents**: relations of type mayBeSameAs (targetArkID) +
  sameAsRelations (uri), typed like the record.
- **events** (dates): fromType Birth/Establishment -> Birth/Formation
  from fromDate; toType Death/Disestablishment -> Death/Dissolution
  from toDate; Active from/to dates combine into one Activity span
  ("from - to" when both ends exist).  Each raw string goes through the
  F1 parser; unparseable dates produce no event (make_timespan's
  except-pass).  The reference's loop carries fromTerm/toTerm over from
  previous iterations when an entry omits them (mapper.py:158-163
  never resets the locals) — here each entry is read on its own, and
  the LAST qualifying entry wins per event (the reference's repeated
  setattr).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .loaders import IDENTIFIER_SNIFF, envelope, load_jsonl_dump, name_node

RAW_SCHEMA = (
    "identifier string, record_time string,"
    " doc struct<"
    "   ark: string,"
    "   entityType: struct<term: string>,"
    "   nameEntries: array<struct<original: string, preferenceScore: string>>,"
    "   biogHists: array<struct<text: string, language: struct<term: string>>>,"
    "   relations: array<struct<type: struct<term: string>, targetArkID: string>>,"
    "   sameAsRelations: array<struct<uri: string>>,"
    "   dates: array<struct<fromType: struct<term: string>,"
    "     toType: struct<term: string>, fromDate: string, toDate: string>>>"
)


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_jsonl_dump(
        spark, cfg["dump_path"], schema=RAW_SCHEMA, sniff_regex=IDENTIFIER_SNIFF
    )


def map_records(loaded: DataFrame, source_name: str = "snac") -> DataFrame:
    from ..functions.dates import make_datetime
    from ..functions.strings import normalize_lang

    doc = F.col("doc")
    d = doc.getField("doc")

    rectype = F.when(
        F.coalesce(d.getField("entityType").getField("term"), F.lit("")).isin(
            "corporateBody", "family"
        ),
        F.lit("Group"),
    ).otherwise(F.lit("Person"))

    # names: first preferenceScore-99 (or score-less) entry is primary
    entries = F.filter(
        F.coalesce(d.getField("nameEntries"), F.array().cast(
            "array<struct<original: string, preferenceScore: string>>")),
        lambda n: n.getField("original").isNotNull()
        & (n.getField("original") != ""),
    )

    def is_primary_candidate(n):
        score = F.coalesce(n.getField("preferenceScore"), F.lit(""))
        return (score == "99") | (score == "")

    first_primary = F.try_element_at(
        F.filter(entries, is_primary_candidate), F.lit(1)
    ).getField("original")
    en = F.lit("en")  # every name English (the mapper's fixed process_langs['en'])
    names = F.transform(
        entries,
        lambda n: F.when(
            first_primary.isNotNull() & (n.getField("original") == first_primary),
            name_node(n.getField("original"), "primaryName", en),
        ).otherwise(name_node(n.getField("original"), "alternateName", en)),
    )

    # biogHists: <biogHist> XML unwrapped (tags stripped, whitespace
    # collapsed), language through F15
    def biog(b):
        raw = F.coalesce(b.getField("text"), F.lit(""))
        stripped = F.trim(
            F.regexp_replace(F.regexp_replace(raw, r"<[^>]*>", " "), r"\s+", " ")
        )
        text = F.when(raw.startswith("<biogHist>"), stripped).otherwise(raw)
        term = b.getField("language").getField("term")
        return F.struct(
            F.lit("LinguisticObject").alias("type"), text.alias("content"),
            F.when(term.isNotNull(), normalize_lang(term)).alias("language"),
            F.lit("biography").alias("role"),
        )

    statements = F.transform(
        F.coalesce(d.getField("biogHists"), F.array().cast(
            "array<struct<text: string, language: struct<term: string>>>")),
        biog,
    )

    maybe_same = F.filter(
        F.transform(
            F.coalesce(d.getField("relations"), F.array().cast(
                "array<struct<type: struct<term: string>, targetArkID: string>>")),
            lambda r: F.when(
                (r.getField("type").getField("term") == "mayBeSameAs")
                & r.getField("targetArkID").isNotNull(),
                r.getField("targetArkID"),
            ),
        ),
        lambda v: v.isNotNull(),
    )
    same_as = F.filter(
        F.transform(
            F.coalesce(d.getField("sameAsRelations"), F.array().cast(
                "array<struct<uri: string>>")),
            lambda s: s.getField("uri"),
        ),
        lambda v: v.isNotNull() & (v != ""),
    )
    equivalents = F.transform(
        F.concat(maybe_same, same_as),
        lambda v: F.struct(v.alias("id"), rectype.alias("type")),
    )

    dates = F.coalesce(d.getField("dates"), F.array().cast(
        "array<struct<fromType: struct<term: string>, toType: struct<term: string>,"
        " fromDate: string, toDate: string>>"))

    def last_date(field: str, term_field: str, term: str) -> F.Column:
        sel = F.filter(
            dates,
            lambda x: (x.getField(term_field).getField("term") == term)
            & x.getField(field).isNotNull() & (x.getField(field) != ""),
        )
        return F.try_element_at(sel, F.lit(-1)).getField(field)

    def event(raw) -> F.Column:
        ts = make_datetime(raw)
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

    dob = last_date("fromDate", "fromType", "Birth")
    formed = last_date("fromDate", "fromType", "Establishment")
    dod = last_date("toDate", "toType", "Death")
    dissolved = last_date("toDate", "toType", "Disestablishment")
    active_start = last_date("fromDate", "fromType", "Active")
    active_end = last_date("toDate", "toType", "Active")
    active_raw = F.when(
        active_start.isNotNull() & active_end.isNotNull(),
        F.concat(active_start, F.lit(" - "), active_end),
    ).otherwise(F.coalesce(active_start, active_end))

    body = F.to_json(
        F.struct(
            d.getField("ark").alias("id"),
            rectype.alias("type"),
            names.alias("identified_by"),
            F.when(F.size(statements) > 0, statements).alias("referred_to_by"),
            F.when(F.size(equivalents) > 0, equivalents).alias("equivalent"),
            event(dob).alias("born"),
            event(dod).alias("died"),
            event(formed).alias("formed_by"),
            event(dissolved).alias("dissolved_by"),
            event(active_raw).alias("active"),
        )
    )
    return envelope(
        loaded.filter(
            doc.getField("identifier").isNotNull() & d.getField("ark").isNotNull()
        ),
        source_name, doc.getField("identifier"), rectype,
        doc.getField("record_time"), body,
    )


CONFIG = {
    "name": "snac",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 12,
}
