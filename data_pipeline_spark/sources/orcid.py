"""ORCID researcher-registry source (U1 breadth #15).

Restates sources/general/orcid/mapper.py:1-290 in /root/reference as
DataFrame expressions: the annual-dump XML records parse JVM-side with
``F.from_xml`` (namespace-prefixed tags as literal schema field names,
the same pattern as the geonames RDF reader).  Kept semantics:

- **name**: credit-name, else "given family"; a record with neither is
  dropped; given/family ride along as name parts on the PrimaryName.
- **other-names** -> AlternateNames; **biography** -> a
  BiographyStatement; **emails** -> EmailAddress names.
- **researcher-urls** -> subject_of WebPages (url-name as the page
  name, text/html format).
- **keywords** -> one "Interests: a; b; c" Note (first-seen dedupe).
- **external identifiers** (mapper.py:175-207): Scopus / Loop /
  SciProfiles ids become WebPages at their templated URLs; GND and
  ISNI become equivalents; everything else is dropped.
- **distinctions** -> "role (org ; start - end)" Notes with the
  zero-padded y-m-d date assembly of make_date (mapper.py:75-96).
- **employments + memberships** -> member_of for disambiguated
  organizations whose identifier is an http URI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .loaders import IDENTIFIER_SNIFF, envelope, load_jsonl_dump, type_ref

_DATE_T = (
    "struct<`common:year`: string, `common:month`: string, `common:day`: string>"
)
_ORG_T = (
    "struct<`common:name`: string, `common:disambiguated-organization`:"
    " struct<`common:disambiguated-organization-identifier`: string>>"
)

RECORD_XML_SCHEMA = (
    "struct<"
    " `common:orcid-identifier`: struct<`common:uri`: string>,"
    " `person:person`: struct<"
    "   `person:name`: struct<"
    "     `personal-details:given-names`: string,"
    "     `personal-details:family-name`: string,"
    "     `personal-details:credit-name`: string>,"
    "   `other-name:other-names`: struct<"
    "     `other-name:other-name`: array<struct<`other-name:content`: string>>>,"
    "   `person:biography`: struct<`personal-details:content`: string>,"
    "   `researcher-url:researcher-urls`: struct<"
    "     `researcher-url:researcher-url`: array<struct<"
    "       `researcher-url:url-name`: string, `researcher-url:url`: string>>>,"
    "   `email:emails`: struct<"
    "     `email:email`: array<struct<`email:email`: string>>>,"
    "   `keyword:keywords`: struct<"
    "     `keyword:keyword`: array<struct<`keyword:content`: string>>>,"
    "   `external-identifier:external-identifiers`: struct<"
    "     `external-identifier:external-identifier`: array<struct<"
    "       `common:external-id-type`: string,"
    "       `common:external-id-value`: string,"
    "       `common:external-id-url`: string>>>>,"
    " `activities:activities-summary`: struct<"
    "   `activities:distinctions`: struct<"
    "     `activities:affiliation-group`: array<struct<"
    "       `distinction:distinction-summary`: array<struct<"
    "         `common:role-title`: string,"
    f"        `common:organization`: struct<`common:name`: string>,"
    f"        `common:start-date`: {_DATE_T},"
    f"        `common:end-date`: {_DATE_T}>>>>>,"
    "   `activities:employments`: struct<"
    "     `activities:affiliation-group`: array<struct<"
    f"      `employment:employment-summary`: array<struct<"
    f"        `common:organization`: {_ORG_T}>>>>>,"
    "   `activities:memberships`: struct<"
    "     `activities:affiliation-group`: array<struct<"
    f"      `membership:membership-summary`: array<struct<"
    f"        `common:organization`: {_ORG_T}>>>>>>>"
)

RAW_SCHEMA = "identifier string, record_time string, doc struct<xml: string>"

# external-id type -> (url template with {v}, page name) or None when the
# id becomes an equivalent instead (mapper.py:183-203)
EXTID_PAGES = {
    "Scopus Author ID": (
        "https://www.scopus.com/authid/detail.uri?authorId={v}",
        "Scopus Homepage",
    ),
    "Loop profile": (
        "http://loop.frontiersin.org/people/{v}/overview", "Loop Homepage"
    ),
    "SciProfiles": (None, "SciProfiles Homepage"),  # dump URL is kept as-is
}
EXTID_EQUIVALENTS = {
    "GND": "https://d-nb.info/gnd/",
    "ISNI": "http://isni.org/isni/",
}


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_jsonl_dump(
        spark, cfg["dump_path"], schema=RAW_SCHEMA, sniff_regex=IDENTIFIER_SNIFF
    )


def _webpage(url, name) -> F.Column:
    return F.struct(
        F.lit("LinguisticObject").alias("type"),
        F.struct(
            F.lit("text/html").alias("format"),
            name.alias("_label"),
            F.array(
                F.struct(url.alias("id"), F.lit("DigitalObject").alias("type"))
            ).alias("access_point"),
        ).alias("digitally_carried_by"),
    )


def _make_date(dt: F.Column) -> F.Column:
    """make_date (mapper.py:75-96): y[-mm[-dd]] with zero padding; null
    without a year."""
    y = dt.getField("common:year")
    m = F.lpad(dt.getField("common:month"), 2, "0")
    d = F.lpad(dt.getField("common:day"), 2, "0")
    return F.when(
        y.isNotNull() & dt.getField("common:month").isNotNull()
        & dt.getField("common:day").isNotNull(),
        F.concat_ws("-", y, m, d),
    ).when(
        y.isNotNull() & dt.getField("common:month").isNotNull(),
        F.concat_ws("-", y, m, F.lit("01")),
    ).when(y.isNotNull(), y)


def map_records(loaded: DataFrame, source_name: str = "orcid") -> DataFrame:
    doc = F.col("doc")
    rec = F.from_xml(
        doc.getField("doc").getField("xml"), RECORD_XML_SCHEMA
    )
    person = rec.getField("person:person")
    pname = person.getField("person:name")
    first = pname.getField("personal-details:given-names")
    fam = pname.getField("personal-details:family-name")
    name = F.coalesce(
        pname.getField("personal-details:credit-name"),
        F.nullif(F.trim(F.concat_ws(" ", first, fam)), F.lit("")),
    )
    orcid = rec.getField("common:orcid-identifier").getField("common:uri")

    def cls(c: str) -> F.Column:
        return F.array(type_ref(c))

    part_t = (
        "array<struct<type: string, content: string,"
        " classified_as: array<struct<id: string, type: string>>>>"
    )
    parts = F.array_compact(
        F.array(
            F.when(first.isNotNull(), F.struct(
                F.lit("Name").alias("type"), first.alias("content"),
                cls("givenName").alias("classified_as"))),
            F.when(fam.isNotNull(), F.struct(
                F.lit("Name").alias("type"), fam.alias("content"),
                cls("familyName").alias("classified_as"))),
        )
    ).cast(part_t)

    def plain_name(content, c: str):
        return F.struct(
            F.lit("Name").alias("type"), content.alias("content"),
            cls(c).alias("classified_as"),
            F.lit(None).cast(part_t).alias("part"),
        )

    primary = F.struct(
        F.lit("Name").alias("type"), name.alias("content"),
        cls("primaryName").alias("classified_as"),
        parts.alias("part"),
    )
    others = F.filter(
        F.transform(
            F.coalesce(
                person.getField("other-name:other-names")
                .getField("other-name:other-name"),
                F.array().cast("array<struct<`other-name:content`: string>>"),
            ),
            lambda o: F.when(
                o.getField("other-name:content").isNotNull(),
                plain_name(o.getField("other-name:content"), "alternateName"),
            ),
        ),
        lambda n: n.isNotNull(),
    )
    emails = F.filter(
        F.transform(
            F.coalesce(
                person.getField("email:emails").getField("email:email"),
                F.array().cast("array<struct<`email:email`: string>>"),
            ),
            lambda e: F.when(
                e.getField("email:email").isNotNull(),
                plain_name(e.getField("email:email"), "emailAddress"),
            ),
        ),
        lambda n: n.isNotNull(),
    )
    identified = F.concat(F.array(primary), others, emails)

    bio = person.getField("person:biography").getField("personal-details:content")
    kws = F.array_distinct(
        F.filter(
            F.transform(
                F.coalesce(
                    person.getField("keyword:keywords").getField("keyword:keyword"),
                    F.array().cast("array<struct<`keyword:content`: string>>"),
                ),
                lambda k: k.getField("keyword:content"),
            ),
            lambda v: v.isNotNull() & (v != ""),
        )
    )
    dists = F.flatten(
        F.coalesce(
            F.transform(
                rec.getField("activities:activities-summary")
                .getField("activities:distinctions")
                .getField("activities:affiliation-group"),
                lambda g: F.coalesce(
                    g.getField("distinction:distinction-summary"),
                    F.array().cast(
                        "array<struct<`common:role-title`: string,"
                        " `common:organization`: struct<`common:name`: string>,"
                        f" `common:start-date`: {_DATE_T},"
                        f" `common:end-date`: {_DATE_T}>>"
                    ),
                ),
            ),
            F.array(),
        )
    )

    def dist_note(x) -> F.Column:
        role = x.getField("common:role-title")
        org = x.getField("common:organization").getField("common:name")
        start = _make_date(x.getField("common:start-date"))
        end = _make_date(x.getField("common:end-date"))
        dt = F.when(
            start.isNotNull(),
            F.concat(start, F.lit(" - "), F.coalesce(end, F.lit(""))),
        ).otherwise(F.lit(""))
        parend = (
            F.when((org.isNotNull()) & (dt != ""),
                   F.concat(F.lit(" ("), org, F.lit(" ; "), dt, F.lit(")")))
            .when(org.isNotNull(), F.concat(F.lit(" ("), org, F.lit(")")))
            .when(dt != "", F.concat(F.lit(" ("), dt, F.lit(")")))
            .otherwise(F.lit(""))
        )
        return F.when(
            role.isNotNull(),
            F.struct(
                F.lit("LinguisticObject").alias("type"),
                F.concat(role, parend).alias("content"),
                F.lit("note").alias("role"),
            ),
        )

    statements = F.array_compact(
        F.concat(
            F.array(
                F.when(
                    bio.isNotNull(),
                    F.struct(
                        F.lit("LinguisticObject").alias("type"),
                        bio.alias("content"), F.lit("biography").alias("role"),
                    ),
                ),
                F.when(
                    F.size(kws) > 0,
                    F.struct(
                        F.lit("LinguisticObject").alias("type"),
                        F.concat(
                            F.lit("Interests: "), F.array_join(kws, "; ")
                        ).alias("content"),
                        F.lit("note").alias("role"),
                    ),
                ),
            ),
            F.filter(F.transform(dists, dist_note), lambda s: s.isNotNull()),
        )
    )

    rurls = F.filter(
        F.transform(
            F.coalesce(
                person.getField("researcher-url:researcher-urls")
                .getField("researcher-url:researcher-url"),
                F.array().cast(
                    "array<struct<`researcher-url:url-name`: string,"
                    " `researcher-url:url`: string>>"
                ),
            ),
            lambda u: F.when(
                u.getField("researcher-url:url").isNotNull(),
                _webpage(
                    u.getField("researcher-url:url"),
                    F.coalesce(
                        u.getField("researcher-url:url-name"), F.lit("Homepage")
                    ),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )

    extids = F.coalesce(
        person.getField("external-identifier:external-identifiers")
        .getField("external-identifier:external-identifier"),
        F.array().cast(
            "array<struct<`common:external-id-type`: string,"
            " `common:external-id-value`: string,"
            " `common:external-id-url`: string>>"
        ),
    )

    def ext_page(e) -> F.Column:
        typ = e.getField("common:external-id-type")
        val = e.getField("common:external-id-value")
        out = F.lit(None).cast(
            "struct<type: string, digitally_carried_by: struct<format: string,"
            " _label: string, access_point: array<struct<id: string,"
            " type: string>>>>"
        )
        for t, (tmpl, page_name) in EXTID_PAGES.items():
            url = (
                e.getField("common:external-id-url")
                if tmpl is None
                else F.concat(
                    F.lit(tmpl.split("{v}")[0]), val, F.lit(tmpl.split("{v}")[1])
                )
            )
            out = F.when(
                (typ == t) & url.isNotNull(), _webpage(url, F.lit(page_name))
            ).otherwise(out)
        return out

    ext_pages = F.filter(F.transform(extids, ext_page), lambda x: x.isNotNull())
    subject_of = F.concat(rurls, ext_pages)

    def ext_equiv(e) -> F.Column:
        typ = e.getField("common:external-id-type")
        val = e.getField("common:external-id-value")
        out = F.lit(None).cast("struct<id: string, type: string>")
        for t, prefix in EXTID_EQUIVALENTS.items():
            out = F.when(
                (typ == t) & val.isNotNull(),
                F.struct(
                    F.concat(F.lit(prefix), val).alias("id"),
                    F.lit("Person").alias("type"),
                ),
            ).otherwise(out)
        return out

    equivalents = F.filter(F.transform(extids, ext_equiv), lambda x: x.isNotNull())

    def org_members(section: str, summary: str) -> F.Column:
        groups = F.coalesce(
            rec.getField("activities:activities-summary")
            .getField(section)
            .getField("activities:affiliation-group"),
            F.array().cast(
                f"array<struct<`{summary}`: array<struct<"
                f"`common:organization`: {_ORG_T}>>>"
                ">"
            ),
        )
        return F.filter(
            F.transform(
                F.flatten(
                    F.transform(
                        groups,
                        lambda g: F.coalesce(
                            g.getField(summary),
                            F.array().cast(
                                f"array<struct<`common:organization`: {_ORG_T}>>"
                            ),
                        ),
                    )
                ),
                lambda s: F.when(
                    s.getField("common:organization").getField("common:name")
                    .isNotNull()
                    & s.getField("common:organization")
                    .getField("common:disambiguated-organization")
                    .getField("common:disambiguated-organization-identifier")
                    .startswith("http"),
                    F.struct(
                        s.getField("common:organization")
                        .getField("common:disambiguated-organization")
                        .getField("common:disambiguated-organization-identifier")
                        .alias("id"),
                        F.lit("Group").alias("type"),
                        s.getField("common:organization").getField("common:name")
                        .alias("_label"),
                    ),
                ),
            ),
            lambda x: x.isNotNull(),
        )

    member_of = F.concat(
        org_members("activities:employments", "employment:employment-summary"),
        org_members("activities:memberships", "membership:membership-summary"),
    )

    body = F.to_json(
        F.struct(
            orcid.alias("id"),
            F.lit("Person").alias("type"),
            name.alias("_label"),
            identified.alias("identified_by"),
            F.when(F.size(statements) > 0, statements).alias("referred_to_by"),
            F.when(F.size(subject_of) > 0, subject_of).alias("subject_of"),
            F.when(F.size(equivalents) > 0, equivalents).alias("equivalent"),
            F.when(F.size(member_of) > 0, member_of).alias("member_of"),
        )
    )
    df = (
        loaded.filter(doc.getField("identifier").isNotNull())
        .withColumn("_rec", rec)
        .withColumn("_name", name)
        .filter(F.col("_rec").isNotNull() & F.col("_name").isNotNull())
    )
    return envelope(
        df, source_name, doc.getField("identifier"), F.lit("Person"),
        doc.getField("record_time"), body,
    )


CONFIG = {
    "name": "orcid",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 14,
}
