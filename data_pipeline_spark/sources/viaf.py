"""VIAF cluster source (U1 breadth #23, reference sources/authorities/
oclc/mapper.py:1-295).

VIAF cluster XML parses JVM-side with ``F.from_xml`` (default-namespace
tags as bare field names, attributes with the ``_`` prefix).  Kept
semantics:

- **type**: nameType Personal/Corporate/Geographic -> Person/Group/
  Place; anything else (UniformTitleWork etc.) dropped; ``sourceID/``
  identifiers dropped outright (fix_identifier).
- **names** (mapper.py:139-160): the first mainHeading sourced by any
  of JPG/LC/LCSH/ULAN is the PrimaryName and label; WKP-only headings
  are skipped when the cluster has more than one heading; the rest are
  plain Names; with no source-elected primary the FIRST name is
  promoted; a cluster with no names at all is dropped.
- **equivalents**: source @nsid URIs for GND kept as-is and
  catalogue.bnf.fr rewritten to data.bnf.fr (deduped); then the
  ``WHICH|value`` source pairs through the VIAF prefix table (LC
  s-values rerouted to LCSH, FAST's ``fst`` stripped, spaces removed).
  WKP references require the wikidata record's class to match
  (mapper.py:205-210 consults the wikidata acquirer) — pass
  ``wikidata_types`` ({Qid -> rectype}) to enable them; without it
  they are omitted.
- **dates**: dateType ``lived`` -> Birth (birthDate != 0) and Death
  (deathDate not 0/2050/9800); ``flourished`` -> one Active span whose
  end is the BEGIN of the death-date parse, as the reference assigns
  (mapper.py:252-257), displayed "bd to dd".
- **gender** a/b -> female/male AAT classes; **nationality** 2-letter
  codes through the VIAF->AAT table.
- the F5 lifespan check clears impossible Person born/died pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .loaders import IDENTIFIER_SNIFF, envelope, load_jsonl_dump, name_node

NAME_TYPE_MAP = {"Personal": "Person", "Corporate": "Group", "Geographic": "Place"}
PRIMARY_SOURCES = ["JPG", "LC", "LCSH", "ULAN"]

VIAF_PREFIXES = {
    "ISNI": "http://isni.org/isni/",
    "WKP": "http://www.wikidata.org/entity/",
    "NDL": "http://id.ndl.go.jp/auth/entity/",
    "DNB": "https://d-nb.info/gnd/",
    "LC": "http://id.loc.gov/authorities/names/",
    "LCSH": "http://id.loc.gov/authorities/subjects/",
    "JPG": "http://vocab.getty.edu/ulan/",
    "ULAN": "http://vocab.getty.edu/ulan/",
    "FAST": "http://id.worldcat.org/fast/",
}

VIAF_NATIONALITIES = {
    "de": "300111192", "fr": "300111188", "us": "300107956", "kr": "300018668",
    "pl": "300111204", "gb": "300111159", "it": "300111198", "at": "300111153",
    "ch": "300111221", "ca": "300107962", "jp": "300018519", "ru": "300111276",
    "nl": "300111175", "pt": "300111207", "es": "300111215", "se": "300111218",
    "no": "300111201", "cn": "300018322", "lt": "300379451", "in": "300018863",
    "be": "300111156", "br": "300107967", "au": "300021861", "cz": "300111166",
    "hu": "300111195", "dk": "300111172", "sk": "300386533", "ua": "300380343",
    "ar": "300107965", "ee": "300387725", "tr": "300193868", "mx": "300107963",
    "gr": "300264816", "il": "300195487", "ro": "300111210", "fi": "300111181",
}

MALE = "http://vocab.getty.edu/aat/300189559"
FEMALE = "http://vocab.getty.edu/aat/300189557"

CLUSTER_XML_SCHEMA = (
    "struct<"
    " nameType: string,"
    " mainHeadings: struct<data: array<struct<"
    "   text: string, sources: struct<s: array<string>>>>>,"
    " sources: struct<source: array<struct<_VALUE: string, _nsid: string>>>,"
    " birthDate: string, deathDate: string, dateType: string,"
    " fixed: struct<gender: string>,"
    " nationalityOfEntity: struct<data: array<struct<text: string>>>>"
)

RAW_SCHEMA = "identifier string, record_time string, doc struct<xml: string>"


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_jsonl_dump(
        spark, cfg["dump_path"], schema=RAW_SCHEMA, sniff_regex=IDENTIFIER_SNIFF
    )


def map_records(
    loaded: DataFrame,
    source_name: str = "viaf",
    wikidata_types: dict[str, str] | None = None,
) -> DataFrame:
    from ..functions.dates import make_datetime

    doc = F.col("doc")
    top = F.from_xml(doc.getField("doc").getField("xml"), CLUSTER_XML_SCHEMA)

    rectype = F.lit(None).cast("string")
    for nt, cls in NAME_TYPE_MAP.items():
        rectype = F.when(top.getField("nameType") == nt, F.lit(cls)).otherwise(rectype)

    datas = F.coalesce(
        top.getField("mainHeadings").getField("data"),
        F.array().cast(
            "array<struct<text: string, sources: struct<s: array<string>>>>"
        ),
    )

    def srcs_of(d):
        return F.coalesce(d.getField("sources").getField("s"), F.array())

    def is_prim_sourced(d):
        return F.exists(srcs_of(d), lambda s: s.isin(*PRIMARY_SOURCES)) & d.getField(
            "text"
        ).isNotNull()

    prim_idx = F.try_element_at(
        F.filter(
            F.transform(datas, lambda d, i: F.when(is_prim_sourced(d), i)),
            lambda x: x.isNotNull(),
        ),
        F.lit(1),
    )
    n_names = F.size(datas)

    # entries kept: text present; WKP-sourced non-primary headings skipped
    # when the cluster has several headings
    kept = F.filter(
        F.transform(datas, lambda d, i: F.struct(d.alias("d"), i.alias("i"))),
        lambda x: x.getField("d").getField("text").isNotNull()
        & ~(
            F.array_contains(srcs_of(x.getField("d")), "WKP")
            & (n_names > 1)
            & (
                prim_idx.isNull() | (x.getField("i") != prim_idx)
            )
        ),
    )
    # with no source-elected primary, the first KEPT name is promoted
    eff_prim_idx = F.coalesce(
        prim_idx, F.try_element_at(kept, F.lit(1)).getField("i")
    )
    names = F.transform(
        kept,
        lambda x: F.when(
            x.getField("i") == eff_prim_idx,
            name_node(x.getField("d").getField("text"), "primaryName"),
        ).otherwise(name_node(x.getField("d").getField("text"), "name")),
    )
    label = F.try_element_at(
        F.filter(kept, lambda x: x.getField("i") == eff_prim_idx), F.lit(1)
    ).getField("d").getField("text")

    # equivalents: @nsid pass (GND as-is, catalogue.bnf -> data.bnf)
    nsids = F.coalesce(
        top.getField("sources").getField("source"),
        F.array().cast("array<struct<_VALUE: string, _nsid: string>>"),
    )
    nsid_eqs = F.array_distinct(
        F.filter(
            F.transform(
                nsids,
                lambda s: F.when(
                    F.coalesce(s.getField("_nsid"), F.lit("")).startswith(
                        "http://d-nb.info/gnd/"
                    ),
                    s.getField("_nsid"),
                ).when(
                    F.coalesce(s.getField("_nsid"), F.lit("")).startswith(
                        "http://catalogue.bnf.fr/"
                    ),
                    F.regexp_replace(
                        s.getField("_nsid"), "^http://catalogue", "https://data"
                    ),
                ),
            ),
            lambda v: v.isNotNull(),
        )
    )

    wd_types = dict(wikidata_types or {})

    def pair_uri(s) -> F.Column:
        txt = F.coalesce(s.getField("_VALUE"), F.lit(""))
        which0 = F.split(txt, r"\|")[0]
        val0 = F.replace(F.split(txt, r"\|")[1], F.lit(" "), F.lit(""))
        which = F.when(
            (which0 == "LC") & val0.startswith("s"), F.lit("LCSH")
        ).otherwise(which0)
        val = F.when(
            which == "FAST", F.regexp_replace(val0, "^fst", "")
        ).otherwise(val0)
        out = F.lit(None).cast("string")
        for w, prefix in VIAF_PREFIXES.items():
            if w in ("DNB",):  # handled via @nsid
                continue
            if w == "WKP":
                if not wd_types:
                    continue
                cond = (which == w) & val.isin(*wd_types.keys())
                # type gate applied row-side below via the rectype check
                out = F.when(cond, F.concat(F.lit(prefix), val)).otherwise(out)
            else:
                out = F.when(
                    which == w, F.concat(F.lit(prefix), val)
                ).otherwise(out)
        # BNF pairs are covered by the @nsid pass
        return F.when(which == "BNF", F.lit(None).cast("string")).otherwise(out)

    pair_eqs = F.filter(F.transform(nsids, pair_uri), lambda v: v.isNotNull())
    if wd_types:
        # drop wikidata refs whose known class disagrees with the record
        mismatched = [q for q in wd_types]

        def wd_ok(v):
            ok = F.lit(True)
            for q, t in wd_types.items():
                ok = F.when(
                    v == f"http://www.wikidata.org/entity/{q}",
                    F.lit(t) == rectype,
                ).otherwise(ok)
            return ok

        _ = mismatched
        pair_eqs = F.filter(pair_eqs, wd_ok)

    equivalents = F.transform(
        F.concat(nsid_eqs, pair_eqs),
        lambda v: F.struct(
            v.alias("id"), rectype.alias("type"), label.alias("_label")
        ),
    )

    # dates
    bd = F.trim(F.coalesce(top.getField("birthDate"), F.lit("")))
    dd = F.trim(F.coalesce(top.getField("deathDate"), F.lit("")))
    date_type = F.coalesce(top.getField("dateType"), F.lit(""))
    is_agent = top.getField("nameType").isin("Personal", "Corporate")
    b_ts = make_datetime(bd)
    d_ts = make_datetime(dd)

    def event(ts, raw) -> F.Column:
        return F.struct(
            F.struct(
                ts.getField("begin_iso").alias("begin_of_the_begin"),
                ts.getField("end_iso").alias("end_of_the_end"),
            ).alias("timespan"),
            raw.alias("display"),
        )

    born = F.when(
        is_agent & (date_type == "lived") & (bd != "0") & (bd != "")
        & b_ts.getField("begin_iso").isNotNull(),
        event(b_ts, bd),
    )
    died = F.when(
        is_agent & (date_type == "lived") & ~dd.isin("0", "2050", "9800", "")
        & d_ts.getField("begin_iso").isNotNull(),
        event(d_ts, dd),
    )
    # flourished: the Active span's end is the BEGIN of the death parse
    # (the reference's e, ee = make_datetime(dd); end_of_the_end = e)
    active = F.when(
        is_agent & (date_type == "flourished") & (bd != "0") & (bd != "")
        & ~dd.isin("0", "2050", "9800", "")
        & b_ts.getField("begin_iso").isNotNull()
        & d_ts.getField("begin_iso").isNotNull(),
        F.struct(
            F.struct(
                b_ts.getField("begin_iso").alias("begin_of_the_begin"),
                d_ts.getField("begin_iso").alias("end_of_the_end"),
            ).alias("timespan"),
            F.concat(bd, F.lit(" to "), dd).alias("display"),
        ),
    )

    # F5: impossible Person born/died pairs clear both
    impossible = (
        (rectype == "Person")
        & born.isNotNull() & died.isNotNull()
        & (
            (d_ts.getField("end_sec") < b_ts.getField("begin_sec"))
            | (
                (d_ts.getField("end_sec") - b_ts.getField("begin_sec"))
                > F.lit(int(122 * 365.25 * 86400))
            )
        )
    )
    born = F.when(~impossible, born)
    died = F.when(~impossible, died)

    gender = F.trim(
        F.coalesce(top.getField("fixed").getField("gender"), F.lit(""))
    )
    classes = F.array_compact(
        F.concat(
            F.array(
                F.when(
                    (top.getField("nameType") == "Personal") & (gender == "a"),
                    F.struct(F.lit(FEMALE).alias("id"), F.lit("Type").alias("type"),
                             F.lit("female").alias("_label"),
                             F.lit("gender").alias("role")),
                ).when(
                    (top.getField("nameType") == "Personal") & (gender == "b"),
                    F.struct(F.lit(MALE).alias("id"), F.lit("Type").alias("type"),
                             F.lit("male").alias("_label"),
                             F.lit("gender").alias("role")),
                )
            ),
            F.filter(
                F.transform(
                    F.coalesce(
                        top.getField("nationalityOfEntity").getField("data"),
                        F.array().cast("array<struct<text: string>>"),
                    ),
                    lambda n: _nationality(n.getField("text")),
                ),
                lambda x: x.isNotNull(),
            ),
        )
    )

    body = F.to_json(
        F.struct(
            F.concat(
                F.lit("http://viaf.org/viaf/"), doc.getField("identifier")
            ).alias("id"),
            rectype.alias("type"),
            label.alias("_label"),
            names.alias("identified_by"),
            F.when(F.size(equivalents) > 0, equivalents).alias("equivalent"),
            born.alias("born"),
            died.alias("died"),
            active.alias("carried_out"),
            F.when(
                (top.getField("nameType") == "Personal") & (F.size(classes) > 0),
                classes,
            ).alias("classified_as"),
        )
    )
    df = (
        loaded.filter(
            doc.getField("identifier").isNotNull()
            & ~doc.getField("identifier").startswith("sourceID/")
        )
        .withColumn("_rectype", rectype)
        .withColumn("_names", names)
        .filter(F.col("_rectype").isNotNull() & (F.size(F.col("_names")) > 0))
    )
    return envelope(
        df, source_name, doc.getField("identifier"), "_rectype",
        doc.getField("record_time"), body,
    )


def _nationality(txt) -> F.Column:
    nat = F.lower(F.coalesce(txt, F.lit("")))
    out = F.lit(None).cast(
        "struct<id: string, type: string, _label: string, role: string>"
    )
    for code, aat in VIAF_NATIONALITIES.items():
        out = F.when(
            nat == code,
            F.struct(
                F.lit(f"http://vocab.getty.edu/aat/{aat}").alias("id"),
                F.lit("Type").alias("type"), F.lit(code).alias("_label"),
                F.lit("nationality").alias("role"),
            ),
        ).otherwise(out)
    return out


CONFIG = {
    "name": "viaf",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 23,
}
