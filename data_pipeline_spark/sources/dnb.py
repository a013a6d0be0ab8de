"""DNB / GND authority source (U1 breadth #24).

Restates sources/libraries/dnb/mapper.py:1-528 in /root/reference.  Two
record shapes share one mapper, both scalar-or-list JSON, so the
per-record munging runs Arrow-batched (the nomisma/bne boundary):

- **entity-graph records** (``transform_entity``): @type routing
  (person / organization / organisation / family / place / event);
  preferredName/variantName/pseudonym names; biography; homepages with
  the self-reference skip; depictions with space normalization; sameAs
  equivalents; per-class handlers — person birth/death (a 2-digit death
  year completed with the birth century, mapper.py:84-87), birth/death/
  activity places, periodOfActivity ranges, gender, occupations,
  affiliations, and the F5 lifespan clear; group org/family
  classification + establishment/termination (same century rule);
  place GeoJSON points.
- **sachbegriff (lds.jsonld) records** (``transform_lds``): the first
  non-``/about`` node of the list; @type-suffix routing
  (SubjectHeading*/NomenclatureInBiologyOrChemistry -> Type, Language
  -> Language, EthnographicName -> Group); German-tagged pref/variant
  names and definitions; owl:sameAs equivalents; describedby homepages
  (self skipped); the four broaderTerm* properties for Types/Languages;
  related places as AttributeAssignments.

The reference preloads ``macs.nt`` into a driver-side dict
(process_macs_nt_file) and appends closeMatch equivalents per record.
Spark form: ``load_macs`` parses the NT dump as a distributed line scan
and ``enrich_close_matches`` joins it against the envelopes — only
matched records re-enter Python, everything else passes through
untouched (the J11 enrichment shape).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .loaders import as_list, load_doc_lines, loads_object, map_rows, name_dict

GND = "https://d-nb.info/standards/elementset/gnd#"
MALE_G = "https://d-nb.info/standards/vocab/gnd/gender#male"
FEMALE_G = "https://d-nb.info/standards/vocab/gnd/gender#female"
MALE = "http://vocab.getty.edu/aat/300189559"
FEMALE = "http://vocab.getty.edu/aat/300189557"
AAT_ORGANIZATION = "http://vocab.getty.edu/aat/300025948"
AAT_FAMILY = "http://vocab.getty.edu/aat/300055474"

LDS_BROADERS = [
    GND + "broaderTermGeneral", GND + "broaderTermInstantial",
    GND + "broaderTermGeneric", GND + "broaderTermPartitive",
]
LDS_RELATED_PLACES = [
    GND + "relatedPlaceOrGeographicName",
    GND + "contributingPlaceOrGeographicName", GND + "place",
]


def _event(parsed, display, place=None):
    ev = {"display": display}
    if parsed:
        ev["timespan"] = {
            "begin_of_the_begin": parsed[0], "end_of_the_end": parsed[1],
        }
    if place:
        pid, lbl = place
        ev["took_place_at"] = [{"id": pid, "type": "Place", "_label": lbl}]
    return ev


def fix_identifier(identifier: str) -> str:
    return identifier.removesuffix("/about")


def guess_type(rec: dict) -> str | None:
    typ = rec.get("@type", "")
    if isinstance(typ, list):
        typ = typ[0] if typ else ""
    return {
        "person": "Person", "organization": "Group", "organisation": "Group",
        "family": "Group", "place": "Place", "event": "Event",
    }.get(typ)


def _first(v):
    vs = as_list(v)
    return vs[0] if vs else None


def _ref(v):
    v = _first(v) or {}
    return (v.get("@id", ""), v.get("preferredName", "")) if isinstance(v, dict) else ("", "")


def _handle_person(rec: dict, out: dict, parse_datetime) -> None:
    dob = _first(rec.get("dateOfBirth")) or ""
    born_parsed = died_parsed = None
    if dob:
        born_parsed = parse_datetime(str(dob))
        if born_parsed:
            out["born"] = _event(born_parsed, dob)
    pib, plbl = _ref(rec.get("placeOfBirth"))
    if pib:
        out.setdefault("born", {"display": dob})["took_place_at"] = [
            {"id": pib, "type": "Place", "_label": plbl}
        ]
    dod = _first(rec.get("dateOfDeath")) or ""
    if dod:
        dod = str(dod)
        if dob and len(dod) == 2:  # '85' -> birth century + '85'
            dod = str(dob)[0:2] + dod
        died_parsed = parse_datetime(dod)
        if died_parsed:
            out["died"] = _event(died_parsed, dod)
    pid, plbl = _ref(rec.get("placeOfDeath"))
    if pid:
        out.setdefault("died", {"display": dod})["took_place_at"] = [
            {"id": pid, "type": "Place", "_label": plbl}
        ]

    active = None
    doa = rec.get("periodOfActivity", "")
    if isinstance(doa, list):
        doa = doa[0] if doa else ""
    if doa and "-" in str(doa)[1:]:
        parts = str(doa).split("-")
        if len(parts) == 2:
            b = parse_datetime(parts[0])
            e = parse_datetime(parts[1])
            if b and e:
                # the reference ends the span at the BEGIN of the end parse
                active = {
                    "display": str(doa),
                    "timespan": {
                        "begin_of_the_begin": b[0], "end_of_the_end": e[0],
                    },
                }
    poas = [
        {"id": p.get("@id", ""), "type": "Place",
         "_label": p.get("preferredName", "")}
        for p in as_list(rec.get("placeOfActivity"))
        if isinstance(p, dict) and p.get("@id")
    ]
    if poas:
        active = active or {"display": str(doa) if doa else ""}
        active["took_place_at"] = poas
    if active:
        out["carried_out"] = active

    classes = []
    for g in as_list(rec.get("gender")):
        gid = g.get("@id", "") if isinstance(g, dict) else ""
        if gid == MALE_G:
            classes.append({"id": MALE, "type": "Type", "_label": "male",
                            "role": "gender"})
        elif gid == FEMALE_G:
            classes.append({"id": FEMALE, "type": "Type", "_label": "female",
                            "role": "gender"})
    for o in as_list(rec.get("professionOrOccupation")):
        if isinstance(o, dict) and o.get("@id"):
            classes.append({"id": o["@id"], "type": "Type",
                            "_label": o.get("preferredName", ""),
                            "role": "occupation"})
    if classes:
        out.setdefault("classified_as", []).extend(classes)

    members = [
        {"id": a["@id"], "type": "Group", "_label": a.get("preferredName", "")}
        for a in as_list(rec.get("affiliation"))
        if isinstance(a, dict) and a.get("@id")
    ]
    if members:
        out["member_of"] = members

    # F5 lifespan sanity on the parser's epoch seconds
    if born_parsed and died_parsed:
        bs, es = born_parsed[2], died_parsed[3]
        if es < bs or (es - bs) > 122 * 365.25 * 86400:
            out.pop("born", None)
            out.pop("died", None)


def _handle_group(rec: dict, out: dict, parse_datetime) -> None:
    typ = rec.get("@type", "")
    if typ in ("organization", "organisation"):
        out.setdefault("classified_as", []).append(
            {"id": AAT_ORGANIZATION, "type": "Type", "_label": "Organization"})
    elif typ == "family":
        out.setdefault("classified_as", []).append(
            {"id": AAT_FAMILY, "type": "Type", "_label": "Family"})

    doe = _first(rec.get("dateOfEstablishment")) or ""
    if doe:
        parsed = parse_datetime(str(doe))
        if parsed:
            out["formed_by"] = _event(parsed, str(doe))
    dot = _first(rec.get("dateOfTermination")) or ""
    if dot:
        dot = str(dot)
        if doe and len(dot) == 2:
            dot = str(doe)[0:2] + dot
        parsed = parse_datetime(dot)
        if parsed:
            out["dissolved_by"] = _event(parsed, dot)


def _handle_place(rec: dict, out: dict) -> None:
    ft = rec.get("location") or {}
    geom = ft.get("geometry") if isinstance(ft, dict) else None
    if isinstance(geom, dict) and geom.get("type") == "Point":
        coords = geom.get("coordinates") or []
        if len(coords) == 2:
            out["defined_by"] = f"POINT ( {coords[0]} {coords[1]} )"


def transform_entity(rec: dict, parse_datetime) -> dict | None:
    rectype = guess_type(rec)
    if rectype is None or not rec.get("@id"):
        return None
    out = {"id": rec["@id"], "type": rectype}

    names = []
    pn = rec.get("preferredName")
    if isinstance(pn, str) and pn:
        out["_label"] = pn
        names.append(name_dict(pn, "primaryName"))
    for v in as_list(rec.get("variantName")):
        if isinstance(v, str):
            names.append(name_dict(v, "alternateName"))
    for p in as_list(rec.get("pseudonym")):
        if isinstance(p, dict) and p.get("preferredName"):
            names.append(name_dict(p["preferredName"], "pseudonym"))
    if names:
        out["identified_by"] = names

    bhi = rec.get("biographicalOrHistoricalInformation")
    if isinstance(bhi, str) and bhi:
        out["referred_to_by"] = [
            {"type": "LinguisticObject", "content": bhi, "role": "description"}
        ]

    recnumber = rec["@id"].split("/")[-1]
    pages = []
    for h in as_list(rec.get("homepage")):
        if not isinstance(h, str) or recnumber in h.split("/"):
            continue  # the record's own page carries no information
        pages.append({
            "type": "LinguisticObject", "_label": "Website Text",
            "digitally_carried_by": {
                "_label": "Home Page",
                "access_point": [{"id": h, "type": "DigitalObject"}],
            },
        })
    if pages:
        out["subject_of"] = pages

    reps = []
    for d in as_list(rec.get("depiction")):
        if isinstance(d, dict) and d.get("@id"):
            jpg = d["@id"].replace(" ", "_").replace("%20", "_")
            reps.append({
                "type": "VisualItem",
                "digitally_shown_by": [{
                    "type": "DigitalObject",
                    "access_point": [{"id": jpg, "type": "DigitalObject"}],
                }],
            })
    if reps:
        out["representation"] = reps

    equivs = [
        {"id": s["@id"], "type": rectype, "_label": out.get("_label", "")}
        for s in as_list(rec.get("sameAs"))
        if isinstance(s, dict) and s.get("@id")
    ]
    if equivs:
        out["equivalent"] = equivs

    if rectype == "Person":
        _handle_person(rec, out, parse_datetime)
    elif rectype == "Group":
        _handle_group(rec, out, parse_datetime)
    elif rectype == "Place":
        _handle_place(rec, out)
    return out


def guess_lds_type(rec: dict) -> str | None:
    for t in as_list(rec.get("@type")):
        if t.endswith("Language"):
            return "Language"
        if t.endswith(("SubjectHeadingSensoStricto", "SubjectHeading",
                       "NomenclatureInBiologyOrChemistry")):
            return "Type"
        if t.endswith("EthnographicName"):
            return "Group"
    return None


def transform_lds(doc: dict, parse_datetime) -> dict | None:
    rec = None
    for r in as_list(doc.get("list")):
        rid = r.get("@id", "") if isinstance(r, dict) else ""
        if rid and not rid.endswith("/about"):
            rec = r
            break
    if rec is None:
        return None
    rectype = guess_lds_type(rec)
    if rectype is None:
        return None
    out = {"id": rec["@id"], "type": rectype}

    recnumber = rec["@id"].split("/")[-1]
    pages = []
    for val in as_list(rec.get("http://www.w3.org/2007/05/powder-s#describedby")):
        vid = val.get("@id", "") if isinstance(val, dict) else ""
        if not vid or recnumber in vid.split("/"):
            continue
        pages.append({
            "type": "LinguisticObject", "_label": "Website Text",
            "digitally_carried_by": {
                "_label": "Home Page",
                "access_point": [{"id": vid, "type": "DigitalObject"}],
            },
        })
    if pages:
        out["subject_of"] = pages

    names = []
    for val in as_list(rec.get(GND + "preferredNameForTheSubjectHeading")):
        if isinstance(val, dict) and val.get("@value"):
            names.append(name_dict(val["@value"], "primaryName", "de"))
    for val in as_list(rec.get(GND + "variantNameForTheSubjectHeading")):
        if isinstance(val, dict) and val.get("@value"):
            names.append(name_dict(val["@value"], "alternateName", "de"))
    if names:
        out["identified_by"] = names
        out["_label"] = names[0]["content"]

    notes = [
        {"type": "LinguisticObject", "content": val["@value"],
         "language": "de", "role": "description"}
        for val in as_list(rec.get(GND + "definition"))
        if isinstance(val, dict) and val.get("@value")
    ]
    if notes:
        out["referred_to_by"] = notes

    equivs = [
        {"id": val["@id"], "type": rectype}
        for val in as_list(rec.get("http://www.w3.org/2002/07/owl#sameAs"))
        if isinstance(val, dict) and val.get("@id")
    ]
    if equivs:
        out["equivalent"] = equivs

    if rectype in ("Type", "Language"):
        refs = [
            {"id": val["@id"], "type": rectype}
            for b in LDS_BROADERS
            for val in as_list(rec.get(b))
            if isinstance(val, dict) and val.get("@id")
        ]
        if refs:
            out["broader"] = refs

    attributions = [
        {"type": "AttributeAssignment",
         "assigned": {"id": val["@id"], "type": "Place"}}
        for rel in LDS_RELATED_PLACES
        for val in as_list(rec.get(rel))
        if isinstance(val, dict) and val.get("@id")
    ]
    if attributions:
        out["attributed_by"] = attributions
    return out


def map_records(loaded: DataFrame, source_name: str = "dnb") -> DataFrame:
    """(identifier, record_time?, value) raw JSON rows -> envelopes; the
    ``list`` key routes to the sachbegriff handler."""
    from ..functions.dates import parse_datetime

    def row(ident, rt, val):
        doc = loads_object(val)
        if doc is None:
            return None
        transform = transform_lds if "list" in doc else transform_entity
        mapped = transform(doc, parse_datetime)
        return None if mapped is None else (fix_identifier(ident), rt, mapped)

    return map_rows(loaded, source_name, row)


def load_macs(spark: SparkSession, path: str) -> DataFrame:
    """macs.nt -> (identifier, close_uri): the closeMatch triples as a
    distributed line scan (the reference reads the whole file into a
    driver dict, mapper.py:20-42)."""
    lines = spark.read.text(path)
    gnd = F.regexp_extract(
        "value", r"^<https://d-nb\.info/gnd/([^>]+)>\s+<[^>]*closeMatch[^>]*>", 1
    )
    tgt = F.regexp_extract("value", r">\s+<([^>]+)>\s*\.\s*$", 1)
    return (
        lines.select(gnd.alias("identifier"), tgt.alias("close_uri"))
        .filter((F.col("identifier") != "") & (F.col("close_uri") != ""))
    )


def enrich_close_matches(envelopes: DataFrame, macs: DataFrame) -> DataFrame:
    """Append macs closeMatch equivalents to matching records — a join,
    not a driver dict: unmatched envelopes never re-enter Python."""
    import pandas as pd

    targets = macs.groupBy("identifier").agg(
        F.collect_list("close_uri").alias("_close")
    )
    joined = envelopes.join(targets, "identifier", "left")
    untouched = joined.filter(F.col("_close").isNull()).drop("_close")
    matched = joined.filter(F.col("_close").isNotNull())

    def run(batches):
        for pdf in batches:
            out = []
            for data, close in zip(pdf["data"], pdf["_close"]):
                doc = json.loads(data)
                eqs = doc.setdefault("equivalent", [])
                for uri in close:
                    eqs.append({"id": uri, "type": doc.get("type")})
                out.append(json.dumps(doc, sort_keys=True))
            yield pdf.assign(data=out)

    schema = ", ".join(f"{c} string" for c in envelopes.columns) + ", _close array<string>"
    enriched = matched.mapInPandas(run, schema=schema).drop("_close")
    return enriched.unionByName(untouched)


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_doc_lines(spark, cfg["dump_path"], "$.doc")


CONFIG = {
    "name": "dnb",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 24,
}
