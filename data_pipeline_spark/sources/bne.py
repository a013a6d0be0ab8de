"""BNE (Biblioteca Nacional de España) source (U1 breadth #16).

Restates sources/libraries/bne/mapper.py:1-246 in /root/reference.
Records are @graph-wrapped JSON-LD with BNE's P-coded ontology; every
property is scalar-or-list, so the transform runs Arrow-batched (the
nomisma/ycba boundary policy).  Kept semantics:

- **type routing** (guess_type): the geograficos scheme -> Place; SKOS
  Concept -> Type; C1005 -> Person; C1006 -> Group; anything else (or a
  record without @graph) dropped.
- **concepts/places** (handle_common): prefLabel PrimaryNames with the
  process-lang filter, altLabels deduped against the LAST pref literal
  (the reference reassigns ``dupes`` per pref item — kept), sameAs +
  closeMatch equivalents typed like the record; broader -> part_of
  (Place) or broader (Type).  Groups get no handler — ident only, as
  the reference's missing handle_group leaves them.
- **persons**: P5001 preferred name + P5012 alternates (deduped);
  equivalents assembled in the reference's P5024-minus-sameAs + sameAs,
  minus-seeAlso + seeAlso order; P5010 birth (a 2-element list carries
  [birth, death]), P5011 death (falling back to that carried death),
  P50119/P50118 birth/death places as timespan took_place_at labels;
  P50116 gender (Masculino/Femenino to the shared instances, anything
  else a Gender by URI); P3066 depiction -> representation; P3067 ->
  Spanish BiographyStatement; P50102 nationality and P50104 Spanish
  classifications; finally the F5 lifespan check — an impossible
  born/died pair clears BOTH events (test_birth_death,
  mapper_utils.py:146-197).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .loaders import as_list, load_doc_lines, loads_object, map_rows, name_dict

PROCESS_LANGS = [
    "en", "fr", "de", "es", "it", "nl", "pt", "zh", "ja", "ru", "ar",
    "el", "he", "hi", "ko", "pl", "sv", "da", "no", "fi", "cs", "tr",
]

SCHEME_GEO = "https://datos.bne.es/def/geograficos"
TYPE_CONCEPT = "http://www.w3.org/2004/02/skos/core#Concept"
TYPE_PERSON = "https://datos.bne.es/def/C1005"
TYPE_GROUP = "https://datos.bne.es/def/C1006"

MALE = "http://vocab.getty.edu/aat/300189559"
FEMALE = "http://vocab.getty.edu/aat/300189557"


def guess_type(rec: dict) -> str | None:
    if rec.get("inScheme") == SCHEME_GEO:
        return "Place"
    typ = rec.get("@type", "")
    if typ == TYPE_CONCEPT:
        return "Type"
    if typ == TYPE_PERSON:
        return "Person"
    if typ == TYPE_GROUP:
        return "Group"
    return None


def _handle_common(rec: dict, rectype: str, out: dict) -> None:
    names, dupes = [], {}
    for item in as_list(rec.get("prefLabel")):
        if not isinstance(item, dict):
            item = {"@value": item}
        val = item.get("@value", "")
        lang = item.get("@language", "")
        dupes = {val: 1}  # the reference REASSIGNS per pref item; kept
        if val:
            names.append(name_dict(val, "primaryName",
                                   lang if lang in PROCESS_LANGS else None))
    for a in as_list(rec.get("altLabel")):
        if isinstance(a, dict):
            val, lang = a.get("@value", ""), a.get("@language", "")
        else:
            val, lang = a, None
        if val and val not in dupes:
            dupes[val] = 1
            names.append(name_dict(val, "alternateName",
                                   lang if lang and lang in PROCESS_LANGS else None))
    if names:
        out["identified_by"] = names

    equivs = [
        {"id": s, "type": rectype}
        for field in ("sameAs", "closeMatch")
        for s in as_list(rec.get(field))
        if isinstance(s, str) and s
    ]
    if equivs:
        out["equivalent"] = equivs


def _event(raw_display, parsed, place_label):
    ev = {"timespan": {}, "display": raw_display}
    if parsed:
        ev["timespan"] = {
            "begin_of_the_begin": parsed[0], "end_of_the_end": parsed[1],
        }
    if place_label:
        ev["took_place_at"] = [{"type": "Place", "_label": place_label}]
    return ev


def _handle_person(rec: dict, out: dict, parse_datetime) -> None:
    prefname = rec.get("P5001", "")
    dupes = {prefname: 1}
    names = [name_dict(prefname, "primaryName")]
    for alt in as_list(rec.get("P5012")):
        if alt not in dupes:
            dupes[alt] = 1
            names.append(name_dict(alt, "alternateName"))
    out["identified_by"] = names

    p5024 = as_list(rec.get("P5024"))
    same_as = as_list(rec.get("sameAs"))
    see_also = as_list(rec.get("seeAlso"))
    sames = [x for x in p5024 if x not in same_as] + same_as
    sames = [x for x in sames if x not in see_also] + see_also
    equivs = [
        {"id": s, "type": "Person"}
        for s in sames if s and not isinstance(s, (dict, list))
    ]
    if equivs:
        out["equivalent"] = equivs

    dob = rec.get("P5010", "")
    carried_death = None
    born_parsed = died_parsed = None
    if dob:
        if isinstance(dob, list) and len(dob) == 2:
            raw_b, carried_death = dob[0], dob[1]
        else:
            raw_b = dob
        born_parsed = parse_datetime(str(raw_b))
        out["born"] = _event(dob if isinstance(dob, str) else raw_b,
                             born_parsed, rec.get("P50119", ""))
    dod = rec.get("P5011", "")
    if dod:
        died_parsed = parse_datetime(str(dod))
    elif carried_death:
        died_parsed = parse_datetime(str(carried_death))
    if died_parsed:
        out["died"] = _event(dod or carried_death, died_parsed,
                             rec.get("P50118", ""))

    classes = []
    gender = rec.get("P50116", "")
    if gender == "Masculino":
        classes.append({"id": MALE, "type": "Type", "_label": "male"})
    elif gender == "Femenino":
        classes.append({"id": FEMALE, "type": "Type", "_label": "female"})
    elif gender:
        classes.append({"id": gender, "type": "Type", "_label": "gender"})

    depiction = rec.get("P3066", "")
    if isinstance(depiction, list):
        depiction = depiction[0] if depiction else ""
    if depiction:
        out["representation"] = [{
            "type": "VisualItem",
            "digitally_shown_by": [{
                "type": "DigitalObject",
                "access_point": [{"id": depiction, "type": "DigitalObject"}],
            }],
        }]

    bio = rec.get("P3067", "")
    if bio:
        out["referred_to_by"] = [{
            "type": "LinguisticObject", "content": bio, "language": "es",
            "role": "biography",
        }]

    nationality = rec.get("P50102", "")
    if nationality:
        classes.append({"type": "Type", "_label": nationality,
                        "role": "nationality"})
    for cxn in as_list(rec.get("P50104")):
        classes.append({"type": "Type", "_label": cxn, "language": "es"})
    if classes:
        out["classified_as"] = classes

    # F5 lifespan sanity (test_birth_death, mapper_utils.py:146-197):
    # death before birth or a >122-year lifespan clears BOTH events —
    # computed on the parser's BCE-safe epoch seconds
    if born_parsed and died_parsed:
        bs, es = born_parsed[2], died_parsed[3]
        if es < bs or (es - bs) > 122 * 365.25 * 86400:
            out.pop("born", None)
            out.pop("died", None)


def transform_record(rec: dict, parse_datetime) -> dict | None:
    rectype = guess_type(rec)
    if rectype is None or not rec.get("@id"):
        return None
    out = {"id": rec["@id"], "type": rectype}
    if rectype in ("Place", "Type"):
        _handle_common(rec, rectype, out)
        refs = [
            {"id": b, "type": rectype}
            for b in as_list(rec.get("broader")) if isinstance(b, str) and b
        ]
        if refs:
            out["part_of" if rectype == "Place" else "broader"] = refs
        # the reference parses lat/long as sexagesimal strings and then
        # deliberately emits nothing (handle_place:96-101) — kept
    elif rectype == "Person":
        _handle_person(rec, out, parse_datetime)
    # Group: the reference has no handle_group — ident only
    return out


def map_records(loaded: DataFrame, source_name: str = "bne") -> DataFrame:
    """(identifier, record_time?, value) rows, value = the raw record
    JSON ({"@graph": [rec]}) -> envelopes."""
    from ..functions.dates import parse_datetime

    def row(ident, rt, val):
        try:
            rec = loads_object(val)["@graph"][0]
        except (TypeError, KeyError, IndexError):
            return None
        mapped = transform_record(rec, parse_datetime)
        return None if mapped is None else (ident, rt, mapped)

    return map_rows(loaded, source_name, row)


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_doc_lines(spark, cfg["dump_path"], "$.doc")


CONFIG = {
    "name": "bne",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 16,
}
