"""Pleiades ancient-places source (U1 breadth #31).

Restates sources/pleiades/mapper.py:1-214 in /root/reference.  Two
record shapes:

- **places** (JSON): title + attested names (3-letter languages through
  the F15 map, unmapped codes left untagged), first name primary and
  the rest alternates; English description; placeTypeURIs as
  classifications; geometry precedence geometry -> bbox -> boundingBox
  -> reprPoint with GeoJSON Point/Polygon/MultiPolygon -> WKT
  (exterior rings only, the reference's formatting); part_of from the
  containment-flavored connection types; wikidata references as
  equivalents.  Variant-typed GeoJSON makes this an Arrow pass (the
  nomisma boundary).
- **place-type concepts** (TTL sections): URI/prefLabel/scopeNote/
  owl:sameAs regex extraction into Type records, self-references
  skipped.  (The reference's transform dispatches Type records to a
  ``parse_concept`` that does not exist — mapper.py:208-214 would
  AttributeError; ``parse_types`` is the implemented handler and is
  what ``map_concepts`` exposes.)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..functions.strings import LANG_THREE_TO_TWO
from .loaders import loads_object, map_rows, name_dict

PROCESS_LANGS = [
    "en", "fr", "de", "es", "it", "nl", "pt", "zh", "ja", "ru", "ar",
    "el", "he", "hi", "ko", "pl", "sv", "da", "no", "fi", "cs", "tr",
]

PART_OF_TYPES = {
    "part_of_physical", "part_of_admin", "part_of_regional", "located_in",
    "in_territory_of", "located_at", "port_of", "member_of",
    "part_of_analytical", "capital_of",
}

VOCAB_NS = "https://pleiades.stoa.org/vocabularies/"


def geojson_to_wkt(geom: dict) -> str | None:
    """mapper.py:19-41 — exterior rings only, reference formatting."""
    t = geom.get("type")
    coords = geom.get("coordinates")
    if not coords:
        return None
    if t == "Point":
        return f"POINT ({coords[0]} {coords[1]})"
    if t == "Polygon":
        ring = ", ".join(f"{x} {y}" for x, y in coords[0])
        return f"POLYGON (({ring}))"
    if t == "MultiPolygon":
        polys = []
        for poly in coords:
            ring = ", ".join(f"{x} {y}" for x, y in poly[0])
            polys.append(f"(({ring}))")
        return f"MULTIPOLYGON ({', '.join(polys)})"
    return None


def bbox_to_wkt(bbox) -> str:
    minx, miny, maxx, maxy = bbox
    return (f"POLYGON (({minx} {miny}, {maxx} {miny}, {maxx} {maxy},"
            f" {minx} {maxy}, {minx} {miny}))")


def _lang2(code: str) -> str | None:
    if len(code) == 3:
        code = LANG_THREE_TO_TWO.get(code, code)
    return code if code in PROCESS_LANGS else None


def parse_place(rec: dict) -> dict | None:
    if not rec.get("uri"):
        return None
    all_names = []
    if rec.get("title"):
        all_names.append((rec["title"], "en"))
    for n in rec.get("names", []) or []:
        if isinstance(n, dict) and n.get("attested"):
            all_names.append((n["attested"], n.get("language", "en")))
    if not all_names:
        return None
    names = []
    for i, (content, lang) in enumerate(all_names):
        names.append(name_dict(content, "primaryName" if i == 0 else "alternateName",
                               _lang2(lang)))
    out = {"id": rec["uri"], "type": "Place",
           "_label": all_names[0][0], "identified_by": names}

    if rec.get("description"):
        out["referred_to_by"] = [{
            "type": "LinguisticObject", "content": rec["description"],
            "language": "en", "role": "description",
        }]

    types = [{"id": u, "type": "Type"} for u in rec.get("placeTypeURIs", []) or []]
    if types:
        out["classified_as"] = types

    wkt = None
    if rec.get("geometry"):
        wkt = geojson_to_wkt(rec["geometry"])
    elif rec.get("bbox"):
        wkt = bbox_to_wkt(rec["bbox"])
    elif rec.get("boundingBox"):
        wkt = bbox_to_wkt(rec["boundingBox"])
    elif rec.get("reprPoint") and len(rec["reprPoint"]) >= 2:
        c = rec["reprPoint"]
        wkt = f"POINT ({c[0]} {c[1]})"
    if wkt:
        out["defined_by"] = wkt

    parents = []
    for conn in rec.get("connections", []) or []:
        if conn.get("connectionType") in PART_OF_TYPES and conn.get("connectsTo"):
            p = {"id": conn["connectsTo"], "type": "Place"}
            if "title" in conn:
                p["_label"] = conn["title"]
            parents.append(p)
    if parents:
        out["part_of"] = parents

    equivs = [
        {"id": ref["accessURI"], "type": "Place"}
        for ref in rec.get("references", []) or []
        if isinstance(ref, dict)
        and "https://www.wikidata.org/wiki" in ref.get("accessURI", "")
    ]
    if equivs:
        out["equivalent"] = equivs
    return out


def parse_type_section(ttl_section: str) -> dict | None:
    """mapper.py:52-108 (parse_types): one TTL section -> a Type doc."""
    uri_m = re.search(r"<https://pleiades\.stoa\.org/vocabularies/([^>]+)>",
                      ttl_section)
    if not uri_m:
        return None
    uri = VOCAB_NS + uri_m.group(1)
    label_m = re.search(r'skos:prefLabel "([^"]+)"(?:@([a-z]{2}))?', ttl_section)
    if not label_m:
        return None
    label_lang = label_m.group(2) or "en"
    out = {"id": uri, "type": "Type", "_label": label_m.group(1),
           "identified_by": [name_dict(label_m.group(1), "primaryName",
                                       _lang2(label_lang))],
           "_identifier": uri_m.group(1)}
    scope_m = re.search(r'skos:scopeNote "([^"]+)"(?:@([a-z]{2}))?', ttl_section)
    if scope_m:
        out["referred_to_by"] = [{
            "type": "LinguisticObject", "content": scope_m.group(1),
            "language": _lang2(scope_m.group(2) or "en"), "role": "description",
        }]
    same_m = re.search(r"owl:sameAs\s+(.+?);", ttl_section, re.DOTALL)
    if same_m:
        equivs = [
            {"id": u, "type": "Type"}
            for u in re.findall(r"<([^>]+)>", same_m.group(1)) if u != uri
        ]
        if equivs:
            out["equivalent"] = equivs
    return out


def map_places(loaded: DataFrame, source_name: str = "pleiades") -> DataFrame:
    """(identifier, record_time?, value) raw place JSON -> envelopes."""
    def row(ident, rt, val):
        rec = loads_object(val)
        mapped = None if rec is None else parse_place(rec)
        return None if mapped is None else (ident, rt, mapped)

    return map_rows(loaded, source_name, row)


def map_concepts(sections: DataFrame, source_name: str = "pleiades") -> DataFrame:
    """(value) TTL-section rows -> Type envelopes; the identifier comes
    from the section's own URI."""
    def row(_ident, _rt, val):
        mapped = parse_type_section(val) if isinstance(val, str) else None
        return None if mapped is None else (mapped.pop("_identifier"), None, mapped)

    return map_rows(sections.select("value"), source_name, row)


CONFIG = {
    "name": "pleiades",
    "mapper": f"{__name__}:map_places",
    "merge_order": 31,
}
