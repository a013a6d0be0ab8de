"""Nomisma numismatic-authority source (U1 breadth #14).

Restates sources/authorities/nomisma/mapper.py:1-280 in /root/reference.
Records are JSON-LD ``@graph`` documents (7.5k total at the source):
the top node ``nm:{recid}`` carries the labels and relations, sibling
nodes carry the geo point (``{ns}{recid}#this``), birth/death dates
(``#birth``/``#death``) and membership organizations.  Because every
property is scalar-or-list and the transform is a graph walk (node
lookups by @id), the per-record munging runs as an Arrow-batched pass —
the same boundary policy as the YCBA patch mapper and the WOF geometry
pipeline — over a distributed JSONL scan.

Kept semantics, in reference order:

- **type routing** (mapper.py:25-50): nmo:Mint/nmo:Region -> Place;
  wordnet:Deity/foaf:Person -> Person; nmo:Collection/rdac:Family/
  foaf:Organization/nmo:Ethnic/foaf:Group -> Group; nmo:Denomination/
  Material/ObjectType/NumismaticTerm/TypeSeries -> Type; first matching
  @type wins; no match (or no graph) -> record dropped.
- **handle_common**: pref/alt labels with process-lang filtering (pref
  keeps content even when the language is filtered; alt keeps untagged),
  definitions + scopeNotes -> Notes, close/exactMatch -> equivalents
  typed like the record, skos:broader nm: refs -> part_of (Place) or
  broader (Type), first foaf:homepage -> subject_of WebPage.
- **geo** (#this SpatialThing): ``POINT ( long lat )``.
- **person**: org:hasMembership -> membership-node lookup ->
  org:organization nm: ref, plus direct org:memberOf; bio birth/death
  nodes' xsd:gYear dates through the F1 parser.
- **group**: nmo:hasStartDate/hasEndDate xsd:gYear -> Formation /
  Dissolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .loaders import as_list, load_doc_lines, loads_object, map_rows, name_dict

PROCESS_LANGS = [
    "en", "fr", "de", "es", "it", "nl", "pt", "zh", "ja", "ru", "ar",
    "el", "he", "hi", "ko", "pl", "sv", "da", "no", "fi", "cs", "tr",
]

PLACE_TYPES = {"nmo:Mint", "nmo:Region"}
PERSON_TYPES = {"wordnet:Deity", "foaf:Person"}
GROUP_TYPES = {
    "nmo:Collection", "rdac:Family", "foaf:Organization", "nmo:Ethnic",
    "foaf:Group",
}
TYPE_TYPES = {
    "nmo:Denomination", "nmo:Material", "nmo:ObjectType",
    "nmo:NumismaticTerm", "nmo:TypeSeries",
}


def _nm_tail(ref) -> str | None:
    rid = (ref or {}).get("@id", "") if isinstance(ref, dict) else ""
    if not rid:
        return None
    return rid.split("nm:")[-1] or None


def _gyear_event(node_or_val, parse_datetime):
    """An xsd:gYear-typed {@type,@value} -> event dict via F1, or None."""
    if not isinstance(node_or_val, dict):
        return None
    if node_or_val.get("@type") != "xsd:gYear":
        return None
    val = node_or_val.get("@value")
    parsed = parse_datetime(str(val)) if val else None
    if parsed is None:
        return None
    return {
        "timespan": {
            "begin_of_the_begin": parsed[0], "end_of_the_end": parsed[1],
        },
        "display": str(val),
    }


def transform_record(recid: str, doc: dict, namespace: str, parse_datetime):
    graph = as_list(doc.get("@graph"))
    if not graph:
        return None
    top_node, rectype = None, None
    for r in graph:
        if r.get("@id") == f"nm:{recid}":
            for t in as_list(r.get("@type")):
                if t in PLACE_TYPES:
                    rectype = "Place"
                elif t in PERSON_TYPES:
                    rectype = "Person"
                elif t in GROUP_TYPES:
                    rectype = "Group"
                elif t in TYPE_TYPES:
                    rectype = "Type"
                if rectype:
                    top_node = r
                    break
            break
    if top_node is None or rectype is None:
        return None
    r = top_node
    out = {"id": f"{namespace}{recid}.jsonld", "type": rectype}

    names = []
    for pref in as_list(r.get("skos:prefLabel")):
        val = pref.get("@value") if isinstance(pref, dict) else pref
        lang = pref.get("@language", "") if isinstance(pref, dict) else ""
        if val:
            names.append(name_dict(val, "primaryName",
                                   lang if lang in PROCESS_LANGS else None))
    for alt in as_list(r.get("skos:altLabel")):
        val = alt.get("@value") if isinstance(alt, dict) else alt
        lang = alt.get("@language", "") if isinstance(alt, dict) else ""
        if val:
            names.append(name_dict(val, "alternateName",
                                   lang if lang in PROCESS_LANGS else None))
    if names:
        out["identified_by"] = names

    notes = []
    for field in ("skos:definition", "skos:scopeNote"):
        for d in as_list(r.get(field)):
            if not isinstance(d, dict) or not d.get("@value"):
                continue
            note = {"type": "LinguisticObject", "content": d["@value"],
                    "role": "note"}
            lang = d.get("@language", "")
            if lang in PROCESS_LANGS:
                note["language"] = lang
            notes.append(note)
    if notes:
        out["referred_to_by"] = notes

    equivs = []
    for field in ("skos:closeMatch", "skos:exactMatch"):
        for c in as_list(r.get(field)):
            cid = c.get("@id") if isinstance(c, dict) else None
            if cid:
                equivs.append({"id": cid, "type": rectype})
    if equivs:
        out["equivalent"] = equivs

    if rectype in ("Type", "Place"):
        refs = []
        for b in as_list(r.get("skos:broader")):
            tail = _nm_tail(b)
            if tail:
                refs.append({
                    "id": f"{namespace}{tail}.jsonld",
                    "type": "Place" if rectype == "Place" else "Type",
                })
        if refs:
            out["part_of" if rectype == "Place" else "broader"] = refs

    homepages = as_list(r.get("foaf:homepage"))
    if homepages and isinstance(homepages[0], dict) and homepages[0].get("@id"):
        out["subject_of"] = [{
            "type": "LinguisticObject", "_label": "Website Text",
            "digitally_carried_by": {
                "_label": "Home Page",
                "access_point": [{
                    "id": homepages[0]["@id"], "type": "DigitalObject",
                }],
            },
        }]

    by_id = {g.get("@id"): g for g in graph if isinstance(g, dict)}

    if rectype == "Place":
        this = by_id.get(f"{namespace}{recid}#this")
        if this is not None and this.get("@type") == "geo:SpatialThing":
            lat = (this.get("geo:lat") or {}).get("@value", "")
            lng = (this.get("geo:long") or {}).get("@value", "")
            if lat and lng:
                out["defined_by"] = f"POINT ( {lng} {lat} )"

    if rectype == "Person":
        member_of = []
        for mem in as_list(r.get("org:hasMembership")):
            node = by_id.get(mem.get("@id")) if isinstance(mem, dict) else None
            if node is not None:
                tail = _nm_tail(node.get("org:organization"))
                if tail:
                    member_of.append({
                        "id": f"{namespace}{tail}.jsonld", "type": "Group",
                    })
        for m in as_list(r.get("org:memberOf")):
            tail = _nm_tail(m)
            if tail:
                member_of.append({
                    "id": f"{namespace}{tail}.jsonld", "type": "Group",
                })
        if member_of:
            out["member_of"] = member_of
        if r.get("bio:birth"):
            node = by_id.get(f"{namespace}{recid}#birth")
            ev = _gyear_event((node or {}).get("dcterms:date"), parse_datetime)
            if ev:
                out["born"] = ev
        if r.get("bio:death"):
            node = by_id.get(f"{namespace}{recid}#death")
            ev = _gyear_event((node or {}).get("dcterms:date"), parse_datetime)
            if ev:
                out["died"] = ev

    if rectype == "Group":
        ev = _gyear_event(r.get("nmo:hasStartDate"), parse_datetime)
        if ev:
            out["formed_by"] = ev
        ev = _gyear_event(r.get("nmo:hasEndDate"), parse_datetime)
        if ev:
            out["dissolved_by"] = ev
    return out


def map_records(
    loaded: DataFrame,
    source_name: str = "nomisma",
    namespace: str = "https://num.example/id/",
) -> DataFrame:
    """(identifier, record_time?, value) raw JSON rows -> envelopes."""
    from ..functions.dates import parse_datetime

    def row(ident, rt, val):
        doc = loads_object(val)
        mapped = None if doc is None else transform_record(
            ident, doc, namespace, parse_datetime)
        return None if mapped is None else (ident, rt, mapped)

    return map_rows(loaded, source_name, row)


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    """JSONL dump rows {identifier, doc: <raw JSON-LD>}: the doc is kept
    as a raw string (the graph walk parses it in the Arrow pass)."""
    return load_doc_lines(spark, cfg["dump_path"], "$.doc")


CONFIG = {
    "name": "nomisma",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 13,
}
