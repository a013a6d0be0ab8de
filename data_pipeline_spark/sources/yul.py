"""Yale library (YUL) internal-unit mapper (U1 breadth #30 — the last
reference source).

Restates sources/yale/library/mapper.py:1-450 in /root/reference: the
largest internal cleanup pass, driven by several side tables the
reference loads from data files — here plain dict/set parameters
(empty by default, a miss behaving exactly like the reference's
missing file):

- ``headings_index`` ids and ``object_work_mismatch`` ids drop the
  record outright; the mismatch table also REWRITES nested node
  ids/types during the multi-walk.
- ``walk_multi``: the multi-valued property list is normalized to
  lists, the single-valued list to scalars, recursively.
- works/sets with an ``ils:yul:`` identifier pull YCBA object and
  exhibition links (``ycbaobjs``/``ycbaexhs``) into ``about``.
- ``wiki_recon`` appends wikidata equivalents.
- representation / digitally_shown_by / digitally_carried_by entries
  whose access point is NOT a linked-art node migrate to subject_of as
  Representation/Reference digital objects (names carried along).
- Place parenthetical parents: a primary name like "Potsdam (Germany)"
  resolves its parenthetical through ``parenthetical_places`` (with
  the colon/comma/" and " splitting ladder) into part_of.
- ``gemini_place_data``: offline LLM place enrichment — wikidata
  equivalent, web page, and the "(AI generated)" English description
  (the U5 family's place-side twin).
- MarcGT->AAT classification swaps, the sort-title AAT swap, https
  getty classification normalization, attributed_by->assigned_by on
  names, the Collection-Item flag (objects/digital objects always;
  ils:yul: accessions otherwise, mfhd excluded), empty defined_by
  removal, Period processing, the Set 300311990 swap, and timespan
  validation.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from .loaders import map_rows
from .ycba import _normalize_timespans, _process_period, linked_art_row

MULTI_PROPS = [
    "part_of", "identified_by", "classified_as", "equivalent", "member_of",
    "subject_of", "referred_to_by", "influenced_by", "about", "carries",
    "shows", "attributed_by", "carried_out_by", "took_place_at",
]
SINGLE_PROPS = [
    "timespan", "produced_by", "created_by", "content",
    "begin_of_the_begin", "end_of_the_end", "value",
]

AAT = "http://vocab.getty.edu/aat/"
AAT_PRIMARY = AAT + "300404670"
MARCGT_SWAPS = {
    "http://id.loc.gov/vocabulary/marcgt/rea": AAT + "300265419",
    "http://id.loc.gov/vocabulary/marcgt/pic": AAT + "300264388",
}
_PARENS_RE = re.compile(r"^(.+) \((.+)\)$")


def walk_multi(node: dict, mismatch: dict, top: bool = False) -> None:
    for k, v in list(node.items()):
        if k in MULTI_PROPS and not isinstance(v, list):
            node[k] = [v]
            v = [v]
        if k in SINGLE_PROPS and isinstance(v, list):
            node[k] = v[0]
        if not top and "id" in node and node["id"] in mismatch:
            node["type"] = mismatch[node["id"]][1]
            node["id"] = mismatch[node["id"]][0]
        if isinstance(v, list):
            for vi in v:
                if isinstance(vi, dict):
                    walk_multi(vi, mismatch)
        elif isinstance(v, dict):
            walk_multi(v, mismatch)


def _move_digital(doc: dict, internal_marker: str) -> None:
    for key in ("representation", "digitally_shown_by", "digitally_carried_by"):
        if key not in doc:
            continue
        del_reps, aps = [], []
        for r in doc[key]:
            if "id" in r and internal_marker not in r["id"]:
                aps.append((r["id"], r.get("identified_by", [])))
                del_reps.append(r)
            elif r.get("type") == "VisualItem" and "digitally_shown_by" in r:
                kill = False
                for dsb in r["digitally_shown_by"]:
                    if "id" in dsb:
                        aps.append((dsb["id"], dsb.get("identified_by", [])))
                        kill = True
                if kill:
                    del_reps.append(r)
        for d in del_reps:
            if d in doc[key]:
                doc[key].remove(d)
        if not doc[key]:
            del doc[key]
        for ap, names in aps:
            a = {"type": "DigitalObject",
                 "access_point": [{"id": ap, "type": "DigitalObject"}]}
            if names:
                a["identified_by"] = names
            doc.setdefault("subject_of", []).append({
                "type": "LinguisticObject",
                "_label": "Representation/Reference",
                "digitally_carried_by": [a],
            })


def _parenthetical_parent(name: str, table: dict) -> str | None:
    m = _PARENS_RE.match(name)
    if not m:
        return None
    par = m.group(2).strip()
    test = par.split(":", 1) if ":" in par else [par]
    for t in test:
        if "," in t and t not in table:
            a, b = t.split(",", 1)
            if b.strip() in table:
                return b.strip()
            if a.strip() in table:
                return a.strip()
        elif t.strip() in table:
            return t.strip()
    if " and " in par and par not in table:
        a, b = par.split(" and ", 1)
        if a.strip() in table:
            return a.strip()
        if b.strip() in table:
            return b.strip()
    return None


def transform_doc(
    doc: dict,
    headings_index=frozenset(),
    object_work_mismatch: dict | None = None,
    ycbaobjs: dict | None = None,
    ycbaexhs: dict | None = None,
    wiki_recon: dict | None = None,
    parenthetical_places: dict | None = None,
    gemini_place_data: dict | None = None,
    internal_marker: str = "linked-art",
) -> dict | None:
    mismatch = object_work_mismatch or {}
    if doc.get("id") in mismatch or doc.get("id") in headings_index:
        return None

    def _idents():
        ids = doc.get("identified_by")
        if isinstance(ids, dict):  # pre-walk single value (walk_multi
            return [ids]           # normalizes it later)
        return ids if isinstance(ids, list) else []

    if doc.get("type") in ("LinguisticObject", "VisualItem", "Set"):
        new_about = doc.get("about", [])
        ilsnum = None
        for ident in _idents():
            if str(ident.get("content", "")).startswith("ils:yul:"):
                ilsnum = ident["content"].split(":")[-1]
                break
        if ilsnum:
            new_about.extend(
                {"id": oid, "type": "HumanMadeObject"}
                for oid in (ycbaobjs or {}).get(ilsnum, []) if oid)
            new_about.extend(
                {"id": eid, "type": "Activity"}
                for eid in (ycbaexhs or {}).get(ilsnum, []) if eid)
        if new_about:
            doc["about"] = new_about

    if doc.get("id") in (wiki_recon or {}):
        doc.setdefault("equivalent", []).append({
            "id": wiki_recon[doc["id"]], "type": doc.get("type"),
            "_label": doc.get("_label", "wikidata equivalent"),
        })

    walk_multi(doc, mismatch, top=True)
    _normalize_timespans(doc)
    _move_digital(doc, internal_marker)

    if doc.get("type") == "Place":
        name = ""
        for n in doc.get("identified_by", []):
            if AAT_PRIMARY in [x.get("id") for x in n.get("classified_as", [])]:
                name = str(n.get("content", ""))
                break
        name = name.strip()
        if name and parenthetical_places:
            parent = _parenthetical_parent(name, parenthetical_places)
            if parent:
                doc["part_of"] = [{
                    "id": parenthetical_places[parent], "type": "Place",
                    "_label": parent,
                }]
        uu = str(doc.get("id", "")).split("/")[-1]
        info = (gemini_place_data or {}).get(uu)
        if info:
            if "wd" in info:
                doc.setdefault("equivalent", []).append({
                    "id": "http://www.wikidata.org/entity/" + info["wd"],
                    "type": "Place", "_label": doc.get("_label", name),
                })
                if "wp" in info:
                    doc.setdefault("subject_of", []).append({
                        "type": "LinguisticObject",
                        "digitally_carried_by": [{
                            "type": "DigitalObject",
                            "classified_as": [{
                                "id": AAT + "300264578", "type": "Type",
                                "_label": "Web Page",
                            }],
                            "access_point": [{
                                "id": info["wp"], "type": "DigitalObject",
                            }],
                        }],
                    })
            if "desc" in info:
                doc.setdefault("referred_to_by", []).append({
                    "type": "LinguisticObject",
                    "content": info["desc"] + " (AI generated)",
                    "classified_as": [{
                        "id": AAT + "300435416", "type": "Type",
                        "classified_as": [{"id": AAT + "300418049",
                                           "type": "Type"}],
                    }],
                    "language": [{"id": AAT + "300388277", "type": "Language",
                                  "_label": "English"}],
                })

    for cxn in doc.get("classified_as", []):
        if cxn.get("id") in MARCGT_SWAPS:
            cxn["id"] = MARCGT_SWAPS[cxn["id"]]

    for ident in doc.get("identified_by", []):
        for cxn in ident.get("classified_as", []):
            if cxn.get("id") == "https://vocab.getty.edu/aat/300451544":
                cxn["id"] = AAT + "300456575"

    item = doc.get("type") in ("HumanMadeObject", "DigitalObject")
    if not item:
        for i in doc.get("identified_by", []):
            if i.get("type") != "Identifier":
                continue
            for c in i.get("classified_as", []):
                content = str(i.get("content", ""))
                if (
                    c.get("id") == AAT + "300435704"
                    and content.startswith("ils:yul:")
                    and not content.startswith("ils:yul:mfhd:")
                ):
                    item = True
                    break
    if item:
        doc.setdefault("classified_as", []).append({
            "id": AAT + "300404024", "type": "Type", "_label": "Collection Item",
        })

    if doc.get("defined_by") == "":
        del doc["defined_by"]

    for ident in doc.get("identified_by", []):
        if "attributed_by" in ident:
            ident["assigned_by"] = ident.pop("attributed_by")
        for c in ident.get("classified_as", []):
            cid = c.get("id", "")
            if cid.startswith("https://vocab.getty.edu"):
                c["id"] = cid.replace("https://", "http://")

    if doc.get("type") == "Period":
        _process_period(doc)

    if doc.get("type") == "Set":
        for c in doc.get("classified_as", []):
            if c.get("id") == AAT + "300311990":
                c["id"] = AAT + "300456764"
    return doc


def map_records(
    loaded: DataFrame,
    source_name: str = "yul",
    namespace: str = "",
    **tables,
) -> DataFrame:
    """(identifier?, record_time?, value) rows -> envelopes; ``tables``
    forwards the side tables to transform_doc (broadcast with the UDF
    closure — they are small curated files in the reference)."""
    return map_rows(
        loaded, source_name,
        linked_art_row(lambda doc: transform_doc(doc, **tables), namespace),
    )


CONFIG = {
    "name": "yul",
    "type": "internal",
    "mapper": f"{__name__}:map_records",
    "merge_order": 30,
}
