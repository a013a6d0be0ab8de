"""The small internal-unit mappers (U1 breadth #17-22): Ashmolean,
Arches, IPCH, PMC, YPM, YUAG.

Like YCBA, these sources' records are already Linked Art JSON and the
"mapper" is a cleanup pass (reference sources/museums/ashmol/mapper.py,
yale/{arches,ipch,pmc,ypm,yuag}/mapper.py):

- **ashmol**: link fixing + the Collection-Item classification appended
  to every HumanMadeObject.
- **arches** / **ipch**: pass-through (the base transform: patches ride
  the shared F20 machinery; ipch's explicit default-consent merge hooks
  are the registry default here).
- **pmc**: Group ``part_of`` -> ``member_of``; Sets classified as both
  archive (aat 300375748) and collection (aat 300025976) drop the
  collection class; referred_to_by entries classified as any of three
  internal-note AATs are purged; link fixing.
- **ypm** (yale/ypm/mapper.py:1-118): context normalize, Species
  classifications regain their wikidata id, the '[no locality data]'
  primary-name swap, the bad image-concept rewrite to aat 300215302
  (the reference keys this off its own frontend's concept URI —
  parameterized here as BAD_IMAGE_CONCEPT), id-less event places and
  names purged, equivalents retyped, non-POLYGON/POINT defined_by
  dropped, timespan validation, and the accession-number Collection
  Item classification.
- **yuag** (yale/yuag/mapper.py:1-160): list-wrapped formed_by/
  dissolved_by unwrapped, Groups with born/died corrected to Person
  (equivalents retyped), _used_for/identified_as renames, content-less
  statements and id-less classifications purged, 'Primary Name' typed
  names normalized with the aat primary classification, numeric
  Identifier content stringified, Activity timespan lifted from
  part_of, /agt/ took_place_at entries rerouted to carried_out_by,
  timespan validation, accession Collection Item.  The reference's
  ``if False:`` dimension-unit block (mapper.py:104-135) is dead code
  and stays unported.

Each runs as one Arrow-batched pass over (identifier, record_time?,
value) rows, sharing the YCBA plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .loaders import map_rows
from .ycba import _fix_links, _normalize_timespans, canonicalizer, linked_art_row

AAT_COLLECTION_ITEM = "http://vocab.getty.edu/aat/300404024"
AAT_ARCHIVE = "http://vocab.getty.edu/aat/300375748"
AAT_COLLECTION = "http://vocab.getty.edu/aat/300025976"
AAT_PRIMARY_NAME = "http://vocab.getty.edu/aat/300404670"
PMC_NOTE_PURGE = {
    "http://vocab.getty.edu/aat/300435438",
    "http://vocab.getty.edu/aat/300055863",
    "http://vocab.getty.edu/aat/300055458",
}
# the source's own frontend concept URI that stands in for aat 300215302
# (ypm mapper.py:43-51); deployments set this to their local concept id
BAD_IMAGE_CONCEPT = (
    "https://frontend.example/data/concept/c6fc19d0-44e1-4464-82d0-d08ac1022555"
)
YPM_ACCESSIONS = {
    "http://vocab.getty.edu/aat/300404620",
    "http://vocab.getty.edu/aat/300404621",
    "http://vocab.getty.edu/aat/300312355",
}


def _add_collection_item(doc: dict, accession_ids: set) -> None:
    """The shared accession-number -> Collection Item classification
    (ypm mapper.py:92-110, yuag mapper.py:140-158)."""
    item = any(
        c.get("id") in accession_ids
        for x in doc.get("identified_by", [])
        if x.get("type") == "Identifier"
        for c in x.get("classified_as", [])
    )
    if item:
        doc.setdefault("classified_as", []).append({
            "id": AAT_COLLECTION_ITEM, "type": "Type",
            "_label": "Collection Item",
        })


def ashmol_transform(doc: dict, canonical=None) -> dict:
    """mapper.py (ashmol): fix_links + Collection Item on HMOs."""
    _fix_links(doc, canonical)
    if doc.get("type") == "HumanMadeObject":
        doc.setdefault("classified_as", []).append({
            "id": AAT_COLLECTION_ITEM, "type": "Type",
            "_label": "Collection Item",
        })
    return doc


def arches_transform(doc: dict, canonical=None) -> dict:
    """mapper.py (arches): the base pass-through."""
    return doc


def ipch_transform(doc: dict, canonical=None) -> dict:
    """mapper.py (ipch): pass-through with default-consent merge hooks."""
    return doc


def pmc_transform(doc: dict, canonical=None) -> dict:
    """mapper.py (pmc): Group part_of -> member_of; archive Sets drop
    the collection class; internal-note statements purged; fix_links."""
    if doc.get("type") == "Group" and "part_of" in doc:
        doc["member_of"] = doc.pop("part_of")
    if doc.get("type") == "Set" and "classified_as" in doc:
        ids = [c.get("id") for c in doc["classified_as"]]
        if AAT_ARCHIVE in ids and AAT_COLLECTION in ids:
            doc["classified_as"] = [
                c for c in doc["classified_as"] if c.get("id") != AAT_COLLECTION
            ]
    if "referred_to_by" in doc:
        doc["referred_to_by"] = [
            r for r in doc["referred_to_by"]
            if not any(
                c.get("id") in PMC_NOTE_PURGE
                for c in r.get("classified_as", [])
            )
        ]
    _fix_links(doc, canonical)
    return doc


def ypm_transform(doc: dict, canonical=None) -> dict:
    """mapper.py (ypm): see module docstring."""
    if "@context" in doc:
        doc["@context"] = "https://linked.art/ns/v1/linked-art.json"
    doc.pop("_last_mod_local", None)

    if doc.get("type") == "Type":
        for cxn in doc.get("classified_as", []):
            if "id" in cxn and not cxn["id"] and cxn.get("_label") == "Species":
                cxn["id"] = "https://www.wikidata.org/entity/Q7432"
                break

    if doc.get("type") == "Place" and "identified_by" in doc:
        p = alt = None
        for n in doc["identified_by"]:
            if n.get("type") == "Name" and "classified_as" in n:
                if str(n.get("content", "")).lower() == "[no locality data]":
                    if any(c.get("id") == AAT_PRIMARY_NAME
                           for c in n["classified_as"]):
                        p = n
                else:
                    alt = n
                    break
        if p is not None and alt is not None:
            doc["identified_by"].remove(alt)
            p["content"] = alt["content"]

    for rep in doc.get("representation", []):
        for do in rep.get("digitally_shown_by", []):
            for cxn in do.get("classified_as", []):
                if cxn.get("id") == BAD_IMAGE_CONCEPT:
                    cxn["id"] = "http://vocab.getty.edu/aat/300215302"

    for p in ("born", "died"):
        ev = doc.get(p)
        if isinstance(ev, dict) and "took_place_at" in ev:
            ev["took_place_at"] = [i for i in ev["took_place_at"] if "id" in i]
    for uf in doc.get("used_for", []):
        for p in ("took_place_at", "carried_out_by"):
            if p in uf:
                uf[p] = [i for i in uf[p] if "id" in i]

    for eq in doc.get("equivalent", []):
        eq["type"] = doc.get("type")

    if "identified_by" in doc:
        doc["identified_by"] = [
            i for i in doc["identified_by"] if "content" in i
        ]

    if "defined_by" in doc:
        if not str(doc["defined_by"]).strip().startswith(("POLYGON", "POINT")):
            del doc["defined_by"]

    _normalize_timespans(doc)
    if doc.get("type") == "HumanMadeObject":
        _add_collection_item(doc, YPM_ACCESSIONS)
    return doc


def yuag_transform(doc: dict, canonical=None) -> dict:
    """mapper.py (yuag): see module docstring."""
    for p in ("formed_by", "dissolved_by"):
        if isinstance(doc.get(p), list) and doc[p]:
            doc[p] = doc[p][0]
    if doc.get("type") == "Group" and ("born" in doc or "died" in doc):
        doc["type"] = "Person"
        for eq in doc.get("equivalent", []):
            eq["type"] = "Person"

    if "_used_for" in doc:
        doc["used_for"] = doc.pop("_used_for")

    if "referred_to_by" in doc:
        doc["referred_to_by"] = [
            r for r in doc["referred_to_by"] if "content" in r
        ]

    if "identified_as" in doc:
        doc["identified_by"] = doc.pop("identified_as")

    if "classified_as" in doc:
        doc["classified_as"] = [c for c in doc["classified_as"] if "id" in c]

    if "identified_by" in doc:
        kept = []
        for i in doc["identified_by"]:
            i.pop("id", None)
            if i.get("type") == "Primary Name":
                i["type"] = "Name"
                i["classified_as"] = [{
                    "id": AAT_PRIMARY_NAME, "type": "Type",
                    "_label": "Primary Name",
                }]
            if "content" in i:
                if not isinstance(i["content"], str):
                    i["content"] = str(i["content"])
                kept.append(i)
        doc["identified_by"] = kept

    if doc.get("type") == "Activity":
        if (
            "timespan" not in doc and doc.get("part_of")
            and isinstance(doc["part_of"][0], dict)
            and "timespan" in doc["part_of"][0]
        ):
            doc["timespan"] = doc["part_of"][0]["timespan"]
            del doc["part_of"]
        if "took_place_at" in doc:
            cobs, tpas = [], []
            for tpa in doc["took_place_at"]:
                if "id" in tpa and "/agt/" in tpa["id"]:
                    tpa["type"] = "Group"
                    cobs.append(tpa)
                else:
                    tpa["type"] = "Place"
                    tpas.append(tpa)
            if cobs:
                doc["carried_out_by"] = cobs
            if tpas:
                doc["took_place_at"] = tpas
            else:
                del doc["took_place_at"]

    _normalize_timespans(doc)
    _add_collection_item(doc, {"http://vocab.getty.edu/aat/300312355"})
    return doc


def _map_records(transform, source_name: str):
    def map_records(
        loaded: DataFrame, namespace: str = "", rewrites: dict | None = None
    ) -> DataFrame:
        canonical = canonicalizer(rewrites)
        return map_rows(
            loaded, source_name,
            linked_art_row(lambda doc: transform(doc, canonical), namespace),
        )

    return map_records


map_ashmol = _map_records(ashmol_transform, "ashmol")
map_arches = _map_records(arches_transform, "arches")
map_ipch = _map_records(ipch_transform, "ipch")
map_pmc = _map_records(pmc_transform, "pmc")
map_ypm = _map_records(ypm_transform, "ypm")
map_yuag = _map_records(yuag_transform, "yuag")

CONFIGS = [
    {"name": "ashmol", "type": "internal",
     "mapper": f"{__name__}:map_ashmol", "merge_order": 17},
    {"name": "arches", "type": "internal",
     "mapper": f"{__name__}:map_arches", "merge_order": 18},
    {"name": "ipch", "type": "internal",
     "mapper": f"{__name__}:map_ipch", "merge_order": 19},
    {"name": "pmc", "type": "internal",
     "mapper": f"{__name__}:map_pmc", "merge_order": 20},
    {"name": "ypm", "type": "internal",
     "mapper": f"{__name__}:map_ypm", "merge_order": 21},
    {"name": "yuag", "type": "internal",
     "mapper": f"{__name__}:map_yuag", "merge_order": 22},
]
