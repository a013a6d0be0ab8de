"""Getty vocabulary mappers — AAT, ULAN, TGN (U1 breadth #27-29).

Restates sources/authorities/getty/mapper.py:1-559 in /root/reference.
Getty records are already Linked-Art-ish JSON with scalar-or-list
properties and metatype lookups, so the transform runs Arrow-batched
(the nomisma/bne boundary).  The S4 feed prefilter for this family
lives in sources/getty.py; these are the record mappers.

Shared base (GettyMapper):

- **names** (process_getty_name): the Getty term-type classification
  table routes Descriptor/aat primaryName -> PrimaryName,
  AlternateDescriptor/historic/localUse/449151 -> AlternateName,
  aat 300404650 -> plain Name; names in languages outside the process
  set are dropped entirely; the first English PrimaryName is the label,
  else the first name.  (The reference sets an ``ignore`` flag for
  UsedForTerm classifications and never reads it — mapper.py:52-62 —
  so those names fall through as plain Names; kept.)
- **statements** (process_getty_statement): aat-coded classification ->
  statement kind via the brief-text table (the reference derives most
  of it from its vocab instances; the table here lists the codes that
  derivation yields), 300418049 ignored, unknown codes -> plain Note.
- **timestamps** (fix_getty_timestamp): short values re-derived through
  F1 (begin or end side by property name), 24:00:00 -> 23:59:59, end
  props' midnights promoted, the 1200-01-01 sentinel and future years
  dropped.
- **events** (do_common_event): four-bound timespans through the
  timestamp fixer; took_place_at ids with the ``-place`` suffix strip.
- **coords**: crm:E47_Spatial_Coordinates "[lng, lat]" -> POINT on
  Places.

AAT: language/material/unit detection via optional id sets + the
type-list / broader-id / label-suffix fallbacks; part_of+broader ->
broader for type-ish classes; the P5 veto — AAT records never merge
into non-Type-ish bases.  ULAN: the ``-agent`` identifier fix,
metatype-flagged classifications (nationality/gender/occupation/role),
born/formed and died/dissolved events, Active carried_out, the F5
lifespan clear.  TGN: everything is a Place; the accepted place-type
classifications; part_of for the one broader entry classified as the
preferred parent (aat 300449152), else all broader entries as broader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .loaders import as_list, loads_object, map_rows, name_dict

AAT = "http://vocab.getty.edu/aat/"

NAME_CLASSIFICATIONS = {
    "http://vocab.getty.edu/term/type/Descriptor": "primaryName",
    AAT + "300404670": "primaryName",
    "http://vocab.getty.edu/term/type/AlternateDescriptor": "alternateName",
    AAT + "300404650": "name",
    "http://vocab.getty.edu/historic/localUse": "alternateName",
    "http://vocab.getty.edu/historic/historic": "alternateName",
    AAT + "300449151": "alternateName",
}

# brief-text statement codes (the reference's vocab-derived set plus its
# two explicit additions, mapper.py:26-32)
STATEMENTS = {
    "300080102": "biography",
    "300435416": "description",
    "300435422": "physical description",
    "300435098": "dimensions statement",
    "300435429": "material statement",
    "300026687": "acknowledgments",
    "300055547": "legal concept",
    "300435507": "access statement",
}
IGNORE_STATEMENTS = {"300418049"}

IGNORE_VALUES = {AAT + "300379012", AAT + "300400512"}  # undetermined/unavailable
GENDER_FLAG = AAT + "300055147"
NATIONALITY_FLAG = AAT + "300379842"
OCCUPATION_FLAG = AAT + "300263369"
ACTIVE_FLAG = AAT + "300393177"
ROLE_FLAG = AAT + "300435108"

ULAN_ACCEPT = {AAT + "300386154"}
TGN_ACCEPT = {
    AAT + c for c in (
        "300000771", "300387506", "300008372", "300000774", "300000776",
        "300008389", "300000745", "300008694", "300008375", "300008057",
        "300008791", "300387218",
    )
}
TGN_PREFERRED_PARENT = AAT + "300449152"

PROCESS_LANGS = [
    "en", "fr", "de", "es", "it", "nl", "pt", "zh", "ja", "ru", "ar",
    "el", "he", "hi", "ko", "pl", "sv", "da", "no", "fi", "cs", "tr",
]

TYPEISH = ["Type", "Material", "Language", "Currency", "MeasurementUnit"]


def _lang_of(js) -> tuple[str | None, bool]:
    """(two-letter code or None, drop?) from a name/statement language."""
    langs = as_list(js.get("language"))
    if not langs:
        return None, False
    lang = langs[0].get("_label") if isinstance(langs[0], dict) else None
    if isinstance(lang, list):
        for l in lang:
            if len(l) < 4:
                lang = l
                break
    if not isinstance(lang, str):
        return None, False
    ll = lang[:2] if len(lang) > 2 else lang
    if ll in PROCESS_LANGS:
        return ll, False
    return None, True  # unmapped language: drop the name


def process_getty_name(js: dict) -> dict | None:
    if "content" not in js:
        return None
    cls = "name"
    for c in as_list(js.get("classified_as")):
        cid = c.get("id", "") if isinstance(c, dict) else ""
        if cid in NAME_CLASSIFICATIONS:
            cls = NAME_CLASSIFICATIONS[cid]
    ll, drop = _lang_of(js)
    if drop:
        return None
    return {**name_dict(js["content"], cls, ll), "_cls": cls}


def process_getty_statement(js: dict) -> dict | None:
    if "content" not in js:
        return None
    content = js["content"]
    if isinstance(content, list):
        content = content[0]
    role = None
    for cx in as_list(js.get("classified_as")):
        cxid = cx if isinstance(cx, str) else cx.get("id", "")
        if "/aat/" in cxid:
            code = cxid.rsplit("/", 1)[1]
            if code in STATEMENTS:
                role = STATEMENTS[code]
                break
            if code in IGNORE_STATEMENTS:
                continue
    st = {"type": "LinguisticObject", "content": content,
          "role": role or "note"}
    ll, _ = _lang_of(js)
    if ll:
        st["language"] = ll
    return st


def fix_getty_timestamp(value: str, which: str, parse_datetime) -> str:
    if len(value) < 19:
        parsed = parse_datetime(value)
        if parsed is None:
            return ""
        value = parsed[1] if which.startswith("end_") else parsed[0]
        if value is None:
            return ""
    value = value.replace("24:00:00", "23:59:59")
    if which.startswith("end_"):
        value = value.replace("00:00:00", "23:59:59")
    if value.startswith("1200-01-01T"):
        return ""
    if value[0] != "-" and value[:4].isnumeric() and int(value[:4]) > 2025:
        return ""
    return value


def do_common(rec: dict, out: dict, parse_datetime) -> bool:
    names, coords_wkt, label = [], None, None
    for i in as_list(rec.get("identified_by")):
        if not isinstance(i, dict):
            continue
        if i.get("type") == "Name":
            nm = process_getty_name(i)
            if nm:
                cls = nm.pop("_cls")
                names.append(nm)
                if (label is None and cls == "primaryName"
                        and nm.get("language") == "en"):
                    label = nm["content"]
        elif i.get("type") == "crm:E47_Spatial_Coordinates":
            if out["type"] == "Place":
                coords = str(i.get("value", i.get("content", ""))).strip()
                coords = coords.removeprefix("[").removesuffix("]")
                if "," in coords:
                    lng, lat = coords.split(",", 1)
                    coords_wkt = f"POINT ( {lng.strip()} {lat.strip()} )"
    if not names:
        return False
    out["identified_by"] = names
    out["_label"] = label if label is not None else names[0]["content"]
    if coords_wkt:
        out["defined_by"] = coords_wkt

    stmts = []
    for st in as_list(rec.get("referred_to_by")) + as_list(rec.get("subject_of")):
        if isinstance(st, dict):
            new = process_getty_statement(st)
            if new:
                stmts.append(new)
    if stmts:
        out["referred_to_by"] = stmts
    return True


def do_common_event(data: dict, parse_datetime) -> dict:
    ev = {}
    tsd = data.get("timespan")
    if isinstance(tsd, dict):
        ts = {}
        for p in ("begin_of_the_begin", "begin_of_the_end",
                  "end_of_the_begin", "end_of_the_end"):
            if p in tsd:
                val = fix_getty_timestamp(str(tsd[p]), p, parse_datetime)
                if val:
                    ts[p] = val
        ev["timespan"] = ts
    places = []
    for place in as_list(data.get("took_place_at")):
        if isinstance(place, str):
            place = {"id": place}
        pid = place.get("id", "")
        if not pid:
            continue
        places.append({
            "id": pid.replace("-place", ""), "type": "Place",
            "_label": place.get("_label", ""),
        })
    if places:
        ev["took_place_at"] = places
    return ev


# ---------------------------------------------------------------- AAT
def aat_guess_type(
    rec: dict,
    language_ids=frozenset(), material_ids=frozenset(), unit_ids=frozenset(),
) -> str:
    rid = rec.get("id", "")
    if rid in language_ids:
        return "Language"
    if rid in material_ids:
        return "Material"
    if rid in unit_ids:
        return "MeasurementUnit"
    typ = rec.get("type")
    if isinstance(typ, list):
        if "Language" in typ:
            return "Language"
        if "Material" in typ:
            return "Material"
        return "Type"
    if typ == "Type":
        pof = as_list(rec.get("part_of")) or as_list(rec.get("broader"))
        for p in pof:
            pid = p.get("id", "") if isinstance(p, dict) else ""
            if pid == AAT + "300411913":
                return "Language"
            if pid == AAT + "300411993":
                return "Currency"
        lbl = rec.get("_label", "")
        if isinstance(lbl, list):
            lbl = lbl[0] if lbl else ""
        if isinstance(lbl, str):
            if lbl.endswith("language)"):
                return "Language"
            if lbl.endswith("material)"):
                return "Material"
            if lbl.endswith((" of money)", "currency)")):
                return "Currency"
    elif isinstance(typ, str) and typ:
        return typ
    return "Type"


def _broaders(rec: dict, rectype: str) -> list:
    out = []
    for br in as_list(rec.get("part_of")) + as_list(rec.get("broader")):
        if isinstance(br, str):
            br = {"id": br, "_label": ""}
        lbl = br.get("_label", "")
        if isinstance(lbl, dict):
            lbl = lbl.get("@value", "")
        if br.get("id"):
            out.append({"id": br["id"], "type": rectype, "_label": lbl})
    return out


def transform_aat(rec: dict, parse_datetime, namespace="http://vocab.getty.edu/aat/"):
    if not rec.get("id"):
        return None
    myid = namespace + rec["id"].rsplit("/", 1)[1]
    rectype = aat_guess_type(rec)
    out = {"id": myid, "type": rectype}
    if not do_common(rec, out, parse_datetime):
        return None
    if rectype in TYPEISH:
        refs = _broaders(rec, rectype)
        if refs:
            out["broader"] = refs
    return out


def aat_should_merge_from(base_doc, cand_doc, base_src="", cand_src="") -> bool:
    """P5 (mapper.py:247-251): AAT records never merge into a base that
    is not a Type-ish record."""
    return base_doc.get("type") in TYPEISH


# ---------------------------------------------------------------- ULAN
def ulan_fix_identifier(identifier: str) -> str:
    return identifier.replace("-agent", "")


def transform_ulan(rec: dict, parse_datetime, namespace="http://vocab.getty.edu/ulan/"):
    if not rec.get("id"):
        return None
    rectype = rec.get("type")
    if rectype not in ("Person", "Group"):
        return None
    myid = namespace + rec["id"].rsplit("/", 1)[1]
    out = {"id": myid, "type": rectype}
    if not do_common(rec, out, parse_datetime):
        return None

    classes = []
    for cx in as_list(rec.get("classified_as")):
        if not isinstance(cx, dict):
            continue
        cxid = cx.get("id", "")
        lbl = cx.get("_label", "")
        if not cxid or cxid in IGNORE_VALUES:
            continue
        if cxid in ULAN_ACCEPT:
            classes.append({"id": cxid, "type": "Type", "_label": lbl})
            continue
        for cx2 in as_list(cx.get("classified_as")):
            cx2id = cx2.get("id", "") if isinstance(cx2, dict) else ""
            if cx2id == NATIONALITY_FLAG:
                classes.append({"id": cxid, "type": "Type", "_label": lbl,
                                "role": "nationality"})
                break
            if cx2id == GENDER_FLAG:
                classes.append({"id": cxid, "type": "Type", "_label": lbl,
                                "role": "gender"})
                break
            if cx2id in (OCCUPATION_FLAG, ROLE_FLAG):
                classes.append({"id": cxid, "type": "Type", "_label": lbl,
                                "role": "occupation"})
    if classes:
        out["classified_as"] = classes

    born = rec.get("born") or rec.get("formed_by")
    if isinstance(born, dict):
        key = "born" if rectype == "Person" else "formed_by"
        out[key] = do_common_event(born, parse_datetime)
    died = rec.get("died") or rec.get("dissolved_by")
    if isinstance(died, dict):
        key = "died" if rectype == "Person" else "dissolved_by"
        out[key] = do_common_event(died, parse_datetime)

    if rectype == "Person":  # F5
        b = out.get("born", {}).get("timespan", {}).get("begin_of_the_begin")
        e = out.get("died", {}).get("timespan", {}).get("end_of_the_end")
        if b and e:
            pb, pe = parse_datetime(b), parse_datetime(e)
            if pb and pe and (
                pe[3] < pb[2] or (pe[3] - pb[2]) > 122 * 365.25 * 86400
            ):
                out.pop("born", None)
                out.pop("died", None)

    actives = []
    for act in as_list(rec.get("carried_out")):
        if not isinstance(act, dict):
            continue
        cxnids = [x.get("id") for x in as_list(act.get("classified_as"))
                  if isinstance(x, dict)]
        if ACTIVE_FLAG in cxnids:
            actives.append(do_common_event(act, parse_datetime))
    if actives:
        out["carried_out"] = actives
    return out


# ---------------------------------------------------------------- TGN
def transform_tgn(rec: dict, parse_datetime, namespace="http://vocab.getty.edu/tgn/"):
    if not rec.get("id"):
        return None
    myid = namespace + rec["id"].rsplit("/", 1)[1]
    out = {"id": myid, "type": "Place"}
    if not do_common(rec, out, parse_datetime):
        return None

    classes = [
        {"id": cx["id"], "type": "Type", "_label": cx.get("_label", "")}
        for cx in as_list(rec.get("classified_as"))
        if isinstance(cx, dict) and cx.get("id")
        and cx["id"] not in IGNORE_VALUES and cx["id"] in TGN_ACCEPT
    ]
    if classes:
        out["classified_as"] = classes

    brdrs = []
    for br in as_list(rec.get("part_of")) + as_list(rec.get("broader")):
        if isinstance(br, str):
            br = {"id": br, "_label": ""}
        brdrs.append(br)
    preferred = None
    for br in brdrs:
        for c in as_list(br.get("classified_as")):
            if isinstance(c, dict) and c.get("id") == TGN_PREFERRED_PARENT:
                preferred = br
                break
        if preferred:
            break
    if preferred is not None:
        lbl = preferred.get("_label", "")
        if isinstance(lbl, dict):
            lbl = lbl.get("@value", "")
        out["part_of"] = [{"id": preferred["id"], "type": "Place",
                           "_label": lbl}]
    elif brdrs:
        out["broader"] = [
            {"id": br["id"], "type": "Place",
             "_label": (br.get("_label", {}) or {}).get("@value", "")
             if isinstance(br.get("_label"), dict) else br.get("_label", "")}
            for br in brdrs if br.get("id")
        ]
    return out


# ------------------------------------------------------------- plumbing
_TRANSFORMS = {"aat": transform_aat, "ulan": transform_ulan, "tgn": transform_tgn}


def _map_records(which: str):
    def map_records(loaded: DataFrame, source_name: str | None = None) -> DataFrame:
        from ..functions.dates import parse_datetime

        transform = _TRANSFORMS[which]

        def row(ident, rt, val):
            doc = loads_object(val)
            if doc is None:
                return None
            if which == "ulan":
                ident = ulan_fix_identifier(ident)
            mapped = transform(doc, parse_datetime)
            return None if mapped is None else (ident, rt, mapped)

        return map_rows(loaded, source_name or which, row)

    return map_records


map_aat = _map_records("aat")
map_ulan = _map_records("ulan")
map_tgn = _map_records("tgn")

CONFIGS = [
    {"name": "aat", "mapper": f"{__name__}:map_aat",
     "should_merge_from": f"{__name__}:aat_should_merge_from",
     "merge_order": 27},
    {"name": "ulan", "mapper": f"{__name__}:map_ulan", "merge_order": 28},
    {"name": "tgn", "mapper": f"{__name__}:map_tgn", "merge_order": 29},
]
