"""FAST (OCLC) MARC-XML authority source (U1 breadth #26).

Restates sources/authorities/fast/mapper.py:1-717 in /root/reference.
MARC datafield/subfield extraction with per-class processors is a
per-record walk with heavy zip/dedup logic, so the transform runs
Arrow-batched over stdlib ElementTree (the nomisma/bne boundary).

Kept semantics:

- **type** (guess_type): first matching datafield tag of 148/448 ->
  Period, 100 -> Person, 150/155 -> Type, 151 -> Place, 110 -> Group,
  411/147 -> Activity; none -> dropped.
- **agents** (process_agent): 373/510 memberships (URIs preferred,
  name reconciliation otherwise), 374/368 classifications, 370/551
  residences, 372 professional activities with timespans, 500 notes,
  700/710 equivalents, 046 (fallback 100|d / 400|d ranges) birth/death
  or formation/dissolution, the F5 lifespan clear.
- **equivalent normalization** (process_equivalents): wikipedia ->
  wikidata QID (via the injectable qid resolver), (DLC) -> LCSH,
  (OCoLC)fst -> the FAST URI, first-seen dedupe.
- **persons**: the 100/400/700/378/450/410 name pool (set semantics),
  370 birth/death places, 375 gender (wikidata/LCSH URI or
  male/female literals).
- **groups**: 110/410/710/411 names with |a+|b subunit joining.
- **types**: 750/710/751 equivalents + the 755 genreForm namespace;
  550/555 FAST broaders; 680|i scope notes.  The reference's name
  block reads variables it never defines (mapper.py:440-452,
  df150_data et al. — a NameError at runtime); the evident intent —
  150|a(+|x), 450|a, 155|a, 455|a — is what this port implements.
- **places**: 751/370 equivalents (the reference's ``set.update(uri)``
  adds the URI's CHARACTERS, mapper.py:489 — implemented as add),
  151|a(+|z) and 751/410 names, 670|b DMS coordinates -> POINT,
  550/368 classifications.
- **periods**: 448|a names, 148|a (range) timespans.
- **activities**: 147/111/410/411/447 names, 551/370 places, 046|s/|t
  then 748|a timespans, 547 part_of (first-value reading of the
  reference's list-typed variables), 550/368 classifications,
  711/751/750 equivalents.

``reconcile(name, rectype) -> uri | None`` stands in for the
reference's cross-source reconciler lookups (build_recs_and_reconcile);
omitted, those fields are skipped exactly as a miss behaves.
``wikipedia_qid(url) -> qid | None`` likewise replaces the
get_wikidata_qid network call.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .loaders import load_doc_lines, map_rows, name_dict

MARC_NS = "{http://www.loc.gov/MARC21/slim}"
MALE = "http://vocab.getty.edu/aat/300189559"
FEMALE = "http://vocab.getty.edu/aat/300189557"

NAME_TYPE_MAP = {
    "148": "Period", "448": "Period", "100": "Person", "150": "Type",
    "155": "Type", "151": "Place", "110": "Group", "411": "Activity",
    "147": "Activity",
}

_DMS_RE = re.compile(r"(\d+)°(\d+)[ʹ'](\d+)[ʺ\"]?([NSEW])")


def fast_id_to_uri(fast_id: str) -> str:
    numeric = fast_id.replace("(OCoLC)fst", "").lstrip("0")
    return f"http://id.worldcat.org/fast/{numeric}"


def dms_to_wkt(dms_string: str) -> str | None:
    """'52°22ʹ51ʺN 004°38ʹ13ʺE' -> 'POINT(4.637... 52.380...)'
    (mapper.py:76-93, including its no-space POINT formatting)."""
    def dd(m):
        deg, mi, se, d = m.groups()
        v = float(deg) + float(mi) / 60 + float(se) / 3600
        return -v if d in ("S", "W") else v

    parts = dms_string.split()
    if len(parts) != 2:
        return None
    m0, m1 = _DMS_RE.match(parts[0]), _DMS_RE.match(parts[1])
    if not m0 or not m1:
        return None
    return f"POINT({dd(m1)} {dd(m0)})"


def extract_datafields(root, tag: str, subfields) -> dict:
    data: dict[str, list] = {}
    for field in root.iter(MARC_NS + "datafield"):
        if field.get("tag") != tag:
            continue
        for sf in field.iter(MARC_NS + "subfield"):
            code = sf.get("code")
            if code in subfields and sf.text is not None:
                data.setdefault(code, []).append(sf.text.rstrip(","))
    return data


def _combine(*fields) -> str:
    return ", ".join(filter(None, fields))


def _assign_names(out: dict, names) -> bool:
    got = False
    for name in names:
        if not name:
            continue
        cls = "alternateName" if got else "primaryName"
        out.setdefault("identified_by", []).append(name_dict(name, cls))
        got = True
    return got


class _Ctx:
    def __init__(self, parse_datetime, reconcile, wikipedia_qid):
        self.parse_datetime = parse_datetime
        self.reconcile = reconcile or (lambda name, rectype: None)
        self.wikipedia_qid = wikipedia_qid or (lambda url: None)

    def build_timespan(self, start=None, end=None):
        b = self.parse_datetime(start) if start else None
        d = self.parse_datetime(end) if end else None
        if not b and not d:
            return None
        ts = {}
        if b:
            ts["begin_of_the_begin"] = b[0]
            ts["end_of_the_begin"] = b[1]
        if d:
            ts["begin_of_the_end"] = d[0]
            ts["end_of_the_end"] = d[1]
        return ts

    def equivalents(self, out: dict, uris, rectype: str) -> None:
        seen = set()
        for uri in uris:
            if not uri:
                continue
            if "wikipedia.org" in uri:
                qid = self.wikipedia_qid(uri)
                if not qid:
                    continue
                uri = f"http://www.wikidata.org/entity/{qid}"
            elif uri.startswith("(DLC)"):
                uri = ("http://id.loc.gov/authorities/subjects/"
                       + uri.replace("(DLC)", "").replace(" ", "").strip())
            elif uri.startswith("(OCoLC)fst"):
                uri = fast_id_to_uri(uri)
            if uri not in seen:
                seen.add(uri)
                out.setdefault("equivalent", []).append(
                    {"id": uri, "type": rectype})

    def classifications(self, out: dict, uris) -> None:
        for uri in uris:
            if uri:
                out.setdefault("classified_as", []).append(
                    {"id": uri, "type": "Type"})


def _process_agent(root, out: dict, rectype: str, ctx: _Ctx) -> None:
    membership = set()
    aff = extract_datafields(root, "373", ["a", "0"])
    if any(aff.get("0", [])):
        membership.update(
            u for u in aff["0"] if u and u.startswith("http://id.loc.gov/"))
    else:
        for name in aff.get("a", []):
            uri = ctx.reconcile(name.lower(), "group") if name else None
            if uri:
                membership.add(uri)
    rel = extract_datafields(root, "510", ["a", "0"])
    if any(rel.get("0", [])):
        membership.update(
            fast_id_to_uri(u) for u in rel["0"]
            if u and u.startswith("(OCoLC)fst"))
    else:
        for name in rel.get("a", []):
            uri = ctx.reconcile(name.lower(), "group") if name else None
            if uri:
                membership.add(uri)
    if membership:
        out["member_of"] = [
            {"id": m, "type": "Group"} for m in sorted(membership)]

    df374 = extract_datafields(root, "374", ["a", "0"])
    df368 = extract_datafields(root, "368", ["a"])
    cxns = set()
    cxns.update(df374.get("a", []), df374.get("0", []), df368.get("a", []))
    ctx.classifications(out, sorted(cxns))

    locs = extract_datafields(root, "370", ["c", "e"])
    residences = []
    if locs.get("c") or locs.get("e"):
        for assoc, res in zip(locs.get("c", [""]), locs.get("e", [""])):
            label = res or assoc
            uri = ctx.reconcile(label.lower(), "place") if label else None
            if uri:
                residences.append({"id": uri, "type": "Place", "_label": label})
    else:
        for place in extract_datafields(root, "551", ["a"]).get("a", []):
            uri = ctx.reconcile(place.lower(), "place") if place else None
            if uri:
                residences.append({"id": uri, "type": "Place", "_label": place})
    if residences:
        out["residence"] = residences

    acts = extract_datafields(root, "372", ["a", "s", "t"])
    activities = []
    for i, field in enumerate(acts.get("a", [])):
        if not field:
            continue
        uri = ctx.reconcile(field.lower(), "type")
        if not uri:
            continue
        act = {"type": "Activity",
               "classified_as": [{"id": uri, "type": "Type", "_label": field}]}
        starts, ends = acts.get("s", []), acts.get("t", [])
        ts = ctx.build_timespan(
            starts[i] if i < len(starts) else None,
            ends[i] if i < len(ends) else None,
        )
        if ts:
            act["timespan"] = ts
        activities.append(act)
    if activities:
        out["carried_out"] = activities

    df500 = extract_datafields(root, "500", ["a", "i"])
    for sub_i, sub_a in zip(df500.get("i", [""]), df500.get("a", [""])):
        note = " ".join(filter(None, [sub_i, sub_a]))
        if note:
            out.setdefault("referred_to_by", []).append(
                {"type": "LinguisticObject", "content": note})

    df700 = extract_datafields(root, "700", ["0", "1"])
    df710 = extract_datafields(root, "710", ["0", "1"])
    ctx.equivalents(
        out,
        df700.get("0", []) + df710.get("0", [])
        + df700.get("1", []) + df710.get("1", []),
        rectype,
    )

    df046 = extract_datafields(root, "046", ["f", "g"])
    begin_ts = ctx.build_timespan((df046.get("f") or [""])[0] or None)
    end_ts = ctx.build_timespan((df046.get("g") or [""])[0] or None)
    if not begin_ts or not end_ts:
        for field_data in (
            extract_datafields(root, "100", ["d"]).get("d", []),
            extract_datafields(root, "400", ["d"]).get("d", []),
        ):
            for date_str in field_data:
                if date_str and "-" in date_str:
                    start, end = date_str.split("-", 1)
                    begin_ts = begin_ts or ctx.build_timespan(start.strip())
                    end_ts = end_ts or ctx.build_timespan(end.strip())
                    if begin_ts and end_ts:
                        break
            if begin_ts and end_ts:
                break
    if begin_ts:
        out["born" if rectype == "Person" else "formed_by"] = {
            "timespan": begin_ts}
    if end_ts:
        out["died" if rectype == "Person" else "dissolved_by"] = {
            "timespan": end_ts}

    if rectype == "Person":  # F5
        b = out.get("born", {}).get("timespan", {}).get("begin_of_the_begin")
        e = out.get("died", {}).get("timespan", {}).get("end_of_the_end")
        if b and e:
            pb = ctx.parse_datetime(b)
            pe = ctx.parse_datetime(e)
            if pb and pe and (
                pe[3] < pb[2] or (pe[3] - pb[2]) > 122 * 365.25 * 86400
            ):
                out.pop("born", None)
                out.pop("died", None)


def _process_person(root, out: dict, ctx: _Ctx) -> bool:
    _process_agent(root, out, "Person", ctx)
    names = set()
    for tag, codes in (("100", ["a"]), ("400", ["a", "q"]), ("700", ["a"]),
                       ("378", ["a", "q"]), ("450", ["a"]), ("410", ["a"])):
        data = extract_datafields(root, tag, codes)
        for c in codes:
            names.update(data.get(c, []))
    if not _assign_names(out, sorted(names)):
        return False

    df370 = extract_datafields(root, "370", ["a", "b"])
    bp = next(iter(df370.get("a", [])), None)
    dp = next(iter(df370.get("b", [])), None)
    if bp:
        uri = ctx.reconcile(bp.lower(), "place")
        if uri:
            out.setdefault("born", {})["took_place_at"] = [
                {"id": uri, "type": "Place", "_label": bp}]
    if dp:
        uri = ctx.reconcile(dp.lower(), "place")
        if uri:
            out.setdefault("died", {})["took_place_at"] = [
                {"id": uri, "type": "Place", "_label": dp}]

    df375 = extract_datafields(root, "375", ["a", "0"])
    gender = None
    for uri in df375.get("0", [""]):
        if "wikidata" in uri or uri == (
            "http://id.loc.gov/authorities/subjects/sh2007005819"
        ):
            gender = {"id": uri, "type": "Type", "role": "gender"}
            break
    for gen in df375.get("a", [""]):
        if gen.lower() in ("male", "males"):
            gender = {"id": MALE, "type": "Type", "_label": "male",
                      "role": "gender"}
            break
        if gen.lower() in ("female", "females"):
            gender = {"id": FEMALE, "type": "Type", "_label": "female",
                      "role": "gender"}
            break
    if gender:
        out.setdefault("classified_as", []).append(gender)
    return True


def _process_group(root, out: dict, ctx: _Ctx) -> bool:
    _process_agent(root, out, "Group", ctx)
    names = set()
    for tag in ("110", "410", "710", "411"):
        data = extract_datafields(root, tag, ["a", "b"])
        for a, b in zip(data.get("a", [""]), data.get("b", [""]) or [""]):
            name = _combine(a, b)
            if name:
                names.add(name)
        for a in data.get("a", [])[len(data.get("b", [])):]:
            if a:
                names.add(a)
    return _assign_names(out, sorted(names))


def _process_type(root, out: dict, ctx: _Ctx) -> bool:
    uris = []
    for tag, code in (("750", "0"), ("710", "0"), ("751", "0"), ("750", "1")):
        uris += extract_datafields(root, tag, [code]).get(code, [])
    ctx.equivalents(out, uris, "Type")
    for uri in extract_datafields(root, "755", ["0"]).get("0", []):
        if uri and uri.startswith("(DLC)"):
            clean = uri.replace("(DLC)", "").replace(" ", "").strip()
            out.setdefault("equivalent", []).append({
                "id": "http://id.loc.gov/authorities/genreForms/" + clean,
                "type": "Type",
            })

    # the reference's name block reads undefined variables here
    # (mapper.py:440-452); the evident intent:
    names = set()
    df150 = extract_datafields(root, "150", ["a", "x"])
    for a, x in zip(df150.get("a", [""]), df150.get("x", [""]) or [""]):
        name = _combine(a, x)
        if name:
            names.add(name)
    for a in df150.get("a", [])[len(df150.get("x", [])):]:
        if a:
            names.add(a)
    for tag in ("450", "155", "455"):
        names.update(
            n for n in extract_datafields(root, tag, ["a"]).get("a", []) if n)
    if not _assign_names(out, sorted(names)):
        return False

    for tag, (name_code, id_code) in (("550", ("g", "0")), ("555", ("a", "0"))):
        data = extract_datafields(root, tag, [name_code, id_code])
        for brdr, brid in zip(data.get(name_code, []), data.get(id_code, [])):
            if brdr and brid and brid.startswith("(OCoLC)fst"):
                out.setdefault("broader", []).append({
                    "id": fast_id_to_uri(brid), "type": "Type", "_label": brdr})

    for note in extract_datafields(root, "680", ["i"]).get("i", []):
        if note:
            out.setdefault("referred_to_by", []).append(
                {"type": "LinguisticObject", "content": note})
    return True


def _process_place(root, out: dict, ctx: _Ctx) -> bool:
    df751 = extract_datafields(root, "751", ["0", "a"])
    df370 = extract_datafields(root, "370", ["c", "e", "f", "0"])
    uris = set(df751.get("0", []))
    uris.update(
        u for u in df370.get("0", [])
        if u.startswith("http://id.loc.gov/authorities/"))
    for code in ("c", "e", "f"):
        for place in df370.get(code, []):
            uri = ctx.reconcile(place.lower(), "place") if place else None
            if uri:
                uris.add(uri)  # the reference's update(uri) adds characters
    ctx.equivalents(out, sorted(uris), "Place")

    df151 = extract_datafields(root, "151", ["a", "z"])
    names = set()
    for a in df151.get("a", []):
        for z in df151.get("z", []):
            name = _combine(a, z)
            if name:
                names.add(name)
        if not df151.get("z") and a:
            names.add(a)
    for df in (df751, extract_datafields(root, "410", ["a"])):
        names.update(a for a in df.get("a", []) if a)
    if not _assign_names(out, sorted(names)):
        return False

    for point in extract_datafields(root, "670", ["b"]).get("b", []):
        if ";" in point:
            point = point.split(";")[1]
        wkt = dms_to_wkt(point.strip())
        if wkt:
            out["defined_by"] = wkt

    df550 = extract_datafields(root, "550", ["a", "0"])
    cxns = set()
    for name, raw in zip(df550.get("a", []), df550.get("0", [])):
        if raw and raw.startswith("(OCoLC)fst"):
            cxns.add(fast_id_to_uri(raw))
        elif raw:
            cxns.add(raw)
        elif name:
            uri = ctx.reconcile(name.lower(), "type")
            if uri:
                cxns.add(uri)
    for name in extract_datafields(root, "368", ["a"]).get("a", []):
        uri = ctx.reconcile(name.lower(), "type") if name else None
        if uri:
            cxns.add(uri)
    ctx.classifications(out, sorted(cxns))
    return True


def _process_period(root, out: dict, ctx: _Ctx) -> bool:
    names = {n for n in extract_datafields(root, "448", ["a"]).get("a", []) if n}
    if not _assign_names(out, sorted(names)):
        return False
    for val in extract_datafields(root, "148", ["a"]).get("a", []):
        val = val.strip()
        if "-" in val:
            start, end = val.split("-", 1)
            ts = ctx.build_timespan(start.strip(), end.strip())
        else:
            ts = ctx.build_timespan(val)
        if ts:
            out["timespan"] = ts
            break
    return True


def _process_activity(root, out: dict, ctx: _Ctx) -> bool:
    names = set()
    df147 = extract_datafields(root, "147", ["a", "d"])
    for a, d in zip(df147.get("a", [""]), df147.get("d", [""]) or [""]):
        name = _combine(a, d)
        if name:
            names.add(name)
    df111 = extract_datafields(root, "111", ["a", "n", "d"])
    for a, n, d in zip(df111.get("a", [""]), df111.get("n", [""]) or [""],
                       df111.get("d", [""]) or [""]):
        name = _combine(a, n, d)
        if name:
            names.add(name)
    df410 = extract_datafields(root, "410", ["a", "b"])
    for a in df410.get("a", []):
        name = _combine(a, *df410.get("b", []))
        if name:
            names.add(name)
    names.update(
        a for a in extract_datafields(root, "411", ["a"]).get("a", []) if a)
    df447 = extract_datafields(root, "447", ["a", "d"])
    for a, d in zip(df447.get("a", [""]), df447.get("d", [""]) or [""]):
        name = _combine(a, d)
        if name:
            names.add(name)
    if not _assign_names(out, sorted(names)):
        return False

    df551 = extract_datafields(root, "551", ["a", "0"])
    df370 = extract_datafields(root, "370", ["c", "e", "f"])
    places = []
    for code in ("c", "e", "f"):
        for place in df370.get(code, []):
            uri = ctx.reconcile(place.lower(), "place") if place else None
            if uri:
                places.append({"id": uri, "type": "Place", "_label": place})
    for uri, place in zip(df551.get("0", []), df551.get("a", [])):
        if uri and uri.startswith("(OCoLC)fst"):
            places.append({"id": fast_id_to_uri(uri), "type": "Place"})
        elif place:
            rid = ctx.reconcile(place.lower(), "place")
            if rid:
                places.append({"id": rid, "type": "Place", "_label": place})
    if places:
        out["took_place_at"] = places

    df046 = extract_datafields(root, "046", ["s", "t"])
    ts_set = False
    for start, end in zip(df046.get("s", []), df046.get("t", [])):
        ts = ctx.build_timespan(start, end)
        if ts:
            out["timespan"] = ts
            ts_set = True
            break
    if not ts_set:
        for date in extract_datafields(root, "748", ["a"]).get("a", []):
            if not date:
                continue
            if "-" in date:
                start, end = date.split("-", 1)
                ts = ctx.build_timespan(start.strip(), end.strip())
            else:
                ts = ctx.build_timespan(date.strip())
            if ts:
                out["timespan"] = ts
                break

    # 547 part_of: first-value reading of the reference's list-typed
    # variables (its own .join/.startswith on lists would raise)
    df547 = extract_datafields(root, "547", ["a", "c", "d", "0"])
    uri = next(iter(df547.get("0", [])), None)
    if uri and uri.startswith("(OCoLC)fst"):
        name = _combine(
            next(iter(df547.get("a", [])), None),
            next(iter(df547.get("c", [])), None),
            next(iter(df547.get("d", [])), None),
        )
        out["part_of"] = [{
            "id": fast_id_to_uri(uri), "type": "Activity", "_label": name}]

    df550 = extract_datafields(root, "550", ["a", "0"])
    cxns = set()
    for name, raw in zip(df550.get("a", []), df550.get("0", [])):
        if raw and raw.startswith("(OCoLC)fst"):
            cxns.add(fast_id_to_uri(raw))
        elif raw:
            cxns.add(raw)
        elif name:
            uri = ctx.reconcile(name.lower(), "activity")
            if uri:
                cxns.add(uri)
    for name in extract_datafields(root, "368", ["a"]).get("a", []):
        uri = ctx.reconcile(name.lower(), "activity") if name else None
        if uri:
            cxns.add(uri)
    ctx.classifications(out, sorted(cxns))

    uris = set()
    df711 = extract_datafields(root, "711", ["0", "1"])
    uris.update(extract_datafields(root, "751", ["0"]).get("0", []))
    uris.update(df711.get("0", []))
    uris.update(df711.get("1", []))
    uris.update(extract_datafields(root, "750", ["1"]).get("1", []))
    ctx.equivalents(out, sorted(uris), "Activity")
    return True


_PROCESSORS = {
    "Person": _process_person, "Group": _process_group, "Type": _process_type,
    "Place": _process_place, "Period": _process_period,
    "Activity": _process_activity,
}


def guess_type(root) -> str | None:
    tags = {f.get("tag") for f in root.iter(MARC_NS + "datafield")}
    for tag, rectype in NAME_TYPE_MAP.items():
        if tag in tags:
            return rectype
    return None


def transform_record(identifier: str, xml: str, ctx: _Ctx) -> dict | None:
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return None
    rectype = guess_type(root)
    if rectype is None:
        return None
    out = {"id": f"http://id.worldcat.org/fast/{identifier}",
           "type": rectype}
    if not _PROCESSORS[rectype](root, out, ctx):
        return None
    return out


def map_records(
    loaded: DataFrame,
    source_name: str = "fast",
    reconcile=None,
    wikipedia_qid=None,
) -> DataFrame:
    from ..functions.dates import parse_datetime

    ctx = _Ctx(parse_datetime, reconcile, wikipedia_qid)

    def row(ident, rt, xml):
        mapped = transform_record(ident, xml, ctx)
        return None if mapped is None else (ident, rt, mapped)

    return map_rows(loaded, source_name, row)


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_doc_lines(spark, cfg["dump_path"], "$.doc.xml")


CONFIG = {
    "name": "fast",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 26,
}
