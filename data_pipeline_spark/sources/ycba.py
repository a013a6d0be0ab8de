"""YCBA internal-unit source (U1 breadth #8): the ActivityStreams-
harvested collection whose records are ALREADY Linked Art JSON.

Restates sources/yale/ycba/{mapper,loader}.py + docs/sample_config/
ycba.json in /root/reference.  This is the one *internal* source shape:
records arrive via an S2 ActivityStreams harvest (or the dump loader),
the "mapper" is a cleanup/patch pass over the native document rather
than a schema translation, and the source reconciles as itself.

Transform steps kept, in reference order (mapper.py:29-118):

1. ``referred_to_by[].content`` list -> first element.
2. Delete local-term/wikipedia entries from represents / about /
   classified_as (ids under the collection's own term namespace or
   en.wikipedia.org/wiki/).
3. Same deletion inside ``dimension[].classified_as``.
4. VisualItem ``represents`` doubled-AAT prefix fix.
5. ``validate_timespans``: every timespan's begin/end re-derived through
   the F1 parser per property, unparseable properties stripped
   (mapper_utils.py:83-127; trailing Z removed first).
6. Collection-Item classification: an Identifier classified as AAT
   300312355 (accession number) adds the AAT 300404024 Collection Item
   class to the record.
7. Place ``defined_by`` GeoJSON -> WKT (features[0].geometry; Point /
   Polygon / MultiPolygon, shapely-style formatting — mapper.py:103-109
   uses shapely, absent here, so the WKT writer is inlined).
8. HumanMadeObject ``equivalent``: wikidata URIs dropped, key removed
   when empty.
9. Period records: AAT Period classification + a timespan parsed from
   the primary-name content tail (century phrases expanded to year
   ranges first — process/base/mapper.py:196-271).
10. ``fix_links``: equivalents canonicalized through the F13 rewrite
    table (type/_label defaulted from the record); every other nested
    node id canonicalized in place, unresolvable ids unset
    (mapper.py:325-417).

The P5 hooks (mapper.py:14-27) ride along: wikidata records never merge
into YCBA object/work records, in either fold direction.

The tar.gz dump (loader.py:31-75) is ONE gzip stream — inherently a
single reader, so ``load_tar`` runs it as one mapInPandas task and
exists for parity with the reference layout; the production layout is
``load_dir`` (the extracted type/uu/uuid.json tree), where every file
is an independent split.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .loaders import loads_object, map_rows, name_dict

# the collection's own term namespace (entries deleted on sight) and the
# protected record types for the P5 wikidata veto (mapper.py:16,46-56)
TERM_PREFIXES = (
    "http://collection.britishart.yale.edu/",
    "https://en.wikipedia.org/wiki/",
)
PROTECTED_TYPES = {"HumanMadeObject", "LinguisticObject", "Set", "VisualItem"}

AAT = "http://vocab.getty.edu/aat/"
AAT_ACCESSION = AAT + "300312355"
AAT_COLLECTION_ITEM = AAT + "300404024"
AAT_PERIOD = AAT + "300081446"
AAT_PRIMARY_NAME = AAT + "300404670"
AAT_DISPLAY_TITLE = AAT + "300404669"

_RANGE_CENTURIES = re.compile(
    r"(early|mid|late)?\s*(\d{1,2})(?:st|nd|rd|th) century\s*-\s*"
    r"(early|mid|late)?\s*(\d{1,2})(?:st|nd|rd|th) century",
    re.IGNORECASE,
)

_TS_PROPS = (
    "begin_of_the_begin", "end_of_the_begin", "begin_of_the_end", "end_of_the_end"
)


def _strip_terms(items: list) -> list:
    return [
        i for i in items
        if not (isinstance(i, dict) and str(i.get("id", "")).startswith(TERM_PREFIXES))
    ]


def geojson_to_wkt(geom: dict) -> str | None:
    """Point/Polygon/MultiPolygon GeoJSON geometry -> WKT, shapely-style
    formatting (the reference routes through shapely's .wkt)."""

    def pt(c):
        return f"{c[0]} {c[1]}"

    def ring(cs):
        return "(" + ", ".join(pt(c) for c in cs) + ")"

    t = geom.get("type")
    cs = geom.get("coordinates")
    if t == "Point" and cs:
        return f"POINT ({pt(cs)})"
    if t == "Polygon" and cs:
        return "POLYGON (" + ", ".join(ring(r) for r in cs) + ")"
    if t == "MultiPolygon" and cs:
        return "MULTIPOLYGON (" + ", ".join(
            "(" + ", ".join(ring(r) for r in poly) + ")" for poly in cs
        ) + ")"
    return None


def _normalize_timespans(obj) -> None:
    """walk_for_timespan (mapper_utils.py:83-127): per-property re-derive
    through the F1 parser; begin* props snap to the parsed begin, end*
    props to the parsed end; unparseable props are deleted."""
    from ..functions.dates import parse_datetime

    if isinstance(obj, dict):
        ts = obj.get("timespan")
        if isinstance(ts, dict):
            for prop in _TS_PROPS:
                if prop not in ts:
                    continue
                raw = str(ts[prop])
                if raw.endswith("Z"):
                    raw = raw[:-1]
                parsed = parse_datetime(raw)
                if parsed is None:
                    del ts[prop]
                    continue
                b, e = parsed[0], parsed[1]
                ts[prop] = b if prop.startswith("begin") else e
        for v in obj.values():
            _normalize_timespans(v)
    elif isinstance(obj, list):
        for v in obj:
            _normalize_timespans(v)


def _process_period(doc: dict) -> None:
    """process_period_record (process/base/mapper.py:196-271)."""
    from ..functions.dates import parse_datetime

    doc.setdefault("classified_as", []).append(
        {"id": AAT_PERIOD, "type": "Type", "_label": "Period"}
    )
    if "timespan" in doc:
        return
    for ident in doc.get("identified_by", []):
        if not any(
            c.get("id") == AAT_PRIMARY_NAME for c in ident.get("classified_as", [])
        ):
            continue
        content = str(ident.get("content", "")).strip()
        # NOTE reference fidelity: mapper.py's comma-tail and
        # single-century branches (:216-229) are DEAD — the else on the
        # range-centuries match (:243-245) overwrites ``dates`` with the
        # raw content whenever the range pattern misses, so the parser
        # effectively sees either the range expansion or the content
        # itself (whose century phrases the F1/F2 parser handles anyway).
        m = _RANGE_CENTURIES.match(content)
        if m:
            c0, c1 = int(m.group(2)), int(m.group(4))
            dates = f"{(c0 - 1) * 100} - {(c1 - 1) * 100 + 99}"
        else:
            dates = content
        parsed = parse_datetime(dates)
        if parsed is not None:
            doc["timespan"] = {
                "type": "TimeSpan",
                "begin_of_the_begin": parsed[0] or "",
                "end_of_the_end": parsed[1] or "",
                "identified_by": [{
                    **name_dict(content, None),
                    "classified_as": [{
                        "id": AAT_DISPLAY_TITLE, "type": "Type",
                        "_label": "Display Title",
                    }],
                }],
            }
        break


def _fix_links(doc: dict, canonical) -> None:
    """fix_links + _walk_fix_links (mapper.py:325-417): canonicalize
    equivalents (type/_label defaulted from the record), then every
    nested node id; a canonicalization to None unsets the id."""
    if canonical is None:
        return
    if "equivalent" in doc:
        new_eqs = []
        for eq in doc["equivalent"]:
            if "id" not in eq:
                continue
            uri = canonical(eq["id"])
            if uri:
                new_eqs.append({
                    "id": uri,
                    "type": eq.get("type", doc.get("type")),
                    "_label": eq.get("_label", doc.get("_label", "Equivalent")),
                })
        doc["equivalent"] = new_eqs

    top_id = doc.get("id")

    def walk(node):
        if isinstance(node, dict):
            nid = node.get("id")
            if nid is not None and nid != top_id:
                uri = canonical(nid)
                if uri != nid:
                    if not uri:
                        del node["id"]
                    else:
                        node["id"] = uri
            for k, v in node.items():
                if k in ("equivalent", "access_point", "conforms_to"):
                    continue
                walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)

    for k, v in doc.items():
        if k in ("equivalent", "access_point", "conforms_to"):
            continue
        walk(v)


def transform_doc(doc: dict, canonical=None) -> dict:
    """The full YCBA cleanup pass over one Linked Art document."""
    # 1. statement content lists -> first element
    for rtb in doc.get("referred_to_by", []):
        c = rtb.get("content")
        if isinstance(c, list) and c:
            rtb["content"] = c[0]
    # 2. local-term/wikipedia purge
    for p in ("represents", "about", "classified_as"):
        if p in doc:
            doc[p] = _strip_terms(doc[p])
    # 3. ... and inside dimensions
    for d in doc.get("dimension", []):
        if "classified_as" in d:
            d["classified_as"] = _strip_terms(d["classified_as"])
    # 4. doubled-AAT prefix fix
    if doc.get("type") == "VisualItem":
        for i in doc.get("represents", []):
            if "id" in i and i["id"].startswith(AAT + AAT):
                i["id"] = i["id"].replace(AAT + AAT, AAT)
    # 5. timespan validation
    _normalize_timespans(doc)
    # 6. Collection Item classification
    item = any(
        c.get("id") == AAT_ACCESSION
        for x in doc.get("identified_by", [])
        if x.get("type") == "Identifier"
        for c in x.get("classified_as", [])
    )
    if item:
        doc.setdefault("classified_as", []).append(
            {"id": AAT_COLLECTION_ITEM, "type": "Type", "_label": "Collection Item"}
        )
    # 7. Place GeoJSON -> WKT
    if doc.get("type") == "Place" and "defined_by" in doc:
        try:
            geojs = json.loads(doc["defined_by"])
            wkt = geojson_to_wkt(geojs["features"][0]["geometry"])
        except (ValueError, KeyError, IndexError, TypeError):
            wkt = None
        if wkt:
            doc["defined_by"] = wkt
    # 8. object equivalents: wikidata out
    if doc.get("type") == "HumanMadeObject" and "equivalent" in doc:
        doc["equivalent"] = [
            e for e in doc["equivalent"] if "wikidata.org" not in e.get("id", "")
        ]
        if not doc["equivalent"]:
            del doc["equivalent"]
    # 9. Period handling
    if doc.get("type") == "Period":
        _process_period(doc)
    # 10. link fixing
    _fix_links(doc, canonical)
    return doc


def canonicalizer(rewrites: dict | None):
    """The F13 prefix-rewrite table as fix_links' canonical(uri) (an
    exact/prefix map; a rewrite to None unsets), or None when empty."""
    rw = dict(rewrites or {})

    def canonical(uri: str):
        for old, new in rw.items():
            if uri == old or uri.startswith(old):
                return None if new is None else new + uri[len(old):]
        return uri

    return canonical if rw else None


def linked_art_row(transform, namespace: str):
    """map_rows row function for sources whose records already are Linked
    Art: untyped or non-object records are skipped, ``transform(doc)``
    returning None drops the record, and a missing identifier falls back
    to the record id minus ``namespace``."""
    def row(ident, rt, val):
        doc = loads_object(val)
        if doc is None or "type" not in doc:
            return None
        doc = transform(doc)
        if doc is None:
            return None
        if not isinstance(ident, str):
            ident = str(doc.get("id", "")).removeprefix(namespace)
        return ident, rt, doc

    return row


def map_records(
    loaded: DataFrame,
    source_name: str = "ycba",
    namespace: str = "",
    rewrites: dict[str, str] | None = None,
) -> DataFrame:
    """(identifier?, record_time?, value) rows -> record envelopes; the
    cleanup pass runs in one Arrow batch per partition.  ``rewrites`` is
    the F13 prefix-rewrite table fix_links canonicalizes through (an
    exact/prefix map; identity when omitted)."""
    canonical = canonicalizer(rewrites)
    return map_rows(
        loaded, source_name,
        linked_art_row(lambda doc: transform_doc(doc, canonical), namespace),
    )


def load_dir(spark: SparkSession, path: str) -> DataFrame:
    """The extracted type/uu/uuid.json tree (loader.py:77-108): one file
    per record, every file an independent split — the layout to ship at
    scale."""
    return (
        spark.read.option("wholetext", "true")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .text(path)
        .withColumnRenamed("value", "value")
        .filter(F.length("value") >= 30)  # short file == prior deletion
        .select(F.col("value"))
    )


def load_tar(spark: SparkSession, path: str) -> DataFrame:
    """The reference's single tar.gz (loader.py:31-75): a gzip stream has
    no split points, so ONE task walks it (kept for dump parity; prefer
    load_dir at scale).  Member path tail type/uu/uuid.json is the
    identifier; <30-byte members are prior deletions; first member per
    identifier wins (the out_cache check)."""
    import pandas as pd

    paths = spark.createDataFrame([(path,)], "path string")

    def read(batches):
        import tarfile

        for pdf in batches:
            for p in pdf["path"]:
                idents, vals = [], []
                with tarfile.open(p, "r:gz") as tf:
                    for ti in tf:
                        if not (ti.name.endswith("json") and "/" in ti.name):
                            continue
                        fh = tf.extractfile(ti)
                        if fh is None:
                            continue
                        raw = fh.read()
                        if len(raw) < 30:
                            continue
                        idents.append("/".join(ti.name.split("/")[-3:]))
                        vals.append(raw.decode("utf-8"))
                        if len(vals) >= 2000:
                            yield pd.DataFrame({"identifier": idents, "value": vals})
                            idents, vals = [], []
                if vals:
                    yield pd.DataFrame({"identifier": idents, "value": vals})

    return paths.mapInPandas(
        read, schema="identifier string, value string"
    ).dropDuplicates(["identifier"])


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    p = cfg.get("dump_path", "")
    if p.endswith((".tar.gz", ".tgz")):
        return load_tar(spark, p)
    return load_dir(spark, p)


def should_merge_into(base_doc, cand_doc, base_src="", cand_src="") -> bool:
    """P5 (mapper.py:14-20): wikidata never merges INTO a YCBA
    object/work record."""
    return not (base_doc.get("type") in PROTECTED_TYPES and cand_src == "wikidata")


def should_merge_from(base_doc, cand_doc, base_src="", cand_src="") -> bool:
    """P5 (mapper.py:22-27): a YCBA object/work record never merges into
    a wikidata base."""
    return not (cand_doc.get("type") in PROTECTED_TYPES and base_src == "wikidata")


CONFIG = {
    "name": "ycba",
    "type": "internal",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "should_merge_into": f"{__name__}:should_merge_into",
    "should_merge_from": f"{__name__}:should_merge_from",
    "merge_order": 1,
}
