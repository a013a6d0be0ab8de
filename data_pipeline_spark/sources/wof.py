"""WOF gazetteer SQLite source (S13): the dump-as-cache passthrough.

Restates sources/general/wof/fetcher.py:1-57 in /root/reference: the 33GB
Who's-On-First SQLite dump is used directly as the record cache — point
lookups go ``SELECT body FROM geojson WHERE id=?`` and fall through to the
data.whosonfirst.org HTTP scheme (ids chunked into path segments of three
digits) when the dump misses.

Spark form: stdlib ``sqlite3`` (no JDBC needed), two access paths:

- **bulk scan** (``load_sqlite_table``): rowid-range partitioned
  ``mapInPandas`` — the driver reads min/max rowid only; each task opens
  its own read-only connection and scans one range, so a 33GB dump loads
  as N parallel range scans.  At cluster scale the dump sits on shared
  storage (the same place the parquet lives); in local mode any path
  works.
- **point lookup** (``wof_fetch_factory``): a fetch factory for the S1
  distributed fetcher — dump hit first, injectable HTTP fallback second,
  mirroring the reference's fetch().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def make_fetch_uri(identifier: str) -> str:
    """The WOF HTTP scheme (fetcher.py:16-31): path = id chunked by 3.
    ``85633793`` -> ``https://data.whosonfirst.org/856/337/93/85633793.geojson``."""
    identifier = identifier.replace(".geojson", "")
    if "/" in identifier:
        return f"https://data.whosonfirst.org/{identifier}.geojson"
    chunks = []
    npid = identifier
    while npid:
        chunks.append(npid[:3])
        npid = npid[3:]
    return f"https://data.whosonfirst.org/{'/'.join(chunks)}/{identifier}.geojson"


def load_sqlite_table(
    spark: SparkSession,
    db_path: str,
    table: str = "geojson",
    columns: tuple[str, ...] = ("id", "body"),
    n_partitions: int = 8,
) -> DataFrame:
    """Distributed scan of a SQLite table: split by rowid range, one
    read-only connection per task.  Returns string columns (SQLite is
    dynamically typed; parse downstream with from_json like any dump)."""
    import sqlite3

    with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as conn:
        row = conn.execute(f"SELECT MIN(rowid), MAX(rowid) FROM {table}").fetchone()
    lo, hi = row or (None, None)
    schema = ", ".join(f"{c} string" for c in columns)
    if lo is None:
        return spark.createDataFrame([], schema)

    span = hi - lo + 1
    step = max(1, span // n_partitions + (1 if span % n_partitions else 0))
    bounds = [(lo + i * step, min(hi, lo + (i + 1) * step - 1))
              for i in range(n_partitions) if lo + i * step <= hi]
    col_sql = ", ".join(columns)

    def scan(iterator):
        import pandas as pd

        conn = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
        try:
            for pdf in iterator:
                for a, b in pdf.itertuples(index=False):
                    out = pd.read_sql_query(
                        f"SELECT {col_sql} FROM {table}"
                        " WHERE rowid BETWEEN ? AND ?",
                        conn, params=(int(a), int(b)),
                    )
                    if len(out):
                        # SQLite is dynamically typed: emit strings,
                        # NULLs preserved (vectorized astype, not a
                        # per-value Python loop)
                        for c in out.columns:
                            mask = out[c].notna()
                            out[c] = out[c].astype(str).where(mask, None)
                        yield out
        finally:
            conn.close()

    # one range per partition, deterministically: repartition(n) round-
    # robins and can pack two ranges in one task while another sits idle
    ranges = spark.createDataFrame(
        spark.sparkContext.parallelize(bounds, len(bounds)), "lo long, hi long"
    )
    return ranges.mapInPandas(scan, schema)


def wof_fetch_factory(db_path: str, http_fetch_factory=None):
    """Fetch factory for sources/fetcher.fetch_records: dump point-lookup
    first (fetcher.py:33-53), HTTP scheme fallback when the id is absent
    or the dump is missing.  ``http_fetch_factory`` (optional) builds the
    network fetch; without one, misses return None (offline mode)."""
    import os

    def factory():
        import sqlite3

        conn = None
        if os.path.exists(db_path):
            # the S1 fetcher calls fetch() from a small thread pool;
            # sqlite3's serialized threading mode makes one read-only
            # connection safe to share, but the same-thread check must be
            # relaxed since the connection is built on the task thread
            conn = sqlite3.connect(
                f"file:{db_path}?mode=ro", uri=True, check_same_thread=False
            )
        http_fetch = http_fetch_factory() if http_fetch_factory else None

        def fetch(identifier: str):
            ident = identifier.rsplit("/", 1)[-1].replace(".geojson", "")
            if conn is not None:
                row = conn.execute(
                    "SELECT body FROM geojson WHERE id=?", (ident,)
                ).fetchone()
                if row is not None:
                    return row[0]
            if http_fetch is not None:
                return http_fetch(make_fetch_uri(ident))
            return None

        return fetch

    return factory


# ---------------------------------------------------------------------------
# The WOF Place mapper (reference sources/general/wof/mapper.py:57-266)
# ---------------------------------------------------------------------------

from ..functions.strings import LANG_THREE_TO_TWO  # noqa: E402
from .loaders import loads_object, map_rows, name_dict  # noqa: E402

# placetype ladder for the hierarchy parent fallback (mapper.py:61)
HIERARCHY_ORDER = [
    "continent", "country", "macroregion", "region", "county",
    "locality", "localadmin",
]
# languages worth keeping as names (process/base/mapper.py:114 must_have)
MUST_HAVE = ["en", "es", "fr", "pt", "de", "nl", "zh", "ja", "ar", "hi"]

_CONCORDANCES = (
    ("wd:id", "http://www.wikidata.org/entity/"),
    ("gn:id", "https://sws.geonames.org/"),
    ("loc:id", "http://id.loc.gov/authorities/names/"),
    ("tgn:id", "http://vocab.getty.edu/tgn/"),
)


def fix_identifier(identifier: str) -> str:
    """mapper.py:64-69: strip the fetch path and .geojson suffix."""
    if "/" in identifier or "geojson" in identifier:
        return identifier.split("/")[-1].replace(".geojson", "")
    return identifier


def _ring_area(ring) -> float:
    """Shoelace area of a (possibly unclosed) ring — what shapely's
    Polygon(...).area computes for the simple rings WOF carries."""
    n = len(ring)
    if n < 3:
        return 0.0
    s = 0.0
    for i in range(n):
        x0, y0 = ring[i][0], ring[i][1]
        x1, y1 = ring[(i + 1) % n][0], ring[(i + 1) % n][1]
        s += x0 * y1 - x1 * y0
    return abs(s) / 2.0


def _polygon_wkt(ring) -> str:
    """Shapely-style POLYGON WKT; ring closed if the source left it open."""
    pts = list(ring)
    if pts and pts[0] != pts[-1]:
        pts.append(pts[0])
    return "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in pts) + "))"


def _extract_polygon(rec: dict, props: dict):
    """The geometry pipeline (mapper.py:146-254): unwrap nested single
    rings, adaptive F17 simplification for >350-point rings (target
    100-600 points, factor halved/doubled), 5-decimal rounding, tiny-area
    (area*1000 < 5) demotion to no-polygon, bbox fallback.  Returns the
    final ring or None."""
    import json as _json

    from ..functions.geometry import rdp_simplify

    bbox = rec.get("bbox") or props.get("geom:bbox") or []
    if isinstance(bbox, str):
        try:
            bbox = _json.loads(f"[{bbox}]")
        except ValueError:
            bbox = []
    if bbox and len(bbox) >= 4 and bbox[0] == bbox[2] and bbox[1] == bbox[3]:
        bbox = []  # degenerate: the point path below covers it

    geom = rec.get("geometry") or {}
    t = geom.get("type")
    coords = geom.get("coordinates") or []
    if t in ("MultiPolygon", "Polygon"):
        while isinstance(coords, list) and len(coords) == 1:
            coords = coords[0]
        ok = (
            isinstance(coords, list) and coords
            and isinstance(coords[0], list) and len(coords[0]) == 2
            and isinstance(coords[0][0], float)
        )
        if not ok:
            coords = []  # a real multi-ring shape: bbox stands in
    else:
        coords = []

    if coords and len(coords) > 350:
        factor = 500 / (len(coords) * 10)
        for _ in range(60):  # reference loops unbounded; oscillation-guarded
            try:
                nc = rdp_simplify([tuple(c) for c in coords], factor)
            except Exception:
                coords = []
                break
            if len(nc) < 100:
                factor /= 2
            elif len(nc) > 600:
                factor *= 2
            else:
                coords = [list(c) for c in nc]
                break
        else:
            coords = []

    if coords and len(coords) == 2 and isinstance(coords[1], float):
        coords = []  # a stray bare point

    if coords:
        rounded = [[round(x, 5), round(y, 5)] for x, y in coords]
        if _ring_area(rounded) * 1000 < 5:
            coords = []  # so small it's a point; bbox/point fallback
        else:
            return rounded

    if not coords and bbox and len(bbox) >= 4:
        ring = [
            [bbox[0], bbox[1]], [bbox[2], bbox[1]], [bbox[2], bbox[3]],
            [bbox[0], bbox[3]], [bbox[0], bbox[1]],
        ]
        if any(ring[i] == ring[i + 1] for i in range(len(ring) - 1)):
            return None  # degenerate edge
        return [[round(x, 5), round(y, 5)] for x, y in ring]
    return None


def transform_place(rec: dict, namespace: str = "https://gazetteer.example/wof/"):
    """One WOF GeoJSON Feature -> a Place doc dict (mapper.py:75-266), or
    None for records with no properties.  Deviations, both documented:
    the mps: point branch reads mps:latitude (the reference's
    props['lbl:latitude'] there KeyErrors whenever the branch is
    reachable, mapper.py:166), and a record with neither geometry nor a
    label point simply omits defined_by instead of crashing."""
    props = rec.get("properties") or {}
    if not props:
        return None
    ident = f"{namespace}{rec.get('id')}"

    names, label = [], None
    for k in sorted(props):
        v = props[k]
        if v and k.startswith("name:"):
            val = v[0] if isinstance(v, list) else v
            ll = LANG_THREE_TO_TWO.get(k[5:8], "")
            if ll in MUST_HAVE:
                names.append(name_dict(val, "primaryName", ll))
                if ll == "en":
                    label = val
    if label is None and "wof:name" in props:
        label = props["wof:name"]
        if not names:
            names = [name_dict(props["wof:name"], None)]
    if not names:
        names = [name_dict("Unnamed Place", None)]

    doc = {"id": ident, "type": "Place", "identified_by": names}
    if label is not None:
        doc["_label"] = label

    cc = props.get("wof:concordances") or {}
    equivs = [
        {"id": f"{prefix}{cc[key]}", "type": "Place", "_label": label}
        for key, prefix in _CONCORDANCES if key in cc
    ]
    if equivs:
        doc["equivalent"] = equivs

    parid = props.get("wof:parent_id", -1) or -1
    if isinstance(parid, int) and parid > 0:
        doc["part_of"] = [{"id": f"{namespace}{parid}", "type": "Place"}]
    else:
        pt = props.get("wof:placetype", "")
        if pt in HIERARCHY_ORDER:
            idx = HIERARCHY_ORDER.index(pt)
            if idx:  # 0 = continent has no parent rung
                ppk = f"{HIERARCHY_ORDER[idx - 1]}_id"
                for h in props.get("wof:hierarchy") or []:
                    if ppk in h:
                        doc["part_of"] = [
                            {"id": f"{namespace}{h[ppk]}", "type": "Place"}
                        ]
                        break

    ring = _extract_polygon(rec, props)
    if ring is not None:
        doc["defined_by"] = _polygon_wkt(ring)
    else:
        point = []
        if "lbl:latitude" in props:
            point = [props.get("lbl:longitude"), props.get("lbl:latitude")]
        elif "geom:latitude" in props:
            point = [props.get("geom:longitude"), props.get("geom:latitude")]
        elif "mps:latitude" in props:
            point = [props.get("mps:longitude"), props.get("mps:latitude")]
        if point and point[0] is not None and point[1] is not None:
            # reference formatting kept verbatim, trailing space included
            doc["defined_by"] = f"POINT ({point[0]} {point[1]} )"
    return doc


def map_records(
    loaded: DataFrame,
    source_name: str = "wof",
    namespace: str = "https://gazetteer.example/wof/",
) -> DataFrame:
    """(id, body) rows from the S13 scan -> Place record envelopes; the
    per-feature munging (adaptive RDP, area math) runs Arrow-batched.
    The record time is the feature's wof:lastmodified."""
    from pyspark.sql import functions as F

    def row(rid, _rt, body):
        rec = loads_object(body)
        doc = None if rec is None else transform_place(rec, namespace)
        if doc is None:
            return None
        lastmod = rec["properties"].get("wof:lastmodified")
        return fix_identifier(str(rid)), str(lastmod) if lastmod else None, doc

    rows = loaded.select(F.col("id").alias("identifier"), F.col("body").alias("value"))
    return map_rows(rows, source_name, row)


CONFIG = {
    "name": "wof",
    "loader": f"{__name__}:load_sqlite_table",
    "mapper": f"{__name__}:map_records",
    "merge_order": 8,
}
