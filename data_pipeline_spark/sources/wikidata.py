"""Wikidata source: entity-dump loader + mapper (U1 breadth proof, F23).

The reference's largest per-source mapper (sources/general/wikidata/
mapper.py:1-296 in /root/reference, 1227 LoC) distilled to its data
semantics, restated as pure DataFrame expressions:

- ``guess_type`` (F23, mapper.py:121-296): P31 instance-of lookup first
  (incl. the disambiguation-page abort), then the property-distribution
  "smell test" — count matching properties per class family, argmax with
  the reference's stable tie-break (family declaration order), defaulting
  to Type.
- External-identifier equivalents (``ext_hash``, mapper.py:26-45): each
  known property's string identifiers expand through a URI template into
  ``equivalent`` refs.
- Nationality classifications (``nat_map``, mapper.py:47-66): P27 country
  entities map to classification URIs.
- Multilingual labels -> ``identified_by`` Name structs with language
  refs (process_only_label, mapper.py:297-320).

Everything is JVM-side (two ``from_json`` passes — string-valued snaks
and entity-valued snaks — then higher-order functions); at 100TB the map
stage rides the scan with zero Python.  Wire-up is CONFIG at the bottom:
registry-driven, no engine changes (U2 contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .loaders import envelope, load_jsonl_dump, name_node

WD_URI_PREFIX = "http://www.wikidata.org/entity/"

# string-valued snaks (external identifiers) + labels + modified
_SCHEMA_STR = (
    "id string, modified string,"
    " labels map<string, struct<language:string, value:string>>,"
    " claims map<string, array<struct<mainsnak:struct<datavalue:struct<value:string>>>>>"
)
# entity-valued snaks (P31 instance-of, P27 nationality)
_SCHEMA_ENT = (
    "claims map<string, array<struct<mainsnak:struct<datavalue:struct<value:struct<id:string>>>>>>"
)

_ABORT = "__abort__"  # Q4167410 disambiguation pages produce nothing

# P31 -> engine record class (mapper.py:144-205; None => abort)
USEFUL_INSTANCE_OF: dict[str, str | None] = {
    "Q4167410": None,
    "Q5": "Person",
    "Q4830453": "Group", "Q43229": "Group", "Q16334295": "Group",
    "Q167037": "Group", "Q783794": "Group", "Q163740": "Group",
    "Q1530022": "Group",
    "Q34770": "Language", "Q1288568": "Language", "Q33742": "Language",
    "Q20162172": "Language", "Q436240": "Language", "Q2315359": "Language",
    "Q515": "Place", "Q6256": "Place", "Q3624078": "Place", "Q7275": "Place",
    "Q28575": "Place", "Q82794": "Place", "Q3957": "Place", "Q1549591": "Place",
    "Q702492": "Place", "Q35657": "Place", "Q106458883": "Place",
    "Q34876": "Place", "Q486972": "Place", "Q15284": "Place", "Q532": "Place",
    "Q8502": "Place", "Q484170": "Place", "Q42744322": "Place", "Q747074": "Place",
    "Q208469": "MeasurementUnit", "Q1978718": "MeasurementUnit",
    "Q11344": "Material",
    "Q1371562": "MeasurementUnit", "Q1790144": "MeasurementUnit",
    "Q3647172": "MeasurementUnit", "Q3550873": "MeasurementUnit",
    "Q12418": "HumanMadeObject", "Q45585": "HumanMadeObject",
    "Q175036": "HumanMadeObject", "Q698487": "HumanMadeObject",
    "Q464782": "HumanMadeObject", "Q83872": "HumanMadeObject",
    "Q1044742": "HumanMadeObject",
    "Q1404472": "Period", "Q45805": "Period", "Q184963": "Period",
    "Q11761": "Period", "Q9903": "Period",
    "Q173034": "Activity", "Q901769": "Activity", "Q688909": "Activity",
    "Q193155": "Activity", "Q459447": "Activity",
}

# property-distribution smell test (mapper.py:210-266); family order IS the
# tie-break (the reference's stable sort over dict insertion order)
PROP_DIST: list[tuple[str, str, list[str]]] = [
    ("person", "Person",
     ["P102", "P108", "P39", "P3368", "P69", "P21", "P569", "P570", "P19",
      "P20", "P734", "P735", "P106", "P1412"]),
    ("group", "Group",
     ["P112", "P740", "P159", "P488", "P749", "P2124", "P169", "P355", "P1037"]),
    ("place", "Place",
     ["P1281", "P190", "P7471", "P1937", "P1465", "P2326", "P473", "P1464",
      "P402", "P2046", "P1566", "P625", "P3896", "P47", "P36", "P1082",
      "P6766", "P1667", "P1332", "P1333", "P1334", "P1335"]),
    ("activity", "Activity", ["P580", "P582", "P710", "P1132", "P1542", "P664", "P585"]),
    ("period", "Period", ["P580", "P582", "P155", "P156", "P276"]),
    ("type", "Type", ["P1014", "P1843", "P1036"]),
    ("language", "Language",
     ["P282", "P1098", "P3823", "P218", "P219", "P220", "P1394"]),
    ("currency", "Currency", ["P489", "P562", "P498"]),
    ("unit", "MeasurementUnit", ["P2370", "P2442", "P111"]),
    ("material", "Material", ["P2054", "P2067"]),
    ("object", "HumanMadeObject",
     ["P127", "P88", "P186", "P217", "P608", "P2049", "P176"]),
    ("text", "LinguisticObject", ["P747", "P50", "P655", "P123", "P291", "P840"]),
]

# external-identifier URI templates (mapper.py:26-45)
EXT_HASH: dict[str, str] = {
    "P2163": "http://id.worldcat.org/fast/{ident}",
    "P1014": "http://vocab.getty.edu/aat/{ident}",
    "P245": "http://vocab.getty.edu/ulan/{ident}",
    "P1667": "http://vocab.getty.edu/tgn/{ident}",
    "P214": "https://viaf.org/viaf/{ident}",
    "P1566": "https://sws.geonames.org/{ident}",
    "P227": "https://d-nb.info/gnd/{ident}",
    "P4801": "http://id.loc.gov/vocabulary/{ident}",
    "P268": "http://data.bnf.fr/ark:/12148/cb{ident}",
    "P8516": "https://id.loc.gov/authorities/performanceMediums/{ident}",
    "P3763": "http://www.mimo-db.eu/InstrumentsKeywords/{ident}",
    "P846": "https://www.gbif.org/species/{ident}",
    "P11858": "https://nsf.gov/awards/{ident}",
    "P3500": "https://ringgold.com/{ident}",
    "P6782": "https://ror.org/{ident}",
    "P496": "https://orcid.org/{ident}",
    "P3430": "https://snaccooperative.org/ark:/99166/{ident}",
}

# P27 country entity -> nationality classification (mapper.py:47-66)
NAT_MAP: dict[str, str] = {
    "Q30": "http://vocab.getty.edu/aat/300107956",
    "Q142": "http://vocab.getty.edu/aat/300111188",
    "Q183": "http://vocab.getty.edu/aat/300111192",
    "Q17": "http://vocab.getty.edu/aat/300018519",
    "Q145": "http://vocab.getty.edu/aat/300111159",
    "Q29": "http://vocab.getty.edu/aat/300111215",
    "Q38": "http://vocab.getty.edu/aat/300111198",
    "Q15180": "http://vocab.getty.edu/aat/300111276",
    "Q9903": "http://vocab.getty.edu/aat/300018322",
    "Q36": "http://vocab.getty.edu/aat/300111204",
    "Q34": "http://vocab.getty.edu/aat/300111218",
    "Q16": "http://vocab.getty.edu/aat/300107962",
    "Q252": "http://vocab.getty.edu/aat/300018704",
    "Q29999": "http://vocab.getty.edu/aat/300111175",
    "Q155": "http://vocab.getty.edu/aat/300107967",
    "Q159": "http://vocab.getty.edu/aat/300111276",
    "Q174193": "http://vocab.getty.edu/aat/300111159",
    "Q668": "http://vocab.getty.edu/aat/300018863",
}


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    """S6: entity-dump lines with the property-line prefilter and
    already-loaded skip, raw line retained for the mapper's two parses."""
    return load_jsonl_dump(
        spark,
        cfg["dump_path"],
        schema=_SCHEMA_STR,
        existing_keys=cfg.get("existing_keys"),
        prefilter=cfg.get("prefilter", r'"type":\s*"property"'),
    )


def _claim_values(claims: Column, pid: str) -> Column:
    """Array of string snak values for a property (nulls filtered)."""
    vals = F.transform(
        F.coalesce(claims[pid], F.array()),
        lambda c: c.getField("mainsnak").getField("datavalue").getField("value"),
    )
    return F.filter(vals, lambda v: v.isNotNull())


def guess_type(claims_str: Column, claims_ent: Column) -> Column:
    """F23 for wikidata: P31 table lookup, else property smell test.
    Returns the engine class name, or the abort sentinel for
    disambiguation pages (callers filter those rows out)."""
    p31 = F.transform(
        F.coalesce(claims_ent["P31"], F.array()),
        lambda c: c.getField("mainsnak").getField("datavalue").getField("value").getField("id"),
    )
    by_instance = None
    for qid, cls in USEFUL_INSTANCE_OF.items():
        hit = F.array_contains(p31, qid)
        val = F.lit(_ABORT if cls is None else cls)
        by_instance = F.when(hit, val) if by_instance is None else by_instance.when(hit, val)
    by_instance = by_instance.otherwise(F.lit(None).cast("string"))

    props = F.map_keys(claims_str)
    scored = [
        F.struct(
            F.size(F.array_intersect(props, F.array(*[F.lit(p) for p in pids]))).alias("c"),
            F.lit(-i).alias("o"),
            F.lit(cls).alias("t"),
        )
        for i, (_fam, cls, pids) in enumerate(PROP_DIST)
    ]
    best = F.greatest(*scored)
    by_props = F.when(best.getField("c") > 0, best.getField("t")).otherwise("Type")
    return F.coalesce(by_instance, by_props)


def map_records(loaded: DataFrame, source_name: str = "wikidata") -> DataFrame:
    """Raw dump lines -> record envelopes.  ``loaded`` must carry the
    parsed ``doc`` (string-snak schema) and the raw ``value`` line (the
    load() output shape); the entity-snak parse happens here."""
    df = loaded.withColumn("ent", F.from_json("value", _SCHEMA_ENT))
    claims_s = F.col("doc.claims")
    claims_e = F.col("ent.claims")
    rectype = guess_type(claims_s, claims_e)
    df = df.withColumn("rectype", rectype).filter(F.col("rectype") != _ABORT)

    # labels -> Name structs, key-sorted for deterministic output
    entries = F.array_sort(F.map_entries(F.coalesce(F.col("doc.labels"), F.expr(
        "map() :: map<string, struct<language:string, value:string>>"
    ))))
    names = F.transform(
        entries,
        lambda e: name_node(
            e.getField("value").getField("value"), None,
            F.array(
                F.struct(
                    F.concat(F.lit("http://vocab.example/iso639-1/"), e.getField("key")).alias("id"),
                    F.lit("Language").alias("type"),
                )
            ),
        ),
    )
    label = F.coalesce(
        F.col("doc.labels")["en"].getField("value"),
        F.element_at(names, 1).getField("content"),
    )

    # ext_hash equivalents: each template's prefix/suffix around {ident}
    # (closure factory, not default-args — pyspark introspects the lambda
    # signature and a defaulted param would read as a 3-arg HOF lambda)
    def _templated(pre: str, suf: str):
        return lambda v: F.struct(
            F.concat(F.lit(pre), v, F.lit(suf)).alias("id"),
            F.col("rectype").alias("type"),
        )

    eq_arrays = []
    for pid, template in EXT_HASH.items():
        pre, _, suf = template.partition("{ident}")
        eq_arrays.append(F.transform(_claim_values(claims_s, pid), _templated(pre, suf)))
    equivalents = F.array_sort(F.concat(*eq_arrays))

    # nationality classifications from P27 entities
    p27 = F.transform(
        F.coalesce(claims_e["P27"], F.array()),
        lambda c: c.getField("mainsnak").getField("datavalue").getField("value").getField("id"),
    )
    nat_uri = None
    kv = []
    for qid, uri in NAT_MAP.items():
        kv.extend([F.lit(qid), F.lit(uri)])
    nat_map_col = F.create_map(*kv)
    nat_uris = F.filter(
        F.transform(p27, lambda q: F.element_at(nat_map_col, q)), lambda u: u.isNotNull()
    )
    classifications = F.array_sort(
        F.transform(
            nat_uris,
            lambda u: F.struct(u.alias("id"), F.lit("Type").alias("type")),
        )
    )

    doc = F.to_json(
        F.struct(
            F.concat(F.lit(WD_URI_PREFIX), F.col("identifier")).alias("id"),
            F.col("rectype").alias("type"),
            label.alias("_label"),
            names.alias("identified_by"),
            equivalents.alias("equivalent"),
            classifications.alias("classified_as"),
        )
    )
    return envelope(df, source_name, "identifier", "rectype", "doc.modified", doc)


CONFIG = {
    "name": "wikidata",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 20,
}
