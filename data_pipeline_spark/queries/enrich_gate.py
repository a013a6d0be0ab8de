"""Driver-gated golden-oracle queries for the enrichment/patch family
(SURVEY §2.4 J12, §2.5 A8, §2.8 F3).

Same golden-oracle pattern as reconcile_gate.py: deterministic synthetic
inputs rotated over customer keys, the REAL pipeline function in the
middle, expected outputs stated literally in the oracle SQL.

Reference parity targets (in /root/reference):
- J12 metatype enrichment: sources/lux/final/mapper.py:678-711
- A8 primary-name election: sources/lux/final/mapper.py:366-646
- F3 timespan repair: process/utils/mapper_utils.py:83-127
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import query
from .text2 import _F01_CASES


@query(
    "j12_metatype_join",
    oracle="""
    SELECT 'y' || c_custkey AS yuid, 'm' || (c_custkey % 20) AS metatype_uri
    FROM customer WHERE c_custkey % 20 < 10
    UNION ALL
    SELECT 'y' || c_custkey, 'm' || ((c_custkey + 7) % 20)
    FROM customer WHERE (c_custkey + 7) % 20 < 10
    """,
    survey="J12",
)
def j12_metatype_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 metatype enrichment through the driver gate: each record
    classifies as c{k%20} and c{(k+7)%20}; the curated concept->metatype
    map covers only c{0..9}, so exactly the classifications landing in
    that range produce (yuid, metatype) rows via the broadcast join."""
    from ..pipeline.enrich import metatype_edges

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    data = F.concat(
        F.lit('{"id":"y'), ks,
        F.lit('","classified_as":[{"id":"c'), (k % 20).cast("string"),
        F.lit('"},{"id":"c'), ((k + 7) % 20).cast("string"),
        F.lit('"}]}'),
    )
    merged = c.select(F.concat(F.lit("y"), ks).alias("yuid"), data.alias("data"))
    i = F.col("id").cast("string")
    metatypes = spark.range(10).select(
        F.concat(F.lit("c"), i).alias("concept_uri"),
        F.concat(F.lit("m"), i).alias("metatype_uri"),
    )
    return metatype_edges(merged, metatypes)


@query(
    "a08_primary_name_election",
    oracle="""
    SELECT 'y' || c_custkey AS yuid, 'en' AS lang,
           CASE c_custkey % 4
             WHEN 0 THEN 'Bbb' || c_custkey
             WHEN 1 THEN 'Cc' || c_custkey
             WHEN 2 THEN 'X' || c_custkey || 'a'
             ELSE 'Abcdef' || c_custkey
           END AS primary_name
    FROM customer
    """,
    survey="A8,F15",
)
def a08_primary_name_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 primary-name election through the driver gate, one scoring rule
    per rotation: primaryName classification beats a shorter rival (k%4==0),
    shorter wins among equals (k%4==1), lexical tiebreak at equal length
    (k%4==2), and all-caps acronyms are demoted below longer names
    (k%4==3). Languages arrive as ISO 639-2 URI tails ('/eng') so the
    F15 map must normalize them to 'en' for the window key."""
    from ..pipeline.enrich import elect_primary_names

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 4

    def nm(content_col, primary=False):
        cls = (
            '"classified_as":[{"id":"http://vocab.example/primaryName"}],'
            if primary
            else ""
        )
        return F.concat(
            F.lit('{"type":"Name",' + cls + '"language":[{"id":"http://vocab.example/lang/eng"}],"content":"'),
            content_col,
            F.lit('"}'),
        )

    pair = (
        F.when(m == 0, F.concat_ws(",", nm(F.concat(F.lit("Bbb"), ks), primary=True), nm(F.concat(F.lit("Aa"), ks))))
        .when(m == 1, F.concat_ws(",", nm(F.concat(F.lit("Dddd"), ks)), nm(F.concat(F.lit("Cc"), ks))))
        .when(m == 2, F.concat_ws(",", nm(F.concat(F.lit("X"), ks, F.lit("b"))), nm(F.concat(F.lit("X"), ks, F.lit("a")))))
        .otherwise(F.concat_ws(",", nm(F.lit("AB")), nm(F.concat(F.lit("Abcdef"), ks))))
    )
    data = F.concat(F.lit('{"id":"y'), ks, F.lit('","identified_by":['), pair, F.lit("]}"))
    merged = c.select(F.concat(F.lit("y"), ks).alias("yuid"), data.alias("data"))
    return elect_primary_names(merged)


def _wd_str_claims(pids) -> str:
    return ",".join(
        f'"{p}":[{{"mainsnak":{{"datavalue":{{"value":"x"}}}}}}]' for p in pids
    )


def _wd_p31(qid: str) -> str:
    return f'"P31":[{{"mainsnak":{{"datavalue":{{"value":{{"id":"{qid}"}}}}}}}}]'


@query(
    "f23_guess_type",
    oracle="""
    SELECT c_custkey,
           CASE c_custkey % 6
             WHEN 0 THEN 'Person'
             WHEN 1 THEN '__abort__'
             WHEN 2 THEN 'Person'
             WHEN 3 THEN 'Activity'
             WHEN 4 THEN 'Type'
             ELSE 'Language'
           END AS rectype
    FROM customer
    """,
    survey="F23,U1",
)
def f23_guess_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F23 record-type guessing (wikidata mapper, reference
    sources/general/wikidata/mapper.py:121-296) through the driver gate,
    one decision path per rotation: P31 instance-of lookup (Q5->Person),
    the disambiguation-page abort sentinel (Q4167410), the property
    smell test (3 person props beat everything), the family-ORDER
    tie-break (P580+P582 score 2 for both activity and period; activity
    is declared first and must win), the Type default (no matching
    props), and unknown-P31 falling through to the smell test."""
    from ..sources.wikidata import _SCHEMA_ENT, _SCHEMA_STR, guess_type

    cases = [
        '{"id":"Q1","claims":{' + _wd_p31("Q5") + "}}",
        '{"id":"Q1","claims":{' + _wd_p31("Q4167410") + "}}",
        '{"id":"Q1","claims":{' + _wd_str_claims(["P569", "P570", "P102"]) + "}}",
        '{"id":"Q1","claims":{' + _wd_str_claims(["P580", "P582"]) + "}}",
        '{"id":"Q1","claims":{' + _wd_str_claims(["P999"]) + "}}",
        '{"id":"Q1","claims":{' + _wd_p31("Q999999") + "," + _wd_str_claims(["P218"]) + "}}",
    ]
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    value = F.lit(None).cast("string")
    for i, line in enumerate(cases):
        value = F.when(k % 6 == i, F.lit(line)).otherwise(value)
    df = c.select("c_custkey", value.alias("value"))
    doc = F.from_json("value", _SCHEMA_STR)
    ent = F.from_json("value", _SCHEMA_ENT)
    return df.select(
        "c_custkey",
        guess_type(doc.getField("claims"), ent.getField("claims")).alias("rectype"),
    )


@query(
    "f05_lifespan_sanity",
    oracle="""
    SELECT 'u' || c_custkey AS uri,
           CASE WHEN c_custkey % 5 IN (0, 1) THEN '1900-01-01T00:00:00'
                WHEN c_custkey % 5 = 2 THEN '1985-01-01T00:00:00'
                WHEN c_custkey % 5 = 3 THEN '1900-01-01T00:00:00'
           END AS born_begin_iso,
           CASE WHEN c_custkey % 5 = 0 THEN '1985-12-31T23:59:59'
                WHEN c_custkey % 5 = 1 THEN '2100-12-31T23:59:59'
                WHEN c_custkey % 5 = 2 THEN '1900-12-31T23:59:59'
           END AS died_end_iso,
           c_custkey % 5 NOT IN (1, 2) AS lifespan_ok
    FROM customer
    """,
    survey="F5,F1",
)
def f05_lifespan_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 lifespan sanity through the driver gate
    (mapper_utils.py:146-197): born/died year pairs rotate through a
    plausible 86-year life (ok), a 200-year span (vetoed), death before
    birth (vetoed), birth only and no dates (both ok — the veto needs
    BOTH endpoints), parsed through the F1 tier inside
    extract_timespans."""
    from ..pipeline.envelope import extract_timespans

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 5
    born = F.when(m.isin(0, 1, 3), F.lit("1900")).when(m == 2, F.lit("1985"))
    died = F.when(m == 0, F.lit("1985")).when(m == 1, F.lit("2100")).when(m == 2, F.lit("1900"))
    born_part = F.when(
        born.isNotNull(),
        F.concat(F.lit(',"born":{"timespan":{"begin_of_the_begin":"'), born, F.lit('"}}')),
    ).otherwise(F.lit(""))
    died_part = F.when(
        died.isNotNull(),
        F.concat(F.lit(',"died":{"timespan":{"end_of_the_end":"'), died, F.lit('"}}')),
    ).otherwise(F.lit(""))
    data = F.concat(
        F.lit('{"id":"u'), ks, F.lit('","type":"Person"'), born_part, died_part, F.lit("}")
    )
    records = c.select(
        F.lit("srcA").alias("source"),
        ks.alias("identifier"),
        F.lit("Person").alias("rectype"),
        data.alias("data"),
    )
    return extract_timespans(records).select(
        "uri", "born_begin_iso", "died_end_iso", "lifespan_ok"
    )


@query(
    "x03_external_queue",
    oracle="""
    SELECT 't' || c_custkey AS uri, 1 AS distance
    FROM customer WHERE c_custkey % 100 < 50 AND c_custkey % 3 <> 0
    """,
    survey="X3,A12",
)
def x03_external_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 the acquire queue through the driver gate: BFS distances from
    seed hubs s{0..49} over refers-edges, then the external queue = URIs
    within the bound that we hold no record for.  Edges from non-seed
    hubs (s{50..99}) are unreachable; equivalence edges are identity,
    not reachability, and must be ignored (the skip list); known records
    (k%3==0) leave the queue."""
    from ..pipeline.references import external_reference_queue, reference_distances

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    hub = F.concat(F.lit("s"), (k % 100).cast("string"))
    refers = c.select(
        hub.alias("subject"), F.lit("refers").alias("predicate"),
        F.concat(F.lit("t"), ks).alias("object"),
    )
    ignored = c.filter(k % 5 == 0).select(
        hub.alias("subject"), F.lit("equivalent").alias("predicate"),
        F.concat(F.lit("e"), ks).alias("object"),
    )
    edges = refers.unionByName(ignored)
    seeds = spark.range(50).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("uri")
    )
    known = seeds.unionByName(
        c.filter(k % 3 == 0).select(F.concat(F.lit("t"), ks).alias("uri"))
    )
    dist = reference_distances(edges, seeds)
    return external_reference_queue(dist, known).select(
        "uri", F.col("distance").cast("int").alias("distance")
    )


def _f03_oracle() -> str:
    n = len(_F01_CASES)

    def col_case(j, quote):
        whens = []
        for i, row in enumerate(_F01_CASES):
            v = row[j]
            if v is None:
                whens.append(f"WHEN {i} THEN NULL")
            elif quote:
                whens.append(f"WHEN {i} THEN '{v}'")
            else:
                whens.append(f"WHEN {i} THEN {v}")
        return " ".join(whens)

    has_ts = " ".join(
        f"WHEN {i} THEN {'FALSE' if row[1] is None else 'TRUE'}"
        for i, row in enumerate(_F01_CASES)
    )
    return f"""
    SELECT c_custkey,
           CASE c_custkey % {n} {has_ts} END AS has_timespan,
           CASE c_custkey % {n} {col_case(1, True)} END AS begin_iso,
           CASE c_custkey % {n} {col_case(2, True)} END AS end_iso,
           CAST(CASE c_custkey % {n} {col_case(3, False)} END AS BIGINT) AS begin_sec,
           CAST(CASE c_custkey % {n} {col_case(4, False)} END AS BIGINT) AS end_sec
    FROM customer
    """


@query("f03_timespan_repair", oracle=_f03_oracle(), survey="F3,F1")
def f03_timespan_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 timespan repair through the driver gate: every document carries a
    produced_by.timespan whose begin_of_the_begin rotates through the F1
    golden cases; repair_timespans must rewrite each to ISO bounds +
    BCE-safe epoch seconds and STRIP the unparseable one entirely
    (mapper_utils.py:83-127 semantics, one Arrow pass)."""
    from ..pipeline.patches import repair_timespans

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    n = len(_F01_CASES)
    raw = F.lit(None).cast("string")
    for i, (t, *_rest) in enumerate(_F01_CASES):
        raw = F.when(k % n == i, F.lit(t)).otherwise(raw)
    data = F.concat(
        F.lit('{"id":"u'), ks,
        F.lit('","produced_by":{"timespan":{"begin_of_the_begin":"'), raw,
        F.lit('"}}}'),
    )
    records = c.select(ks.alias("identifier"), data.alias("data"))
    repaired = repair_timespans(records)
    ts = F.get_json_object("data", "$.produced_by.timespan")
    return repaired.select(
        F.col("identifier").cast("int").alias("c_custkey"),
        ts.isNotNull().alias("has_timespan"),
        F.get_json_object("data", "$.produced_by.timespan.begin_of_the_begin").alias("begin_iso"),
        F.get_json_object("data", "$.produced_by.timespan.end_of_the_end").alias("end_iso"),
        F.get_json_object("data", "$.produced_by.timespan._seconds_since_epoch_begin").cast("bigint").alias("begin_sec"),
        F.get_json_object("data", "$.produced_by.timespan._seconds_since_epoch_end").cast("bigint").alias("end_sec"),
    )


@query(
    "j11_wikimedia_image_gate",
    oracle="""
    SELECT c_custkey,
           CASE c_custkey % 7
             WHEN 0 THEN 'ok' WHEN 1 THEN 'bad_license'
             WHEN 2 THEN 'no_data' WHEN 3 THEN 'no_image'
             WHEN 4 THEN 'bad_extension' ELSE 'ok'
           END AS status,
           CASE c_custkey % 7
             WHEN 0 THEN 'https://commons.wikimedia.org/wiki/Special:Filepath/Cat photo.jpg'
             WHEN 5 THEN 'https://commons.wikimedia.org/wiki/Special:Filepath/Old painting.png'
             WHEN 6 THEN 'https://commons.wikimedia.org/wiki/Special:Filepath/Plain.gif'
           END AS access_point,
           CASE c_custkey % 7
             WHEN 0 THEN '<span>A cat by Bob own work, <a href="http://lic.example/by4">CC BY 4.0</a></span>'
             WHEN 5 THEN '<span>Old painting.png, Public Domain</span>'
             WHEN 6 THEN '<span>Plain name, <a href="http://lic.example/cc0">CC0</a></span>'
           END AS credit
    FROM customer
    """,
    survey="J11,F11,F14,U1",
)
def j11_wikimedia_image_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concrete J11 through the driver gate: the wikimedia imageinfo
    mapper's full decision surface (reference sources/general/wikimedia/
    mapper.py:21-89), one path per rotation — allowed-license keep with
    the composed credit line (HTML-stripped name, artist, credit,
    <a>-wrapped short license name), the bad-license / missing-page /
    missing-imageinfo / bad-extension drops, a url-less pd license
    falling back to UsageTerms with the raw title as display name, and a
    no-artist/no-credit keep."""
    import json as _json

    from ..sources.wikimedia import RAW_SCHEMA, image_fields

    def resp(title, meta):
        page = {"title": title}
        if meta is not None:
            page["imageinfo"] = [{"extmetadata": {
                k: {"value": v} for k, v in meta.items()
            }}]
        return _json.dumps(
            {"identifier": "x", "data": {"query": {"pages": {"1": page}}}}
        )

    cases = [
        resp("File:Cat photo.jpg", {
            "License": "cc-by-4.0", "LicenseUrl": "http://lic.example/by4",
            "LicenseShortName": "CC BY 4.0", "UsageTerms": "CC Attribution",
            "ObjectName": "<b>A cat</b>", "ImageDescription": "d",
            "Artist": "Bob", "Credit": "own work",
        }),
        resp("File:Locked.jpg", {"License": "all-rights-reserved"}),
        _json.dumps({"identifier": "x", "data": {"query": {"pages": {}}}}),
        resp("File:NoInfo.jpg", None),
        resp("File:Scan.tiff", {"License": "cc0"}),
        resp("File:Old painting.png", {
            "License": "pd", "UsageTerms": "Public Domain",
        }),
        resp("File:Plain.gif", {
            "License": "cc0", "LicenseUrl": "http://lic.example/cc0",
            "LicenseShortName": "CC0", "ObjectName": "Plain name",
        }),
    ]
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    value = F.lit(None).cast("string")
    for i, line in enumerate(cases):
        value = F.when(k % 7 == i, F.lit(line)).otherwise(value)
    img = image_fields(F.from_json(value, RAW_SCHEMA))
    return c.select(
        "c_custkey",
        img.getField("status").alias("status"),
        img.getField("access_point").alias("access_point"),
        img.getField("credit_span").alias("credit"),
    )


@query(
    "u05_llm_person_names",
    oracle="""
    SELECT 'y' || c_custkey AS yuid,
           CASE c_custkey % 6
             WHEN 0 THEN 'Roger A. King'
             WHEN 1 THEN 'Ada B. Lovelace'
             WHEN 4 THEN 'Roger King'
             ELSE 'Origname' || c_custkey
           END AS primary_name,
           CASE c_custkey % 6
             WHEN 0 THEN 'King, Roger A. (1945-2003)'
             WHEN 1 THEN 'Lovelace, Ada B. (1800-)'
             WHEN 4 THEN 'King, Roger (1900-)'
           END AS sort_name,
           CASE c_custkey % 6
             WHEN 0 THEN '1945-01-01T00:00:00'
             WHEN 1 THEN '1800-01-01T00:00:00'
           END AS born_begin,
           CASE c_custkey % 6
             WHEN 0 THEN '2003-01-01T00:00:00'
           END AS died_begin
    FROM customer
    """,
    survey="U5,A8,J11",
)
def u05_llm_person_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concrete U5 (final/mapper.py:239-360 + index_loader.py:26-60):
    the LLM person-names table changes the elected primary, one lookup/
    formatting path per rotation — yuid hit with middle names + both
    years (k%6=0), yuid-miss label-fallback hit with middle initials and
    a birth year only (1), a parse missing last_name producing NO
    enrichment (2), no table row at all (3), a record that already has a
    born event keeping it while the name still flips (4), and a
    non-Person record whose label matches a table row but must not be
    enriched (5)."""
    from ..pipeline.enrich import elect_primary_names, llm_person_names

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 6

    rectype = F.when(m == 5, F.lit("Group")).otherwise(F.lit("Person"))
    born = F.when(
        m == 4,
        F.lit(',"born":{"type":"Birth","timespan":{"begin_of_the_begin":"1850-01-01T00:00:00"}}'),
    ).otherwise(F.lit(""))
    data = F.concat(
        F.lit('{"id":"y'), ks, F.lit('","type":"'), rectype,
        F.lit('","identified_by":[{"type":"Name","content":"Origname'), ks,
        F.lit('","classified_as":[{"id":"http://vocab.example/primaryName"}],'
              '"language":[{"id":"http://vocab.example/lang/eng"}]}]'),
        born, F.lit("}"),
    )
    merged = c.select(F.concat(F.lit("y"), ks).alias("yuid"), data.alias("data"))

    # the names table: lux_id key for 0/2/4, label key for 1/5, none for 3
    names = c.select(
        F.when(m.isin(0, 2, 4), F.concat(F.lit("y"), ks)).alias("lux_id"),
        F.when(m.isin(1, 5), F.concat(F.lit("Origname"), ks)).alias("primary_name"),
        F.when(m.isin(0, 4), F.lit("Roger")).when(m == 1, F.lit("Ada"))
         .when(m == 2, F.lit("Broken")).when(m == 5, F.lit("Ghost")).alias("first_name"),
        F.when(m.isin(0, 4), F.lit("King")).when(m == 1, F.lit("Lovelace"))
         .when(m == 5, F.lit("Writer")).alias("last_name"),
        F.when(m == 0, F.array(F.lit("A."))).alias("middle_names"),
        F.when(m == 1, F.array(F.lit("B."))).alias("middle_initials"),
        F.when(m == 0, F.lit(1945)).when(m == 1, F.lit(1800))
         .when(m == 4, F.lit(1900)).cast("int").alias("birth_year"),
        F.when(m == 0, F.lit(2003)).cast("int").alias("death_year"),
    ).filter(m != 3)

    llm = llm_person_names(merged, names)
    elected = elect_primary_names(merged, llm_names=llm).filter(F.col("lang") == "en")
    return elected.join(llm, "yuid", "left").select(
        "yuid", "primary_name",
        F.col("llm_sort").alias("sort_name"),
        "born_begin", "died_begin",
    )


# NOTE: the u-family numbering skips u06 (u05 -> u07) — a round-5
# numbering accident, same class as the d50 gap (queries/text.py).  Kept
# as a gap on purpose: renumbering would orphan the committed
# CORRECTNESS/BENCH history that records these names.
@query(
    "u07_geonames_place_gate",
    oracle="""
    SELECT 'https://sws.geonames.org/' || c_custkey AS identifier,
           CASE c_custkey % 5
             WHEN 0 THEN 'Town' || c_custkey
             WHEN 1 THEN 'Place' || c_custkey
             WHEN 2 THEN 'U' || c_custkey
             ELSE 'Alt' || c_custkey
           END AS name,
           CASE c_custkey % 5
             WHEN 0 THEN 'POINT ( 2.25 48.5 )'
             WHEN 1 THEN 'POINT ( -179.75 89.75 )'
           END AS wkt,
           CASE c_custkey % 5
             WHEN 0 THEN 'https://sws.geonames.org/p' || c_custkey
             WHEN 1 THEN 'https://sws.geonames.org/c' || c_custkey
           END AS parent,
           CASE c_custkey % 5
             WHEN 0 THEN 'https://kg.example/x' || c_custkey
           END AS equiv,
           CASE c_custkey % 5 WHEN 0 THEN 2 ELSE 1 END AS n_names
    FROM customer WHERE c_custkey % 5 <> 4
    """,
    survey="U1,F16,F18,S5",
)
def u07_geonames_place_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GeoNames RDF/XML mapper (reference sources/general/geonames/
    mapper.py:25-136) through the driver gate, one path per rotation:
    the full record (gn:name election, officialName LAST-per-lang dict
    semantics, 'xx' language filtered, parentFeature over parentCountry,
    labelled seeAlso equivalent, F16 POINT emission), the en-official
    fallback with extreme coords run through the F18 clamp, the untagged
    official fallback with no geometry, the en-alternate fallback, and
    broken XML dropped entirely."""
    from ..functions.geometry import clamp_coords
    from ..sources.geonames import map_records

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 5

    def feat(body):
        return F.concat(
            F.lit(
                '<rdf:RDF xmlns:gn="http://www.geonames.org/ontology#"'
                ' xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
                ' xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"'
                ' xmlns:wgs84_pos="http://www.w3.org/2003/01/geo/wgs84_pos#">'
                '<gn:Feature rdf:about="https://sws.geonames.org/'
            ),
            ks, F.lit('/">'), body, F.lit("</gn:Feature></rdf:RDF>"),
        )

    full = feat(F.concat(
        F.lit("<gn:name>Town"), ks, F.lit("</gn:name>"
              '<gn:officialName xml:lang="fr">Old'), ks,
        F.lit('</gn:officialName><gn:officialName xml:lang="fr">Ville'), ks,
        F.lit('</gn:officialName><gn:alternateName xml:lang="xx">Xx</gn:alternateName>'
              '<gn:alternateName xml:lang="it">Citta'), ks,
        F.lit("</gn:alternateName>"
              "<wgs84_pos:lat>48.5</wgs84_pos:lat><wgs84_pos:long>2.25</wgs84_pos:long>"
              '<gn:parentFeature rdf:resource="https://sws.geonames.org/p'), ks,
        F.lit('"/><gn:parentCountry rdf:resource="https://sws.geonames.org/cX'), ks,
        F.lit('"/><rdfs:seeAlso rdf:resource="https://kg.example/x'), ks, F.lit('"/>'),
    ))
    en_official = feat(F.concat(
        F.lit('<gn:officialName xml:lang="en">Place'), ks,
        F.lit("</gn:officialName>"
              "<wgs84_pos:lat>90</wgs84_pos:lat><wgs84_pos:long>-180</wgs84_pos:long>"
              '<gn:parentCountry rdf:resource="https://sws.geonames.org/c'), ks,
        F.lit('"/>'),
    ))
    untagged = feat(F.concat(F.lit("<gn:officialName>U"), ks, F.lit("</gn:officialName>")))
    en_alt = feat(F.concat(
        F.lit('<gn:alternateName xml:lang="en">Alt'), ks, F.lit("</gn:alternateName>")
    ))
    broken = F.lit("<rdf:RDF><gn:Feature>never closed")
    xml = (
        F.when(m == 0, full).when(m == 1, en_official).when(m == 2, untagged)
        .when(m == 3, en_alt).otherwise(broken)
    )

    loaded = c.select(
        F.struct(
            F.concat(F.lit("https://sws.geonames.org/"), ks, F.lit("/")).alias(
                "identifier"
            ),
            F.lit(None).cast("string").alias("record_time"),
            F.struct(xml.alias("value")).alias("doc"),
        ).alias("doc")
    )
    envs = map_records(loaded)
    doc = F.from_json(
        "data",
        "struct<_label: string, defined_by: string,"
        " part_of: array<struct<id: string, type: string>>,"
        " equivalent: array<struct<id: string, type: string, _label: string>>,"
        " identified_by: array<struct<type: string, content: string>>>",
    )
    return envs.select(
        "identifier",
        doc.getField("_label").alias("name"),
        clamp_coords(doc.getField("defined_by")).alias("wkt"),
        F.try_element_at(doc.getField("part_of"), F.lit(1)).getField("id").alias("parent"),
        F.try_element_at(doc.getField("equivalent"), F.lit(1)).getField("id").alias("equiv"),
        F.size(doc.getField("identified_by")).alias("n_names"),
    )


@query(
    "u08_ycba_transform_gate",
    oracle="""
    SELECT 'r' || c_custkey AS identifier,
           CASE c_custkey % 6
             WHEN 0 THEN 'HumanMadeObject' WHEN 1 THEN 'VisualItem'
             WHEN 2 THEN 'Place' WHEN 3 THEN 'Period' ELSE 'Group'
           END AS rectype,
           CASE WHEN c_custkey % 6 IN (0, 3) THEN 1 ELSE 0 END AS n_classes,
           CASE c_custkey % 6 WHEN 0 THEN 'First' || c_custkey END AS first_stmt,
           CASE c_custkey % 6
             WHEN 1 THEN 'http://vocab.getty.edu/aat/300015637'
           END AS rep_id,
           CASE c_custkey % 6 WHEN 2 THEN 'POINT (2.5 48.25)' END AS wkt,
           CASE c_custkey % 6
             WHEN 3 THEN '1801-01-01T00:00:00'
             WHEN 4 THEN '1900-01-01T00:00:00'
           END AS ts_begin,
           CASE c_custkey % 6 WHEN 3 THEN '1900-12-31T23:59:59' END AS ts_end,
           CASE c_custkey % 6 WHEN 0 THEN 1 ELSE 0 END AS n_equiv
    FROM customer WHERE c_custkey % 6 <> 5
    """,
    survey="U1,P5,F3,F2,F13",
)
def u08_ycba_transform_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The YCBA internal-unit cleanup mapper (reference sources/yale/
    ycba/mapper.py:29-118) through the driver gate, one transform path
    per rotation: the Collection-Item classification + wikidata
    equivalent purge + statement list->first (HumanMadeObject), the
    local-term purge + doubled-AAT fix (VisualItem), GeoJSON->WKT
    (Place), the Period classification + century timespan through the
    F1/F2 parser, timespan normalization (Z strip, junk end prop
    deleted), and unparseable JSON dropped entirely."""
    import json as _json

    from ..sources.ycba import map_records

    aat = "http://vocab.getty.edu/aat/"
    geo_frag = '"defined_by":' + _json.dumps(_json.dumps(
        {"features": [{"geometry": {"type": "Point", "coordinates": [2.5, 48.25]}}]}
    )).replace("'", "")

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 6

    hmo = F.concat(
        F.lit('{"id":"https://coll.example/v3/obj/aa/r'), ks,
        F.lit('","type":"HumanMadeObject","identified_by":[{"type":"Identifier",'
              '"content":"B.'), ks,
        F.lit('","classified_as":[{"id":"' + aat + '300312355"}]}],'
              '"referred_to_by":[{"type":"LinguisticObject","content":["First'), ks,
        F.lit('","Second"]}],"equivalent":[{"id":"http://www.wikidata.org/entity/Q'),
        ks,
        F.lit('"},{"id":"https://kg.example/e'), ks,
        F.lit('","type":"HumanMadeObject"}]}'),
    )
    vis = F.concat(
        F.lit('{"id":"https://coll.example/v3/vis/bb/r'), ks,
        F.lit('","type":"VisualItem","represents":[{"id":"' + aat + aat
              + '300015637"},{"id":"http://collection.britishart.yale.edu/term/5"}]}'),
    )
    pla = F.concat(
        F.lit('{"id":"https://coll.example/v3/pla/cc/r'), ks,
        F.lit('","type":"Place",' + geo_frag + "}"),
    )
    per = F.concat(
        F.lit('{"id":"https://coll.example/v3/per/dd/r'), ks,
        F.lit('","type":"Period","identified_by":[{"type":"Name",'
              '"content":"19th century","classified_as":[{"id":"'
              + aat + '300404670"}]}]}'),
    )
    grp = F.concat(
        F.lit('{"id":"https://coll.example/v3/grp/ee/r'), ks,
        F.lit('","type":"Group","formed_by":{"type":"Formation","timespan":'
              '{"begin_of_the_begin":"1900-01-01T00:00:00Z",'
              '"end_of_the_end":"junkdate"}}}'),
    )
    value = (
        F.when(m == 0, hmo).when(m == 1, vis).when(m == 2, pla)
        .when(m == 3, per).when(m == 4, grp).otherwise(F.lit("not json {"))
    )
    loaded = c.select(
        F.concat(F.lit("r"), ks).alias("identifier"),
        F.lit("2026-01-01T00:00:00").alias("record_time"),
        value.alias("value"),
    )
    envs = map_records(loaded, namespace="https://coll.example/v3/")
    doc = F.from_json(
        "data",
        "struct<type: string, classified_as: array<struct<id: string>>,"
        " referred_to_by: array<struct<content: string>>,"
        " represents: array<struct<id: string>>, defined_by: string,"
        " equivalent: array<struct<id: string>>,"
        " timespan: struct<begin_of_the_begin: string, end_of_the_end: string>,"
        " formed_by: struct<timespan: struct<begin_of_the_begin: string,"
        " end_of_the_end: string>>>",
    )

    def nsize(col):
        return F.when(col.isNotNull(), F.size(col)).otherwise(F.lit(0))

    return envs.select(
        "identifier",
        "rectype",
        nsize(doc.getField("classified_as")).alias("n_classes"),
        F.try_element_at(doc.getField("referred_to_by"), F.lit(1))
        .getField("content").alias("first_stmt"),
        F.try_element_at(doc.getField("represents"), F.lit(1))
        .getField("id").alias("rep_id"),
        doc.getField("defined_by").alias("wkt"),
        F.coalesce(
            doc.getField("timespan").getField("begin_of_the_begin"),
            doc.getField("formed_by").getField("timespan").getField("begin_of_the_begin"),
        ).alias("ts_begin"),
        F.coalesce(
            doc.getField("timespan").getField("end_of_the_end"),
            doc.getField("formed_by").getField("timespan").getField("end_of_the_end"),
        ).alias("ts_end"),
        nsize(doc.getField("equivalent")).alias("n_equiv"),
    )


@query(
    "u09_wof_place_gate",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           CASE c_custkey % 5
             WHEN 0 THEN 'London' || c_custkey
             WHEN 1 THEN 'Tiny' || c_custkey
             WHEN 2 THEN 'Isle' || c_custkey
             ELSE 'Scat' || c_custkey
           END AS label,
           CASE c_custkey % 5 WHEN 0 THEN 2 ELSE 1 END AS n_names,
           CASE c_custkey % 5
             WHEN 0 THEN 'http://www.wikidata.org/entity/Q' || c_custkey
           END AS equiv0,
           CASE c_custkey % 5
             WHEN 0 THEN 'https://gazetteer.example/wof/' || (1000000 + c_custkey)
             WHEN 1 THEN 'https://gazetteer.example/wof/55'
           END AS parent,
           CASE c_custkey % 5
             WHEN 0 THEN 'POLYGON ((0.0 0.0, 0.5 0.0, 0.5 0.5, 0.0 0.5, 0.0 0.0))'
             WHEN 1 THEN 'POLYGON ((1.0 2.0, 1.5 2.0, 1.5 2.5, 1.0 2.5, 1.0 2.0))'
             WHEN 2 THEN 'POLYGON ((0.0 0.0, 0.5 0.0, 0.5 0.5, 0.0 0.5, 0.0 0.0))'
             ELSE 'POINT (2.5 48.25 )'
           END AS wkt
    FROM customer WHERE c_custkey % 5 <> 4
    """,
    survey="U1,S13,F15,F16,F17,F19",
)
def u09_wof_place_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WOF Place mapper (reference sources/general/wof/mapper.py:
    57-266) through the driver gate, one path per rotation: preferred
    names through the F15 must-have filter + concordance equivalents +
    parent_id + a kept polygon; wof:name fallback + the placetype-ladder
    hierarchy parent + tiny-area polygon demoted to the bbox fallback; a
    MultiPolygon that is really one ring, unwrapped; a real multipolygon
    with no bbox falling back to the label point (reference formatting,
    trailing space kept); and a record with no properties dropped."""
    from ..sources.wof import map_records

    big = "[[0.0,0.0],[0.5,0.0],[0.5,0.5],[0.0,0.5],[0.0,0.0]]"
    tiny = "[[0.0,0.0],[0.001,0.0],[0.001,0.001],[0.0,0.001],[0.0,0.0]]"

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 5

    full = F.concat(
        F.lit('{"id":'), ks,
        F.lit(',"properties":{"name:eng_x_preferred":["London'), ks,
        F.lit('"],"name:fra_x_preferred":["Londres'), ks,
        F.lit('"],"name:xyz_x_preferred":["Nope"],"wof:concordances":'
              '{"wd:id":"Q'), ks,
        F.lit('"},"wof:parent_id":'), (k + 1000000).cast("string"),
        F.lit('},"geometry":{"type":"Polygon","coordinates":[' + big + "]}}"),
    )
    tinyrec = F.concat(
        F.lit('{"id":'), ks,
        F.lit(',"properties":{"wof:name":"Tiny'), ks,
        F.lit('","wof:parent_id":-1,"wof:placetype":"locality",'
              '"wof:hierarchy":[{"county_id":55,"country_id":7}]},'
              '"bbox":[1.0,2.0,1.5,2.5],'
              '"geometry":{"type":"Polygon","coordinates":[' + tiny + "]}}"),
    )
    isle = F.concat(
        F.lit('{"id":'), ks,
        F.lit(',"properties":{"name:eng_x_preferred":["Isle'), ks,
        F.lit('"]},"geometry":{"type":"MultiPolygon","coordinates":[['
              + big + "]]}}"),
    )
    scat = F.concat(
        F.lit('{"id":'), ks,
        F.lit(',"properties":{"wof:name":"Scat'), ks,
        F.lit('","lbl:latitude":48.25,"lbl:longitude":2.5},'
              '"geometry":{"type":"MultiPolygon","coordinates":[['
              + big + "],[" + tiny + "]]}}"),
    )
    empty = F.concat(F.lit('{"id":'), ks, F.lit(',"properties":{}}'))
    body = (
        F.when(m == 0, full).when(m == 1, tinyrec).when(m == 2, isle)
        .when(m == 3, scat).otherwise(empty)
    )
    loaded = c.select(ks.alias("id"), body.alias("body"))
    envs = map_records(loaded)
    doc = F.from_json(
        "data",
        "struct<_label: string, defined_by: string,"
        " identified_by: array<struct<content: string, language: string>>,"
        " equivalent: array<struct<id: string>>,"
        " part_of: array<struct<id: string>>>",
    )
    return envs.select(
        "identifier",
        doc.getField("_label").alias("label"),
        F.size(doc.getField("identified_by")).alias("n_names"),
        F.try_element_at(doc.getField("equivalent"), F.lit(1)).getField("id")
        .alias("equiv0"),
        F.try_element_at(doc.getField("part_of"), F.lit(1)).getField("id")
        .alias("parent"),
        doc.getField("defined_by").alias("wkt"),
    )


@query(
    "u10_viaf_cluster_gate",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           CASE c_custkey % 4
             WHEN 0 THEN 'Person' WHEN 1 THEN 'Group' ELSE 'Place'
           END AS rectype,
           CASE c_custkey % 4
             WHEN 0 THEN 'Author ' || c_custkey
             WHEN 1 THEN 'Press ' || c_custkey
             ELSE 'Town ' || c_custkey
           END AS label,
           CASE c_custkey % 4 WHEN 0 THEN 2 ELSE 1 END AS n_names,
           CASE c_custkey % 4
             WHEN 0 THEN 'http://id.loc.gov/authorities/names/n' || c_custkey
             WHEN 1 THEN 'http://d-nb.info/gnd/' || c_custkey
           END AS equiv0,
           CASE c_custkey % 4
             WHEN 0 THEN '1900-01-01T00:00:00'
           END AS born_begin,
           CASE c_custkey % 4
             WHEN 1 THEN '1880-01-01T00:00:00'
           END AS active_end
    FROM customer WHERE c_custkey % 4 <> 3
    """,
    survey="U1,F1,F5,F15",
)
def u10_viaf_cluster_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VIAF cluster mapper (reference sources/authorities/oclc/
    mapper.py:1-295) through the driver gate, one path per rotation: a
    Personal cluster with the LC-sourced primary election, a WKP-only
    heading skipped, spaced LC pair-equivalents normalized, and lived
    dates; a Corporate cluster with a GND @nsid equivalent and a
    flourished Active span ending at the death-parse BEGIN; a
    Geographic cluster; and a UniformTitleWork cluster dropped."""
    from ..sources.viaf import map_records

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 4

    def cluster(body):
        return F.concat(
            F.lit('<VIAFCluster xmlns="http://viaf.org/viaf/terms#">'),
            body, F.lit("</VIAFCluster>"),
        )

    person = cluster(F.concat(
        F.lit("<nameType>Personal</nameType><mainHeadings>"
              "<data><text>Wiki Only</text><sources><s>WKP</s></sources></data>"
              "<data><text>Author "), ks,
        F.lit("</text><sources><s>LC</s></sources></data>"
              "<data><text>Alt Author</text><sources><s>NDL</s></sources></data>"
              "</mainHeadings><sources>"
              '<source nsid="x">LC|n  '), ks,
        F.lit("</source></sources>"
              "<birthDate>1900</birthDate><deathDate>1960</deathDate>"
              "<dateType>lived</dateType>"),
    ))
    group = cluster(F.concat(
        F.lit("<nameType>Corporate</nameType><mainHeadings><data><text>Press "),
        ks,
        F.lit('</text><sources><s>BNF</s></sources></data></mainHeadings>'
              '<sources><source nsid="http://d-nb.info/gnd/'), ks,
        F.lit('">DNB|'), ks,
        F.lit("</source></sources>"
              "<birthDate>1800</birthDate><deathDate>1880</deathDate>"
              "<dateType>flourished</dateType>"),
    ))
    place = cluster(F.concat(
        F.lit("<nameType>Geographic</nameType><mainHeadings><data><text>Town "),
        ks,
        F.lit("</text><sources><s>LC</s></sources></data></mainHeadings>"),
    ))
    title = cluster(F.lit("<nameType>UniformTitleWork</nameType>"))
    xml = (
        F.when(m == 0, person).when(m == 1, group).when(m == 2, place)
        .otherwise(title)
    )
    loaded = c.select(
        F.struct(
            ks.alias("identifier"),
            F.lit(None).cast("string").alias("record_time"),
            F.struct(xml.alias("xml")).alias("doc"),
        ).alias("doc")
    )
    envs = map_records(loaded)
    doc = F.from_json(
        "data",
        "struct<_label: string,"
        " identified_by: array<struct<content: string>>,"
        " equivalent: array<struct<id: string>>,"
        " born: struct<timespan: struct<begin_of_the_begin: string>>,"
        " carried_out: struct<timespan: struct<end_of_the_end: string>>>",
    )
    return envs.select(
        "identifier", "rectype",
        doc.getField("_label").alias("label"),
        F.size(doc.getField("identified_by")).alias("n_names"),
        F.try_element_at(doc.getField("equivalent"), F.lit(1)).getField("id")
        .alias("equiv0"),
        doc.getField("born").getField("timespan").getField("begin_of_the_begin")
        .alias("born_begin"),
        doc.getField("carried_out").getField("timespan").getField("end_of_the_end")
        .alias("active_end"),
    )


@query(
    "u11_dnb_entity_gate",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           CASE c_custkey % 4
             WHEN 0 THEN 'Person' WHEN 1 THEN 'Group' ELSE 'Place'
           END AS rectype,
           'Ent ' || c_custkey AS label,
           CASE c_custkey % 4
             WHEN 0 THEN 3 ELSE 1
           END AS n_names,
           CASE c_custkey % 4
             WHEN 0 THEN '19' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')
           END AS died_display,
           CASE c_custkey % 4
             WHEN 1 THEN '1900-01-01T00:00:00'
           END AS formed_begin,
           CASE c_custkey % 4 WHEN 2 THEN 'POINT ( 8.68 50.11 )' END AS wkt,
           CASE c_custkey % 4
             WHEN 0 THEN 'https://kg.example/same' || c_custkey
           END AS equiv0
    FROM customer WHERE c_custkey % 4 <> 3 AND c_custkey % 100 >= 50
    """,
    survey="U1,F1,F15",
)
def u11_dnb_entity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DNB/GND entity-graph mapper (reference sources/libraries/dnb/
    mapper.py) through the driver gate: a person with pref/variant/
    pseudonym names, a sameAs equivalent, and a 2-digit death year
    completed with the birth century (keys restricted to k%100 >= 50 so
    the completed year always follows the 1900 birth); an organization
    with an establishment year; a place with a GeoJSON point; an
    unroutable @type dropped."""
    import json as _json

    from ..sources.dnb import map_records

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 4
    dd2 = F.lpad((k % 100).cast("string"), 2, "0")

    person = F.concat(
        F.lit('{"@id":"https://d-nb.info/gnd/'), ks,
        F.lit('","@type":"person","preferredName":"Ent '), ks,
        F.lit('","variantName":["V '), ks,
        F.lit('"],"pseudonym":[{"preferredName":"P '), ks,
        F.lit('"}],"sameAs":[{"@id":"https://kg.example/same'), ks,
        F.lit('"}],"dateOfBirth":"1900","dateOfDeath":"'), dd2, F.lit('"}'),
    )
    group = F.concat(
        F.lit('{"@id":"https://d-nb.info/gnd/'), ks,
        F.lit('","@type":"organization","preferredName":"Ent '), ks,
        F.lit('","dateOfEstablishment":"1900"}'),
    )
    place = F.concat(
        F.lit('{"@id":"https://d-nb.info/gnd/'), ks,
        F.lit('","@type":"place","preferredName":"Ent '), ks,
        F.lit('","location":{"geometry":{"type":"Point",'
              '"coordinates":[8.68,50.11]}}}'),
    )
    other = F.lit(_json.dumps({"@id": "https://d-nb.info/gnd/x",
                               "@type": "work"}))
    value = (
        F.when(m == 0, person).when(m == 1, group).when(m == 2, place)
        .otherwise(other)
    )
    loaded = (
        c.filter(k % 100 >= 50)
        .select(
            ks.alias("identifier"),
            F.lit(None).cast("string").alias("record_time"),
            value.alias("value"),
        )
    )
    envs = map_records(loaded)
    doc = F.from_json(
        "data",
        "struct<_label: string, defined_by: string,"
        " identified_by: array<struct<content: string>>,"
        " equivalent: array<struct<id: string>>,"
        " died: struct<display: string>,"
        " formed_by: struct<timespan: struct<begin_of_the_begin: string>>>",
    )
    return envs.select(
        "identifier", "rectype",
        doc.getField("_label").alias("label"),
        F.size(doc.getField("identified_by")).alias("n_names"),
        doc.getField("died").getField("display").alias("died_display"),
        doc.getField("formed_by").getField("timespan")
        .getField("begin_of_the_begin").alias("formed_begin"),
        doc.getField("defined_by").alias("wkt"),
        F.try_element_at(doc.getField("equivalent"), F.lit(1)).getField("id")
        .alias("equiv0"),
    )


@query(
    "u13_snac_constellation_gate",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           CASE WHEN c_custkey % 3 = 1 THEN 'Group' ELSE 'Person' END AS rectype,
           CASE WHEN c_custkey % 3 <> 2 THEN 'Primary ' || c_custkey
           END AS primary_name,
           CASE c_custkey % 3
             WHEN 0 THEN '1850-01-01T00:00:00'
           END AS born_begin,
           CASE c_custkey % 3
             WHEN 1 THEN '1900-12-31T23:59:59'
           END AS dissolved_end,
           CASE c_custkey % 3
             WHEN 0 THEN 'https://archive.example/ark:/99/t' || c_custkey
           END AS equiv0
    FROM customer
    """,
    survey="U1,F1",
)
def u13_snac_constellation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SNAC constellation mapper (reference sources/archives/snac/
    mapper.py) through the driver gate: a person whose score-99 entry
    beats an earlier lower-scored name, with a mayBeSameAs equivalent
    and a birth date; a corporateBody with a Disestablishment; and a
    record with no name entries keeping its envelope with no names,
    exactly as the reference emits it."""
    from ..sources.snac import map_records

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 3

    person = F.concat(
        F.lit('{"ark":"https://archive.example/ark:/99/c'), ks,
        F.lit('","entityType":{"term":"person"},"nameEntries":['
              '{"original":"Alt '), ks,
        F.lit('","preferenceScore":"50"},{"original":"Primary '), ks,
        F.lit('","preferenceScore":"99"}],"relations":[{"type":'
              '{"term":"mayBeSameAs"},"targetArkID":'
              '"https://archive.example/ark:/99/t'), ks,
        F.lit('"}],"dates":[{"fromType":{"term":"Birth"},'
              '"fromDate":"1850"}]}'),
    )
    group = F.concat(
        F.lit('{"ark":"https://archive.example/ark:/99/c'), ks,
        F.lit('","entityType":{"term":"corporateBody"},"nameEntries":['
              '{"original":"Primary '), ks,
        F.lit('"}],"dates":[{"toType":{"term":"Disestablishment"},'
              '"toDate":"1900"}]}'),
    )
    empty = F.concat(
        F.lit('{"ark":"https://archive.example/ark:/99/c'), ks,
        F.lit('","entityType":{"term":"person"}}'),
    )
    value = F.when(m == 0, person).when(m == 1, group).otherwise(empty)
    loaded = c.select(
        F.struct(
            ks.alias("identifier"),
            F.lit(None).cast("string").alias("record_time"),
            value.alias("raw"),
        ).alias("doc")
    )
    # snac's loader parses jsonl; feed the mapper's expected shape directly
    from ..sources.snac import RAW_SCHEMA

    parsed = loaded.select(
        F.col("doc").getField("identifier").alias("identifier"),
        F.col("doc").getField("record_time").alias("record_time"),
        F.from_json(F.col("doc").getField("raw"),
                    RAW_SCHEMA.split(" doc ")[-1].strip()).alias("docbody"),
    )
    shaped = parsed.select(
        F.struct(
            F.col("identifier"), F.col("record_time"),
            F.col("docbody").alias("doc"),
        ).alias("doc")
    )
    envs = map_records(shaped)
    doc = F.from_json(
        "data",
        "struct<identified_by: array<struct<content: string,"
        " classified_as: array<struct<id: string>>>>,"
        " equivalent: array<struct<id: string>>,"
        " born: struct<timespan: struct<begin_of_the_begin: string>>,"
        " dissolved_by: struct<timespan: struct<end_of_the_end: string>>>",
    )
    primary = F.try_element_at(
        F.filter(
            doc.getField("identified_by"),
            lambda n: F.exists(
                n.getField("classified_as"),
                lambda cc: cc.getField("id").endswith("primaryName"),
            ),
        ),
        F.lit(1),
    ).getField("content")
    return envs.select(
        "identifier", "rectype",
        primary.alias("primary_name"),
        doc.getField("born").getField("timespan").getField("begin_of_the_begin")
        .alias("born_begin"),
        doc.getField("dissolved_by").getField("timespan")
        .getField("end_of_the_end").alias("dissolved_end"),
        F.try_element_at(doc.getField("equivalent"), F.lit(1)).getField("id")
        .alias("equiv0"),
    )


@query(
    "u12_fast_marc_gate",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           CASE c_custkey % 4
             WHEN 0 THEN 'Person' WHEN 1 THEN 'Place' ELSE 'Period'
           END AS rectype,
           CASE c_custkey % 4
             WHEN 0 THEN 'Person ' || c_custkey
             WHEN 1 THEN 'Town ' || c_custkey
             ELSE 'Era ' || c_custkey
           END AS primary_name,
           CASE c_custkey % 4
             WHEN 0 THEN '1812-01-01T00:00:00'
             WHEN 2 THEN '1800-01-01T00:00:00'
           END AS ts_begin,
           CASE c_custkey % 4
             WHEN 0 THEN 'http://id.loc.gov/authorities/subjects/n' || c_custkey
             WHEN 1 THEN 'http://id.worldcat.org/fast/' || c_custkey
           END AS equiv0
    FROM customer WHERE c_custkey % 4 <> 3
    """,
    survey="U1,F1",
)
def u12_fast_marc_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAST MARC-XML mapper (reference sources/authorities/oclc ..
    fast/mapper.py) through the driver gate: a 100-tagged Person with a
    date-range fallback and a (DLC) equivalent; a 151-tagged Place with
    an (OCoLC)fst equivalent; a 148-tagged Period with a range
    timespan; and a record with no routing tag dropped."""
    from ..sources.fast import map_records

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 4

    def marc(body):
        return F.concat(
            F.lit('<record xmlns="http://www.loc.gov/MARC21/slim">'),
            body, F.lit("</record>"),
        )

    def df(tag, subs):
        parts = [F.lit(f'<datafield tag="{tag}">')]
        for code, frags in subs:
            parts.append(F.lit(f'<subfield code="{code}">'))
            parts.extend(frags)
            parts.append(F.lit("</subfield>"))
        parts.append(F.lit("</datafield>"))
        return F.concat(*parts)

    person = marc(F.concat(
        df("100", [("a", [F.lit("Person "), ks, F.lit(",")]),
                   ("d", [F.lit("1812-1870")])]),
        df("700", [("0", [F.lit("(DLC)n  "), ks])]),
    ))
    place = marc(F.concat(
        df("151", [("a", [F.lit("Town "), ks])]),
        df("751", [("0", [F.lit("(OCoLC)fst"), ks])]),
    ))
    period = marc(F.concat(
        df("448", [("a", [F.lit("Era "), ks])]),
        df("148", [("a", [F.lit("1800-1899")])]),
    ))
    nothing = marc(df("999", [("a", [F.lit("x")])]))
    xml = (
        F.when(m == 0, person).when(m == 1, place).when(m == 2, period)
        .otherwise(nothing)
    )
    loaded = c.select(
        ks.alias("identifier"),
        F.lit(None).cast("string").alias("record_time"),
        xml.alias("value"),
    )
    envs = map_records(loaded)
    doc = F.from_json(
        "data",
        "struct<identified_by: array<struct<content: string,"
        " classified_as: array<struct<id: string>>>>,"
        " equivalent: array<struct<id: string>>,"
        " born: struct<timespan: struct<begin_of_the_begin: string>>,"
        " timespan: struct<begin_of_the_begin: string>>",
    )
    primary = F.try_element_at(
        F.filter(
            doc.getField("identified_by"),
            lambda n: F.exists(
                n.getField("classified_as"),
                lambda cc: cc.getField("id").endswith("primaryName"),
            ),
        ),
        F.lit(1),
    ).getField("content")
    return envs.select(
        "identifier", "rectype",
        primary.alias("primary_name"),
        F.coalesce(
            doc.getField("born").getField("timespan").getField("begin_of_the_begin"),
            doc.getField("timespan").getField("begin_of_the_begin"),
        ).alias("ts_begin"),
        F.try_element_at(doc.getField("equivalent"), F.lit(1)).getField("id")
        .alias("equiv0"),
    )


@query(
    "u14_dnb_close_match_join",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           CASE c_custkey % 3
             WHEN 0 THEN 'https://kg.example/same' || c_custkey
             WHEN 1 THEN 'https://lcsh.example/sh' || c_custkey
           END AS equiv0,
           CASE c_custkey % 3
             WHEN 0 THEN 'https://lcsh.example/sh' || c_custkey
             WHEN 1 THEN 'https://lcsh.example/sh' || c_custkey
           END AS close0,
           CASE c_custkey % 3 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS n_equiv
    FROM customer
    """,
    survey="U1,K-join",
)
def u14_dnb_close_match_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The macs closeMatch enrichment as a JOIN (reference dnb/mapper.py
    preloads macs.nt into a driver dict; sources/dnb.py joins a parsed
    NT relation against the envelopes so only matched records re-enter
    Python).  Rotations: a record with an existing equivalent gains the
    closeMatch after it; a record with none gains its first; a record
    absent from the table passes through untouched on the no-Python
    side of the join."""
    from ..sources.dnb import enrich_close_matches, load_macs
    from ..sources.loaders import DEFAULT_RECORD_TIME, envelope

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 3

    data = F.when(
        m == 0,
        F.concat(
            F.lit('{"id":"https://d-nb.info/gnd/'), ks,
            F.lit('","type":"Person","equivalent":[{"id":'
                  '"https://kg.example/same'), ks,
            F.lit('","type":"Person"}]}'),
        ),
    ).otherwise(
        F.concat(F.lit('{"id":"https://d-nb.info/gnd/'), ks,
                 F.lit('","type":"Person"}'))
    )
    envelopes = envelope(
        c, "dnb", ks, F.lit("Person"), F.lit(DEFAULT_RECORD_TIME), data
    )
    # the NT relation, synthesized through the same line parser the file
    # path uses: rows only for m in (0, 1)
    nt = c.filter(m != 2).select(
        F.concat(
            F.lit("<https://d-nb.info/gnd/"), ks,
            F.lit("> <http://www.w3.org/2004/02/skos/core#closeMatch> "
                  "<https://lcsh.example/sh"), ks, F.lit("> ."),
        ).alias("value")
    )
    import tempfile

    # load_macs is a text-scan; write the synthesized lines where it can
    # scan them (one-time per call, tiny)
    path = tempfile.mkdtemp() + "/macs_nt"
    nt.write.mode("overwrite").text(path)
    macs = load_macs(spark, path)
    enriched = enrich_close_matches(envelopes, macs)
    doc = F.from_json("data", "struct<equivalent: array<struct<id: string>>>")
    eqs = F.coalesce(
        doc.getField("equivalent"),
        F.array().cast("array<struct<id: string>>"),
    )
    return enriched.select(
        "identifier",
        F.try_element_at(eqs, F.lit(1)).getField("id").alias("equiv0"),
        F.try_element_at(
            F.filter(eqs, lambda e: e.getField("id").startswith("https://lcsh")),
            F.lit(1),
        ).getField("id").alias("close0"),
        F.size(eqs).alias("n_equiv"),
    )


@query(
    "u15_bnf_entity_gate",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           CASE c_custkey % 4
             WHEN 0 THEN 'Person' WHEN 1 THEN 'Place'
             WHEN 2 THEN 'Group' ELSE 'Type'
           END AS rectype,
           CASE c_custkey % 4
             WHEN 0 THEN 'Author ' || c_custkey
             WHEN 1 THEN 'Town ' || c_custkey
             WHEN 2 THEN 'Press ' || c_custkey
             ELSE 'Concept ' || c_custkey
           END AS label,
           CASE c_custkey % 4 WHEN 1 THEN NULL ELSE 'fr' END AS lang0,
           CASE c_custkey % 4 WHEN 0 THEN 2 ELSE 1 END AS n_names,
           CASE c_custkey % 4
             WHEN 0 THEN 'http://viaf.org/viaf/' || c_custkey
           END AS equiv0,
           CASE c_custkey % 4
             WHEN 0 THEN '1900-01-01T00:00:00'
           END AS born_begin,
           CASE c_custkey % 4
             WHEN 0 THEN '1960-12-31T23:59:59'
           END AS died_end,
           CASE c_custkey % 4
             WHEN 2 THEN '1800-01-01T00:00:00'
           END AS formed_begin,
           CASE c_custkey % 4 WHEN 0 THEN 'male' END AS class_label,
           CASE c_custkey % 4
             WHEN 2 THEN 'https://kg.example/group-parents'
           END AS broader0,
           CASE c_custkey % 4
             WHEN 1 THEN 'POINT ( 2.3 48.8 )'
           END AS wkt,
           CASE c_custkey % 4
             WHEN 3 THEN 'Mouvement ' || c_custkey || '.'
           END AS note0
    FROM customer
    """,
    survey="U1,F1,F16,F23",
)
def u15_bnf_entity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BnF RDF/XML mapper (reference sources/libraries/bnf/
    mapper.py:16-300) through the driver gate, one path per rotation: a
    Person with the full common block (fr pref/alt labels, exactMatch
    before closeMatch), //foaf:gender classification and bio birth/death
    through F1; a Place whose concept node is MISSING (common skipped,
    rdfs:label fallback name untagged) with a geo POINT; a Group with a
    broader ref (non-Place -> broader, not part_of) and an
    integer-datatyped firstYear next to a string-datatyped lastYear the
    integer filter must drop; and a plain Concept with a scopeNote."""
    from ..sources.bnf import map_records as bnf_map

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 4
    ark = "https://data.bnf.fr/ark:/12148/"

    def rdf(body):
        return F.concat(
            F.lit('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">'),
            body, F.lit("</rdf:RDF>"),
        )

    base = F.concat(F.lit(ark), ks)
    person = rdf(F.concat(
        F.lit('<rdf:Description rdf:about="'), base, F.lit('">'
              "<skos:prefLabel>Author "), ks,
        F.lit("</skos:prefLabel><skos:altLabel>A. "), ks,
        F.lit('</skos:altLabel><skos:exactMatch rdf:resource="http://viaf.org/viaf/'),
        ks,
        F.lit('"/><skos:closeMatch rdf:resource="https://kg.example/p"/>'
              "</rdf:Description>"
              '<rdf:Description rdf:about="'), base, F.lit('#about">'
              '<rdf:type rdf:resource="http://xmlns.com/foaf/0.1/Person"/>'
              "<foaf:gender>male</foaf:gender>"
              "<bio:birth>1900</bio:birth><bio:death>1960</bio:death>"
              "</rdf:Description>"),
    ))
    place = rdf(F.concat(
        F.lit('<rdf:Description rdf:about="'), base, F.lit('#about">'
              '<rdf:type rdf:resource='
              '"http://www.w3.org/2003/01/geo/wgs84_pos#SpatialThing"/>'
              "<rdfs:label>Town "), ks,
        F.lit("</rdfs:label><geo:lat>48.8</geo:lat><geo:long>2.3</geo:long>"
              "</rdf:Description>"),
    ))
    group = rdf(F.concat(
        F.lit('<rdf:Description rdf:about="'), base, F.lit('">'
              "<skos:prefLabel>Press "), ks,
        F.lit('</skos:prefLabel>'
              '<skos:broader rdf:resource="https://kg.example/group-parents"/>'
              "</rdf:Description>"
              '<rdf:Description rdf:about="'), base, F.lit('#about">'
              '<rdf:type rdf:resource="http://xmlns.com/foaf/0.1/Organization"/>'
              '<bnf-onto:firstYear rdf:datatype='
              '"http://www.w3.org/2001/XMLSchema#integer">1800</bnf-onto:firstYear>'
              '<bnf-onto:lastYear rdf:datatype='
              '"http://www.w3.org/2001/XMLSchema#string">1880</bnf-onto:lastYear>'
              "</rdf:Description>"),
    ))
    concept = rdf(F.concat(
        F.lit('<rdf:Description rdf:about="'), base, F.lit('">'
              "<skos:prefLabel>Concept "), ks,
        F.lit("</skos:prefLabel><skos:scopeNote>Mouvement "), ks,
        F.lit(".</skos:scopeNote></rdf:Description>"
              '<rdf:Description rdf:about="'), base, F.lit('#about">'
              '<rdf:type rdf:resource='
              '"http://www.w3.org/2004/02/skos/core#Concept"/>'
              "</rdf:Description>"),
    ))
    xml = (
        F.when(m == 0, person).when(m == 1, place).when(m == 2, group)
        .otherwise(concept)
    )
    loaded = c.select(
        F.struct(
            ks.alias("identifier"),
            F.lit(None).cast("string").alias("record_time"),
            F.struct(xml.alias("xml")).alias("doc"),
        ).alias("doc")
    )
    envs = bnf_map(loaded)
    doc = F.from_json(
        "data",
        "struct<_label: string,"
        " identified_by: array<struct<content: string, language: string>>,"
        " equivalent: array<struct<id: string>>,"
        " broader: array<struct<id: string>>,"
        " classified_as: array<struct<_label: string>>,"
        " referred_to_by: array<struct<content: string>>,"
        " born: struct<timespan: struct<begin_of_the_begin: string>>,"
        " died: struct<timespan: struct<end_of_the_end: string>>,"
        " formed_by: struct<timespan: struct<begin_of_the_begin: string>>,"
        " defined_by: string>",
    )
    name0 = F.try_element_at(doc.getField("identified_by"), F.lit(1))
    return envs.select(
        "identifier", "rectype",
        name0.getField("content").alias("label"),
        name0.getField("language").alias("lang0"),
        F.size(doc.getField("identified_by")).alias("n_names"),
        F.try_element_at(doc.getField("equivalent"), F.lit(1)).getField("id")
        .alias("equiv0"),
        doc.getField("born").getField("timespan").getField("begin_of_the_begin")
        .alias("born_begin"),
        doc.getField("died").getField("timespan").getField("end_of_the_end")
        .alias("died_end"),
        doc.getField("formed_by").getField("timespan")
        .getField("begin_of_the_begin").alias("formed_begin"),
        F.try_element_at(doc.getField("classified_as"), F.lit(1))
        .getField("_label").alias("class_label"),
        F.try_element_at(doc.getField("broader"), F.lit(1)).getField("id")
        .alias("broader0"),
        doc.getField("defined_by").alias("wkt"),
        F.try_element_at(doc.getField("referred_to_by"), F.lit(1))
        .getField("content").alias("note0"),
    )


@query(
    "u16_getty_aat_gate",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           CASE c_custkey % 4 WHEN 1 THEN 'Language' ELSE 'Type' END AS rectype,
           CASE c_custkey % 4
             WHEN 0 THEN 'Water ' || c_custkey
             WHEN 1 THEN 'Lang ' || c_custkey
             ELSE 'Plain ' || c_custkey
           END AS label,
           CASE c_custkey % 4 WHEN 0 THEN 2 ELSE 1 END AS n_names,
           CASE c_custkey % 4 WHEN 0 THEN 'en' WHEN 2 THEN 'en' END AS name0_lang,
           CASE c_custkey % 4
             WHEN 0 THEN 'description' WHEN 2 THEN 'note'
           END AS note0_role,
           CASE c_custkey % 4
             WHEN 0 THEN 'http://vocab.getty.edu/aat/300015617'
           END AS broader0
    FROM customer WHERE c_custkey % 4 <> 3
    """,
    survey="U1,P5,F23",
)
def u16_getty_aat_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Getty AAT vocabulary mapper (reference sources/authorities/
    getty/mapper.py:1-559) through the driver gate, one path per
    rotation: a full Type record (Descriptor-coded English primary
    elected as label, AlternateDescriptor French alternate, an
    unmapped-language name DROPPED, a brief-text-coded description
    statement, part_of -> broader); a record typed Language purely by
    the '(language)' label suffix fallback; a record whose statement
    code is unknown (plain 'note' role); and a nameless record the
    mapper must drop entirely (do_common returns False)."""
    from ..sources.getty_vocab import map_aat

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 4
    aat = "http://vocab.getty.edu/aat/"

    full = F.concat(
        F.lit('{"id":"' + aat), ks, F.lit('","type":"Type","_label":"thing '),
        ks,
        F.lit('","identified_by":['
              '{"type":"Name","content":"Water '), ks,
        F.lit('","language":[{"_label":"en"}],'
              '"classified_as":[{"id":"' + aat + '300404670"}]},'
              '{"type":"Name","content":"Aqua '), ks,
        F.lit('","language":[{"_label":"fr"}],'
              '"classified_as":[{"id":'
              '"http://vocab.getty.edu/term/type/AlternateDescriptor"}]},'
              '{"type":"Name","content":"Drop '), ks,
        F.lit('","language":[{"_label":"xx"}]}],'
              '"referred_to_by":[{"content":"Paint note '), ks,
        F.lit('.","language":[{"_label":"en"}],'
              '"classified_as":[{"id":"' + aat + '300435416"}]}],'
              '"part_of":[{"id":"' + aat + '300015617","_label":"paintings"}]}'),
    )
    lang = F.concat(
        F.lit('{"id":"' + aat), ks, F.lit('","type":"Type","_label":"Lang '),
        ks,
        F.lit(' (language)","identified_by":['
              '{"type":"Name","content":"Lang '), ks, F.lit('"}]}'),
    )
    plain = F.concat(
        F.lit('{"id":"' + aat), ks, F.lit('","type":"Type","_label":"x",'
              '"identified_by":[{"type":"Name","content":"Plain '), ks,
        F.lit('","language":[{"_label":"en"}],"classified_as":'
              '[{"id":"http://vocab.getty.edu/term/type/Descriptor"}]}],'
              '"referred_to_by":[{"content":"Misc '), ks,
        F.lit('.","classified_as":[{"id":"' + aat + '300999999"}]}]}'),
    )
    nameless = F.concat(
        F.lit('{"id":"' + aat), ks,
        F.lit('","type":"Type","_label":"ghost","identified_by":[]}'),
    )
    value = (
        F.when(m == 0, full).when(m == 1, lang).when(m == 2, plain)
        .otherwise(nameless)
    )
    loaded = c.select(ks.alias("identifier"), value.alias("value"))
    envs = map_aat(loaded)
    doc = F.from_json(
        "data",
        "struct<_label: string,"
        " identified_by: array<struct<content: string, language: string>>,"
        " referred_to_by: array<struct<role: string>>,"
        " broader: array<struct<id: string>>>",
    )
    name0 = F.try_element_at(doc.getField("identified_by"), F.lit(1))
    return envs.select(
        "identifier", "rectype",
        doc.getField("_label").alias("label"),
        F.size(doc.getField("identified_by")).alias("n_names"),
        name0.getField("language").alias("name0_lang"),
        F.try_element_at(doc.getField("referred_to_by"), F.lit(1))
        .getField("role").alias("note0_role"),
        F.try_element_at(doc.getField("broader"), F.lit(1)).getField("id")
        .alias("broader0"),
    )


@query(
    "u17_getty_ulan_gate",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           CASE c_custkey % 4 WHEN 2 THEN 'Group' ELSE 'Person' END AS rectype,
           CASE c_custkey % 4
             WHEN 0 THEN 'Artist ' || c_custkey
             WHEN 1 THEN 'Elder ' || c_custkey
             ELSE 'Guild ' || c_custkey
           END AS label,
           CASE c_custkey % 4 WHEN 0 THEN 3 ELSE 0 END AS n_classes,
           CASE c_custkey % 4 WHEN 0 THEN 'gender' END AS class0_role,
           CASE c_custkey % 4 WHEN 0 THEN 'nationality' END AS class1_role,
           CASE c_custkey % 4
             WHEN 0 THEN 'http://vocab.getty.edu/aat/300386154'
           END AS class2_id,
           CASE c_custkey % 4
             WHEN 0 THEN '1800-01-01T00:00:00'
           END AS born_begin,
           CASE c_custkey % 4
             WHEN 0 THEN '1800-01-01T23:59:59'
           END AS born_end,
           CASE c_custkey % 4
             WHEN 0 THEN '1860-12-19T23:59:59'
           END AS died_end,
           CASE c_custkey % 4
             WHEN 2 THEN '1635-01-01T00:00:00'
           END AS formed_begin,
           CASE c_custkey % 4
             WHEN 0 THEN '1820-01-01T00:00:00'
           END AS active_begin,
           CASE c_custkey % 4
             WHEN 0 THEN 'http://vocab.getty.edu/tgn/7011781'
           END AS active_place
    FROM customer WHERE c_custkey % 4 <> 3
    """,
    survey="U1,F1,F5",
)
def u17_getty_ulan_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Getty ULAN agent mapper through the driver gate, one path per
    rotation: a Person with metatype-flagged classifications (gender and
    nationality roles resolved through the nested flag, an undetermined
    value dropped, one direct-accept class), a 24:00:00 birth bound
    fixed and a death midnight promoted, and an Active carried_out whose
    took_place_at loses its '-place' suffix; a Person whose 200-year
    lifespan the F5 sanity check clears (born/died both popped); a
    Group routed to formed_by with a short-year timespan through F1; and
    a non-agent record the mapper must drop.  The '-agent' identifier
    suffix is stripped on every path."""
    from ..sources.getty_vocab import map_ulan

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 4
    aat = "http://vocab.getty.edu/aat/"
    ulan = "http://vocab.getty.edu/ulan/"

    person = F.concat(
        F.lit('{"id":"' + ulan), ks, F.lit('-agent","type":"Person",'
              '"identified_by":[{"type":"Name","content":"Artist '), ks,
        F.lit('","language":[{"_label":"en"}],"classified_as":'
              '[{"id":"' + aat + '300404670"}]}],'
              '"classified_as":['
              '{"id":"' + aat + '300189559","_label":"male",'
              '"classified_as":[{"id":"' + aat + '300055147"}]},'
              '{"id":"' + aat + '300111159","_label":"British",'
              '"classified_as":[{"id":"' + aat + '300379842"}]},'
              '{"id":"' + aat + '300379012","_label":"undetermined"},'
              '{"id":"' + aat + '300386154","_label":"artist"}],'
              '"born":{"timespan":{"begin_of_the_begin":"1800-01-01T00:00:00",'
              '"end_of_the_end":"1800-01-01T24:00:00"}},'
              '"died":{"timespan":{"begin_of_the_begin":"1860-12-19T00:00:00",'
              '"end_of_the_end":"1860-12-19T00:00:00"}},'
              '"carried_out":[{"classified_as":[{"id":"' + aat + '300393177"}],'
              '"timespan":{"begin_of_the_begin":"1820"},'
              '"took_place_at":[{"id":"http://vocab.getty.edu/tgn/7011781-place",'
              '"_label":"London"}]}]}'),
    )
    elder = F.concat(
        F.lit('{"id":"' + ulan), ks, F.lit('-agent","type":"Person",'
              '"identified_by":[{"type":"Name","content":"Elder '), ks,
        F.lit('","language":[{"_label":"en"}],"classified_as":'
              '[{"id":"' + aat + '300404670"}]}],'
              '"born":{"timespan":{"begin_of_the_begin":"1700-01-01T00:00:00"}},'
              '"died":{"timespan":{"end_of_the_end":"1900-06-01T00:00:00"}}}'),
    )
    guild = F.concat(
        F.lit('{"id":"' + ulan), ks, F.lit('-agent","type":"Group",'
              '"identified_by":[{"type":"Name","content":"Guild '), ks,
        F.lit('","language":[{"_label":"en"}],"classified_as":'
              '[{"id":"' + aat + '300404670"}]}],'
              '"formed_by":{"timespan":{"begin_of_the_begin":"1635"}}}'),
    )
    thing = F.concat(
        F.lit('{"id":"' + ulan), ks,
        F.lit('-agent","type":"Type","identified_by":'
              '[{"type":"Name","content":"x"}]}'),
    )
    value = (
        F.when(m == 0, person).when(m == 1, elder).when(m == 2, guild)
        .otherwise(thing)
    )
    loaded = c.select(
        F.concat(ks, F.lit("-agent")).alias("identifier"), value.alias("value")
    )
    envs = map_ulan(loaded)
    doc = F.from_json(
        "data",
        "struct<_label: string,"
        " classified_as: array<struct<id: string, role: string>>,"
        " born: struct<timespan: struct<begin_of_the_begin: string,"
        "   end_of_the_end: string>>,"
        " died: struct<timespan: struct<end_of_the_end: string>>,"
        " formed_by: struct<timespan: struct<begin_of_the_begin: string>>,"
        " carried_out: array<struct<"
        "   timespan: struct<begin_of_the_begin: string>,"
        "   took_place_at: array<struct<id: string>>>>>",
    )
    classes = F.coalesce(
        doc.getField("classified_as"),
        F.array().cast("array<struct<id: string, role: string>>"),
    )
    act0 = F.try_element_at(doc.getField("carried_out"), F.lit(1))
    return envs.select(
        "identifier", "rectype",
        doc.getField("_label").alias("label"),
        F.size(classes).alias("n_classes"),
        F.try_element_at(classes, F.lit(1)).getField("role").alias("class0_role"),
        F.try_element_at(classes, F.lit(2)).getField("role").alias("class1_role"),
        F.try_element_at(classes, F.lit(3)).getField("id").alias("class2_id"),
        doc.getField("born").getField("timespan").getField("begin_of_the_begin")
        .alias("born_begin"),
        doc.getField("born").getField("timespan").getField("end_of_the_end")
        .alias("born_end"),
        doc.getField("died").getField("timespan").getField("end_of_the_end")
        .alias("died_end"),
        doc.getField("formed_by").getField("timespan")
        .getField("begin_of_the_begin").alias("formed_begin"),
        act0.getField("timespan").getField("begin_of_the_begin")
        .alias("active_begin"),
        F.try_element_at(act0.getField("took_place_at"), F.lit(1))
        .getField("id").alias("active_place"),
    )


@query(
    "u18_getty_tgn_gate",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           'Place' AS rectype,
           CASE c_custkey % 3
             WHEN 0 THEN 'City ' || c_custkey
             ELSE 'Region ' || c_custkey
           END AS label,
           CASE c_custkey % 3 WHEN 0 THEN 1 ELSE 0 END AS n_classes,
           CASE c_custkey % 3
             WHEN 0 THEN 'http://vocab.getty.edu/aat/300008372'
           END AS class0_id,
           CASE c_custkey % 3
             WHEN 0 THEN 'http://vocab.getty.edu/tgn/7008038'
           END AS part0_id,
           CASE c_custkey % 3 WHEN 0 THEN 'Francia' END AS part0_label,
           CASE c_custkey % 3
             WHEN 1 THEN 'http://vocab.getty.edu/tgn/1000003'
           END AS broader0_id,
           CASE c_custkey % 3
             WHEN 0 THEN 'POINT ( 2.35 48.85 )'
           END AS wkt
    FROM customer WHERE c_custkey % 3 <> 2
    """,
    survey="U1,F16",
)
def u18_getty_tgn_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Getty TGN place mapper through the driver gate, completing
    the vocabulary trio (AAT u16, ULAN u17): a Place with an accepted
    place-type classification (an unaccepted one dropped), spatial
    coordinates folded into a POINT, and the ONE broader entry flagged
    as preferred parent (aat 300449152) elected into part_of over a
    plain sibling; a Place with no preferred flag whose broader entries
    all land in broader; and a nameless record the mapper must drop."""
    from ..sources.getty_vocab import map_tgn

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    m = k % 3
    aat = "http://vocab.getty.edu/aat/"
    tgn = "http://vocab.getty.edu/tgn/"

    city = F.concat(
        F.lit('{"id":"' + tgn), ks, F.lit('","type":"Place",'
              '"identified_by":[{"type":"Name","content":"City '), ks,
        F.lit('","language":[{"_label":"en"}],"classified_as":'
              '[{"id":"' + aat + '300404670"}]},'
              '{"type":"crm:E47_Spatial_Coordinates","value":"[2.35, 48.85]"}],'
              '"classified_as":['
              '{"id":"' + aat + '300008372","_label":"inhabited places"},'
              '{"id":"' + aat + '300111159","_label":"not a place type"}],'
              '"part_of":['
              '{"id":"' + tgn + '1000003","_label":"Europe"},'
              '{"id":"' + tgn + '7008038","_label":"Francia","classified_as":'
              '[{"id":"' + aat + '300449152"}]}]}'),
    )
    region = F.concat(
        F.lit('{"id":"' + tgn), ks, F.lit('","type":"Place",'
              '"identified_by":[{"type":"Name","content":"Region '), ks,
        F.lit('","language":[{"_label":"en"}],"classified_as":'
              '[{"id":"' + aat + '300404670"}]}],'
              '"part_of":[{"id":"' + tgn + '1000003","_label":"Europe"}],'
              '"broader":[{"id":"' + tgn + '7029392","_label":"Other"}]}'),
    )
    ghost = F.concat(
        F.lit('{"id":"' + tgn), ks, F.lit('","type":"Place","identified_by":[]}'),
    )
    value = F.when(m == 0, city).when(m == 1, region).otherwise(ghost)
    loaded = c.select(ks.alias("identifier"), value.alias("value"))
    envs = map_tgn(loaded)
    doc = F.from_json(
        "data",
        "struct<_label: string,"
        " classified_as: array<struct<id: string>>,"
        " part_of: array<struct<id: string, _label: string>>,"
        " broader: array<struct<id: string>>,"
        " defined_by: string>",
    )
    classes = F.coalesce(
        doc.getField("classified_as"),
        F.array().cast("array<struct<id: string>>"),
    )
    part0 = F.try_element_at(doc.getField("part_of"), F.lit(1))
    return envs.select(
        "identifier", "rectype",
        doc.getField("_label").alias("label"),
        F.size(classes).alias("n_classes"),
        F.try_element_at(classes, F.lit(1)).getField("id").alias("class0_id"),
        part0.getField("id").alias("part0_id"),
        part0.getField("_label").alias("part0_label"),
        F.try_element_at(doc.getField("broader"), F.lit(1)).getField("id")
        .alias("broader0_id"),
        doc.getField("defined_by").alias("wkt"),
    )
