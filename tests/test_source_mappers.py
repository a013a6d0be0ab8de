"""U1 breadth: real per-source mapper shapes (wikidata + artic museum)
running registry-driven end-to-end — loader config -> envelopes -> the
shared pipeline envelope parser — with no engine changes."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from data_pipeline_spark.pipeline.envelope import with_doc
from data_pipeline_spark.registry import SourceRegistry

WD_ENTITIES = [
    # explicit P31 human -> Person; VIAF + ULAN external ids; US nationality
    {
        "id": "Q937",
        "modified": "2026-02-01T00:00:00Z",
        "labels": {
            "en": {"language": "en", "value": "Albert Person"},
            "de": {"language": "de", "value": "Albert Persoon"},
        },
        "claims": {
            "P31": [{"mainsnak": {"datavalue": {"value": {"id": "Q5"}}}}],
            "P214": [{"mainsnak": {"datavalue": {"value": "75121530"}}}],
            "P245": [{"mainsnak": {"datavalue": {"value": "500115588"}}}],
            "P27": [{"mainsnak": {"datavalue": {"value": {"id": "Q30"}}}}],
        },
    },
    # no useful P31 -> property smell test: place-family props dominate
    {
        "id": "Q1709",
        "labels": {"en": {"language": "en", "value": "Someplace"}},
        "claims": {
            "P625": [{"mainsnak": {"datavalue": {"value": "geo"}}}],
            "P1082": [{"mainsnak": {"datavalue": {"value": "1000"}}}],
            "P47": [{"mainsnak": {"datavalue": {"value": "x"}}}],
            "P1566": [{"mainsnak": {"datavalue": {"value": "2950159"}}}],
        },
    },
    # disambiguation page -> aborted (no envelope row)
    {
        "id": "Q4167410",
        "labels": {"en": {"language": "en", "value": "disambig"}},
        "claims": {"P31": [{"mainsnak": {"datavalue": {"value": {"id": "Q4167410"}}}}]},
    },
    # nothing useful -> Type default
    {"id": "Q999999", "labels": {"en": {"language": "en", "value": "Mystery"}}, "claims": {}},
]


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_wikidata_mapper_end_to_end(spark, tmp_path):
    from data_pipeline_spark.sources.wikidata import CONFIG

    dump = tmp_path / "wd.jsonl"
    _write_jsonl(dump, WD_ENTITIES)

    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    loaded = src.component("loader")(spark, src.config)
    envelopes = src.component("mapper")(loaded)

    rows = {r.identifier: r for r in envelopes.collect()}
    # disambiguation page dropped
    assert set(rows) == {"Q937", "Q1709", "Q999999"}
    assert rows["Q937"].rectype == "Person"  # P31 table
    assert rows["Q1709"].rectype == "Place"  # property smell test
    assert rows["Q999999"].rectype == "Type"  # default
    assert rows["Q937"].record_time == "2026-02-01T00:00:00Z"

    doc = json.loads(rows["Q937"].data)
    eq_ids = {e["id"] for e in doc["equivalent"]}
    assert "https://viaf.org/viaf/75121530" in eq_ids  # P214 template
    assert "http://vocab.getty.edu/ulan/500115588" in eq_ids  # P245 template
    assert all(e["type"] == "Person" for e in doc["equivalent"])
    # nationality classification from P27 Q30
    assert {c["id"] for c in doc["classified_as"]} == {
        "http://vocab.getty.edu/aat/300107956"
    }
    # multilingual labels -> Name structs with language refs
    names = {n["content"]: n for n in doc["identified_by"]}
    assert set(names) == {"Albert Person", "Albert Persoon"}
    assert names["Albert Persoon"]["language"][0]["id"].endswith("/de")
    assert doc["_label"] == "Albert Person"
    assert doc["id"] == "http://www.wikidata.org/entity/Q937"

    # the envelopes parse through the SHARED pipeline doc schema
    parsed = with_doc(envelopes)
    got = parsed.filter(F.col("identifier") == "Q937").select("doc.equivalent").collect()[0]
    assert len(got.equivalent) == 2


ARTIC_ROWS = [
    {"id": 111, "api_model": "artworks", "title": "A Painting",
     "alt_titles": ["The Painting"], "description": "Oil on canvas",
     "timestamp": "2026-03-01T00:00:00"},
    {"id": 222, "api_model": "agents", "is_artist": True, "title": "Jane Painter",
     "birth_date": "1850", "death_date": "1920"},
    {"id": 333, "api_model": "agents", "is_artist": False, "title": "Some Museum"},
    {"id": 444, "api_model": "exhibitions", "title": "Big Show"},
]


def test_artic_mapper_end_to_end(spark, tmp_path):
    from data_pipeline_spark.sources.artic import CONFIG

    dump = tmp_path / "artic.jsonl"
    _write_jsonl(dump, ARTIC_ROWS)

    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    loaded = src.component("loader")(spark, src.config)
    envelopes = src.component("mapper")(loaded)

    rows = {r.identifier: r for r in envelopes.collect()}
    assert rows["111"].rectype == "HumanMadeObject"
    assert rows["222"].rectype == "Person"
    assert rows["333"].rectype == "Group"
    assert rows["444"].rectype == "Activity"

    art = json.loads(rows["111"].data)
    assert art["id"] == "https://api.artic.edu/api/v1/artworks/111"
    names = {n["content"]: n["classified_as"][0]["id"] for n in art["identified_by"]}
    assert names["A Painting"].endswith("primaryName")
    assert names["The Painting"].endswith("alternateName")
    assert art["referred_to_by"][0]["content"] == "Oil on canvas"

    jane = json.loads(rows["222"].data)
    assert jane["id"] == "https://api.artic.edu/api/v1/agents/222"
    assert jane["born"]["timespan"]["begin_of_the_begin"] == "1850-01-01T00:00:00"
    assert jane["died"]["timespan"]["end_of_the_end"] == "1920-12-31T23:59:59"
    assert "born" not in json.loads(rows["333"].data)

    # merge_order flows from config through the registry map
    assert reg.merge_order_map()["artic"] == 15


LC_RECORDS = [
    # PersonalName authority with a German variant, a note, a bnf + viaf
    # equivalent (bnf stripped), lcnaf routing
    {
        "identifier": "n79021164",
        "record_time": "2026-03-01T00:00:00",
        "graph": [
            {
                "id": "http://id.loc.gov/authorities/names/n79021164",
                "types": ["madsrdf:PersonalName", "madsrdf:Authority"],
                "auth_labels": [{"value": "Twain, Mark, 1835-1910", "lang": "eng"}],
                "variants": [{"value": "Clemens, Samuel", "lang": "ger"}],
                "notes": ["American humorist"],
                "exact_external": [
                    "http://viaf.org/viaf/50566653",
                    "http://data.bnf.fr/ark:/12148/cb118898896",
                ],
            }
        ],
    },
    # Geographic class reachable only through the identifiesRWO hop, and a
    # -781 subdivision suffix on the identifier (stripped before lookup
    # would fail -> graph keys use the STRIPPED id)
    {
        "identifier": "n79006971-781",
        "graph": [
            {
                "id": "http://id.loc.gov/authorities/names/n79006971",
                "types": ["madsrdf:Authority"],
                "auth_labels": [{"value": "Boston (Mass.)"}],
                "rwo_ref": "_:rwo1",
            },
            {"id": "_:rwo1", "types": ["madsrdf:Geographic"]},
        ],
    },
    # LCSH topical concept -> Type default, lcsh routing; the top node id
    # appears TWICE (JSON-LD splits properties across entries) — the
    # last entry wins, like the reference's nodes-dict build
    {
        "identifier": "sh85005249",
        "graph": [
            {
                "id": "http://id.loc.gov/authorities/subjects/sh85005249",
                "types": ["madsrdf:Topic"],
                "auth_labels": [{"value": "stale first entry"}],
            },
            {
                "id": "http://id.loc.gov/authorities/subjects/sh85005249",
                "types": ["madsrdf:Topic", "madsrdf:Authority"],
                "auth_labels": [{"value": "Amphibians"}],
            },
        ],
    },
    # deprecated authority -> trashed
    {
        "identifier": "n00000000",
        "graph": [
            {
                "id": "http://id.loc.gov/authorities/names/n00000000",
                "types": ["madsrdf:DeprecatedAuthority"],
                "auth_labels": [{"value": "gone"}],
            }
        ],
    },
    # special-term sentinel -> dropped before any lookup
    {"identifier": "@@LMI-SPECIAL-TERM@@", "graph": []},
    # madsrdf:Title -> trashed (never requested as LinguisticObject here)
    {
        "identifier": "no2026000001",
        "graph": [
            {
                "id": "http://id.loc.gov/authorities/names/no2026000001",
                "types": ["madsrdf:Title"],
                "auth_labels": [{"value": "Some Title"}],
            }
        ],
    },
    # TWO mapped types in record order contrary to TYPE_MAP declaration
    # order: the reference's `for t in @type` loop elects Person (record
    # order), not Place (map order)
    {
        "identifier": "n81018853",
        "graph": [
            {
                "id": "http://id.loc.gov/authorities/names/n81018853",
                "types": ["madsrdf:PersonalName", "madsrdf:Geographic"],
                "auth_labels": [{"value": "Record-order election"}],
            }
        ],
    },
    # typed ONLY with the full foaf URI — must elect Person, not fall
    # through to the Type default (mapper.py:27-30 full-URI map entries)
    {
        "identifier": "n85095299",
        "graph": [
            {
                "id": "http://id.loc.gov/authorities/names/n85095299",
                "types": ["http://xmlns.com/foaf/0.1/Person"],
                "auth_labels": [{"value": "Full-URI typed person"}],
            }
        ],
    },
]


def test_lc_mapper_end_to_end(spark, tmp_path):
    from data_pipeline_spark.sources.lc import CONFIG

    dump = tmp_path / "lc.jsonl"
    _write_jsonl(dump, LC_RECORDS)

    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    loaded = src.component("loader")(spark, src.config)
    envelopes = src.component("mapper")(loaded)

    rows = {r.identifier: r for r in envelopes.collect()}
    # deprecated, sentinel and Title records trashed
    assert set(rows) == {
        "n79021164", "n79006971", "sh85005249", "n81018853", "n85095299",
    }
    # record-order election: [PersonalName, Geographic] -> Person
    assert rows["n81018853"].rectype == "Person"
    # full-URI foaf type maps instead of defaulting to Type
    assert rows["n85095299"].rectype == "Person"

    twain = rows["n79021164"]
    assert twain.rectype == "Person" and twain.source == "lcnaf"
    body = json.loads(twain.data)
    assert body["_label"] == "Twain, Mark, 1835-1910"
    langs = {n["content"]: n.get("language") for n in body["identified_by"]}
    # F15 through the mapper: eng -> en, ger -> de
    assert langs == {"Twain, Mark, 1835-1910": "en", "Clemens, Samuel": "de"}
    assert [s["content"] for s in body["referred_to_by"]] == ["American humorist"]
    # fix_links: bnf equivalent stripped, viaf kept
    assert [e["id"] for e in body["equivalent"]] == ["http://viaf.org/viaf/50566653"]

    boston = rows["n79006971"]  # -781 suffix stripped (F12)
    assert boston.rectype == "Place" and boston.source == "lcnaf"  # via RWO hop

    frog = rows["sh85005249"]
    assert frog.rectype == "Type" and frog.source == "lcsh"  # F23 default + routing
    assert json.loads(frog.data)["_label"] == "Amphibians"  # last duplicate node won

    # envelopes parse through the shared pipeline surface
    parsed = with_doc(envelopes)
    assert parsed.filter(F.col("doc").isNotNull()).count() == 5


def _wm_response(identifier, title=None, license=None, licurl="", licsn="",
                 usage="", objname="", desc="", artist="", credit="",
                 no_pages=False, no_imageinfo=False):
    if no_pages:
        return {"identifier": identifier, "data": {"query": {"pages": {}}}}
    page = {"title": title}
    if not no_imageinfo:
        page["imageinfo"] = [{"extmetadata": {
            "License": {"value": license or ""},
            "ObjectName": {"value": objname},
            "ImageDescription": {"value": desc},
            "LicenseUrl": {"value": licurl},
            "UsageTerms": {"value": usage},
            "LicenseShortName": {"value": licsn},
            "Credit": {"value": credit},
            "Artist": {"value": artist},
        }}]
    return {"identifier": identifier, "data": {"query": {"pages": {"123": page}}}}


# identifiers are the F11-munged filenames the fetcher was asked for
# (final/mapper.py:108-127): that munged name is the J11 join key
WM_RESPONSES = [
    # allowed license, HTML in name/description, full credit line
    _wm_response(
        "Cat_photo.jpg", title="File:Cat photo.jpg", license="cc-by-4.0",
        licurl="https://creativecommons.org/licenses/by/4.0",
        licsn="CC BY 4.0", usage="Creative Commons Attribution 4.0",
        objname="<b>A cat</b>", desc="A <i>fluffy</i>\ncat", artist="Bob",
        credit="own work",
    ),
    # pd license with NO LicenseUrl -> UsageTerms in the credit line,
    # null license_uri in the J11 table
    _wm_response("Old_painting.png", title="File:Old painting.png",
                 license="pd", usage="Public Domain"),
    # cropped variant of pd-img (same allowed license) for the J11
    # cropped-preference path
    _wm_response("Old_painting_cropped.png",
                 title="File:Old painting cropped.png",
                 license="pd", usage="Public Domain"),
    _wm_response("Locked.jpg", title="File:Locked.jpg",
                 license="all-rights-reserved"),
    _wm_response("Missing.jpg", no_pages=True),
    _wm_response("NoInfo.jpg", title="File:NoInfo.jpg", no_imageinfo=True),
    _wm_response("Scan.tiff", title="File:Scan.tiff", license="cc0"),
]


def test_wikimedia_mapper_and_j11_end_to_end(spark, tmp_path):
    """U1 #4 + concrete J11: imageinfo responses -> DigitalImage envelopes
    (license/extension/missing-data gates) -> (filename, license_uri)
    lookup -> enrich_wikimedia_licenses validates access points, including
    the cropped-variant preference — F11 munge to J11 join end to end."""
    from data_pipeline_spark.pipeline.enrich import enrich_wikimedia_licenses
    from data_pipeline_spark.sources.wikimedia import CONFIG, licenses_from_mapped

    dump = tmp_path / "wm.jsonl"
    _write_jsonl(dump, WM_RESPONSES)

    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    loaded = src.component("loader")(spark, src.config)
    envelopes = src.component("mapper")(loaded)

    rows = {r.identifier: r for r in envelopes.collect()}
    # bad license / missing pages / no imageinfo / bad extension all trashed
    assert set(rows) == {
        "Cat_photo.jpg", "Old_painting.png", "Old_painting_cropped.png",
    }
    assert all(r.rectype == "DigitalImage" and r.source == "wikimedia"
               for r in rows.values())

    cat = json.loads(rows["Cat_photo.jpg"].data)
    assert cat["access_point"][0]["id"] == (
        "https://commons.wikimedia.org/wiki/Special:Filepath/Cat photo.jpg"
    )
    assert cat["identified_by"][0]["content"] == "A cat"  # F14 strip
    by_role = {s["role"]: s["content"] for s in cat["referred_to_by"]}
    assert by_role["description"] == "A fluffy cat"
    assert by_role["rights_statement"] == (
        '<span>A cat by Bob own work, '
        '<a href="https://creativecommons.org/licenses/by/4.0">CC BY 4.0</a></span>'
    )
    assert cat["subject_to"][0]["classified_as"][0]["id"] == (
        "https://creativecommons.org/licenses/by/4.0"
    )
    pd_img = json.loads(rows["Old_painting.png"].data)
    assert "subject_to" not in pd_img or pd_img["subject_to"] is None
    # cname falls back to the title (extension and all, mapper.py:80)
    assert any(s["content"] == "<span>Old painting.png, Public Domain</span>"
               for s in pd_img["referred_to_by"])

    # ---- J11: mapper output becomes the license lookup ----
    licenses = licenses_from_mapped(envelopes)
    lic_rows = {r.filename: r.license_uri for r in licenses.collect()}
    # keyed by the fetch identifier = F11-munged filename
    assert lic_rows["Cat_photo.jpg"] == "https://creativecommons.org/licenses/by/4.0"
    assert lic_rows["Old_painting.png"] is None  # pd: url-less license

    aps = spark.createDataFrame(
        [
            # unnormalized spelling of a licensed image -> kept via F11
            ("rec1", "http://commons.wikimedia.org/wiki/Special:FilePath/Cat%20photo.jpg"),
            # wikimedia image with NO license row -> dropped
            ("rec1", "https://commons.wikimedia.org/wiki/Special:Filepath/Unknown.jpg"),
            # non-wikimedia, non-yale -> dropped
            ("rec1", "https://elsewhere.example/img.jpg"),
            # yale passes through license-less
            ("rec2", "https://media.yale.edu/content/xyz.jpg"),
            # cropped + base both present -> cropped kept, base removed
            ("rec3", "https://commons.wikimedia.org/wiki/Special:Filepath/Old%20painting%20cropped.png"),
            ("rec3", "https://commons.wikimedia.org/wiki/Special:Filepath/Old%20painting.png"),
        ],
        ["record_uri", "ap_id"],
    )
    got = {(r.record_uri, r.ap, r.license_uri)
           for r in enrich_wikimedia_licenses(aps, licenses).collect()}
    assert (
        "rec1",
        "https://commons.wikimedia.org/wiki/special:filepath/Cat_photo.jpg",
        "https://creativecommons.org/licenses/by/4.0",
    ) in got
    assert ("rec2", "https://media.yale.edu/content/xyz.jpg", None) in got
    rec3 = {t for t in got if t[0] == "rec3"}
    assert len(rec3) == 1 and "cropped" in next(iter(rec3))[1]
    assert not any("Unknown" in t[1] or "elsewhere" in t[1] for t in got)


JP_RECORDS = [
    # person: pref transcription (ja-Latn tag splits to ja), alt label with
    # a transcription duplicating the PREF literal (dupes-set drop), birth/
    # death dates, activity fields + biography
    {
        "identifier": "00270331",
        "doc": {
            "uri": "http://id.ndl.go.jp/auth/entity/00270331",
            "prefLabel": {
                "literalForm": "夏目漱石",
                "transcriptions": [
                    {"value": "Natsume Soseki", "lang": "ja-Latn"},
                    {"value": "夏目漱石", "lang": "ja"},  # == pref -> dropped
                ],
            },
            "altLabel": [
                {"literalForm": "夏目金之助",
                 "transcriptions": [
                     {"value": "Natsume Kinnosuke", "lang": "ja-Latn"},
                     {"value": "夏目漱石", "lang": "ja"},  # in dupes -> dropped
                 ]},
                {"literalForm": "夏目金之助"},  # repeated literal -> dropped
            ],
            "exactMatch": [{"uri": "http://viaf.org/viaf/36925766"}],
            # realName URI joins equivalents typed like the record
            # (reference mapper.py:269-274)
            "realName": [{"uri": "http://id.ndl.go.jp/auth/entity/r9",
                          "label": "Real Name"}],
            "primaryTopic": {
                "type": {"uri": "http://xmlns.com/foaf/0.1/Person"},
                # topic name not in dupes -> AlternateName (mapper.py:257-260)
                "name": "Souseki Natume",
                "dateOfBirth": "1867-02-09", "dateOfDeath": "1916-12-09",
                "fieldOfActivityOfThePerson": ["小説家"],
                "biographicalInformation": ["Novelist of the Meiji era"],
            },
        },
    },
    # group via FRBR Family -> Group + family classification; record-level
    # previousName/laterName attributions (label fallback = pref literal)
    # and anotherName equivalent; topic name already in dupes -> dropped
    {
        "identifier": "00000001",
        "doc": {
            "uri": "http://id.ndl.go.jp/auth/entity/00000001",
            "label": "Some Family",
            "prefLabel": {},
            "previousName": [{"uri": "http://id.ndl.go.jp/auth/entity/x1",
                              "label": "Old Family Name"}],
            "laterName": [{"uri": "http://id.ndl.go.jp/auth/entity/x2"}],
            "anotherName": [{"uri": "http://id.ndl.go.jp/auth/entity/a3",
                             "label": "Other"}],
            "primaryTopic": {
                "type": {"uri": "http://RDVocab.info/uri/schema/FRBRentitiesRDA/Family"},
                "name": "Some Family",
                "dateOfEstablishment": "1800",
                "familyHistory": ["A long family history"],
            },
        },
    },
    # geographic scheme -> Place
    {
        "identifier": "00646102",
        "doc": {
            "uri": "http://id.ndl.go.jp/auth/entity/00646102",
            "prefLabel": {"literalForm": "東京都"},
            "inScheme": {"uri": "http://id.ndl.go.jp/auth#geographicNames"},
        },
    },
    # uniform title -> dropped
    {
        "identifier": "00999999",
        "doc": {
            "uri": "http://id.ndl.go.jp/auth/entity/00999999",
            "prefLabel": {"literalForm": "源氏物語"},
            "inScheme": {"uri": "http://id.ndl.go.jp/auth#uniformTitles"},
        },
    },
    # unknown scheme, no topic type -> dropped
    {
        "identifier": "00888888",
        "doc": {"uri": "http://id.ndl.go.jp/auth/entity/00888888",
                "prefLabel": {"literalForm": "mystery"}},
    },
]


def test_japan_mapper_end_to_end(spark, tmp_path):
    from data_pipeline_spark.sources.japan import CONFIG

    dump = tmp_path / "ndl.jsonl"
    _write_jsonl(dump, JP_RECORDS)

    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    loaded = src.component("loader")(spark, src.config)
    envelopes = src.component("mapper")(loaded)

    rows = {r.identifier: r for r in envelopes.collect()}
    # uniform title + unknown scheme trashed
    assert set(rows) == {"00270331", "00000001", "00646102"}

    soseki = json.loads(rows["00270331"].data)
    assert rows["00270331"].rectype == "Person"
    names = [(n["content"], n.get("language"),
              n["classified_as"][0]["id"].rsplit("/", 1)[-1])
             for n in soseki["identified_by"]]
    # transcription PrimaryName first (ja from ja-Latn... the SPLIT head),
    # pref anchor, then alt literal + its fresh transcription; both
    # dupes-set drops applied
    assert names == [
        ("Natsume Soseki", "ja", "primaryName"),
        ("夏目漱石", None, "primaryName"),
        ("夏目金之助", None, "alternateName"),
        ("Natsume Kinnosuke", "ja", "alternateName"),
        ("Souseki Natume", None, "alternateName"),  # topic name, not in dupes
    ]
    assert soseki["born"]["timespan"]["begin_of_the_begin"] == "1867-02-09T00:00:00"
    assert soseki["died"]["timespan"]["end_of_the_end"] == "1916-12-09T23:59:59"
    stmts = {(s["content"], s.get("language")) for s in soseki["referred_to_by"]}
    assert ("小説家", "ja") in stmts
    assert ("Novelist of the Meiji era", None) in stmts
    # exactMatch first, then realName — both typed like the record
    assert [e["id"] for e in soseki["equivalent"]] == [
        "http://viaf.org/viaf/36925766",
        "http://id.ndl.go.jp/auth/entity/r9",
    ]
    assert all(e["type"] == "Person" for e in soseki["equivalent"])

    fam = json.loads(rows["00000001"].data)
    assert rows["00000001"].rectype == "Group"
    assert fam["classified_as"][0]["id"].endswith("/family")
    assert fam["identified_by"][0]["content"] == "Some Family"  # label fallback
    # topic name == pref-literal-fallback label -> in dupes -> no extra name
    assert [n["content"] for n in fam["identified_by"]] == ["Some Family"]
    assert fam["formed_by"]["timespan"]["begin_of_the_begin"] == "1800-01-01T00:00:00"
    # previousName then laterName; absent label falls back to pref literal
    assert [(a["assigned"]["_label"], a["classified_as"][0]["id"].rsplit("/", 1)[-1])
            for a in fam["attributed_by"]] == [
        ("Old Family Name", "Q79030196"),
        ("Some Family", "Q79030284"),
    ]
    assert fam["equivalent"] == [
        {"id": "http://id.ndl.go.jp/auth/entity/a3", "type": "Group"}
    ]

    assert rows["00646102"].rectype == "Place"


# ---------------------------------------------------------------- geonames
def _gn_xml(about, body):
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="no"?>'
        '<rdf:RDF xmlns:gn="http://www.geonames.org/ontology#"'
        ' xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"'
        ' xmlns:wgs84_pos="http://www.w3.org/2003/01/geo/wgs84_pos#">'
        f'<gn:Feature rdf:about="{about}">{body}</gn:Feature></rdf:RDF>'
    )


GN_RECORDS = [
    # full record: gn:name wins the election; officialName dict semantics
    # (LAST fr value wins, position kept), language filter drops 'xx';
    # parentFeature beats parentCountry; seeAlso -> labelled equivalent
    {
        "identifier": "https://sws.geonames.org/2988507/",
        "doc": {"value": _gn_xml(
            "https://sws.geonames.org/2988507/",
            "<gn:name>Paris</gn:name>"
            '<gn:officialName xml:lang="fr">Paname</gn:officialName>'
            '<gn:officialName xml:lang="fr">Paris</gn:officialName>'
            '<gn:officialName xml:lang="en">Paris</gn:officialName>'
            '<gn:alternateName xml:lang="xx">Parigi-x</gn:alternateName>'
            '<gn:alternateName xml:lang="it">Parigi</gn:alternateName>'
            "<wgs84_pos:lat>48.85341</wgs84_pos:lat>"
            "<wgs84_pos:long>2.3488</wgs84_pos:long>"
            '<gn:parentFeature rdf:resource="https://sws.geonames.org/3012874/"/>'
            '<gn:parentCountry rdf:resource="https://sws.geonames.org/3017382/"/>'
            '<rdfs:seeAlso rdf:resource="https://dbpedia.org/resource/Paris"/>'
        )},
    },
    # no gn:name -> en officialName elected; parentCountry fallback
    {
        "identifier": "https://sws.geonames.org/999/",
        "doc": {"value": _gn_xml(
            "https://sws.geonames.org/999/",
            '<gn:officialName xml:lang="en">Nowhere</gn:officialName>'
            '<gn:parentCountry rdf:resource="https://sws.geonames.org/1/"/>'
        )},
    },
    # untagged officialName only; no coords -> no defined_by
    {
        "identifier": "https://sws.geonames.org/888/",
        "doc": {"value": _gn_xml(
            "https://sws.geonames.org/888/",
            "<gn:officialName>Utopia</gn:officialName>"
        )},
    },
    # broken XML -> dropped (reference returns None)
    {"identifier": "https://sws.geonames.org/777/",
     "doc": {"value": "<rdf:RDF><gn:Feature>no close"}},
]


def test_geonames_xml_mapper_end_to_end(spark, tmp_path):
    from data_pipeline_spark.sources.geonames import CONFIG

    dump = tmp_path / "gn.jsonl"
    _write_jsonl(dump, GN_RECORDS)
    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    loaded = src.component("loader")(spark, src.config)
    envelopes = src.component("mapper")(loaded)

    rows = {r.identifier: r for r in envelopes.collect()}
    assert set(rows) == {
        "https://sws.geonames.org/2988507",  # trailing slash trimmed
        "https://sws.geonames.org/999",
        "https://sws.geonames.org/888",
    }
    assert all(r.rectype == "Place" for r in rows.values())

    paris = json.loads(rows["https://sws.geonames.org/2988507"].data)
    assert paris["_label"] == "Paris"
    names = [(n["content"], n.get("language"),
              n["classified_as"][0]["id"].rsplit("/", 1)[-1])
             for n in paris["identified_by"]]
    # fr dict slot keeps first-seen position but LAST value; xx filtered
    assert names == [
        ("Paris", "fr", "primaryName"),
        ("Paris", "en", "primaryName"),
        ("Parigi", "it", "alternateName"),
    ]
    assert paris["defined_by"] == "POINT ( 2.3488 48.85341 )"
    assert [p["id"] for p in paris["part_of"]] == ["https://sws.geonames.org/3012874/"]
    assert paris["equivalent"] == [{
        "id": "https://dbpedia.org/resource/Paris", "type": "Place",
        "_label": "Paris",
    }]

    nowhere = json.loads(rows["https://sws.geonames.org/999"].data)
    assert nowhere["_label"] == "Nowhere"
    assert [p["id"] for p in nowhere["part_of"]] == ["https://sws.geonames.org/1/"]
    assert "defined_by" not in nowhere

    utopia = json.loads(rows["https://sws.geonames.org/888"].data)
    assert utopia["_label"] == "Utopia"
    assert utopia["identified_by"][0]["content"] == "Utopia"
    assert "language" not in utopia["identified_by"][0]


def test_geonames_bulk_dump_mapper(spark, tmp_path):
    """loader.py:46-73: TSV rows -> envelopes, hierarchy join, alternates
    minus the primary, keep-first per geonameid."""
    from data_pipeline_spark.sources.geonames import (
        load_dump, load_hierarchy, map_dump,
    )

    allc = tmp_path / "allCountries.txt"
    cols = lambda *v: "\t".join(v)  # noqa: E731
    allc.write_text("\n".join([
        cols("2988507", "Paris", "Paris", "Paname,Paris,Lutece",
             "48.85341", "2.3488", "P", "PPLC", "FR", "", "11", "75", "", "",
             "2138551", "", "42", "Europe/Paris", "2024-01-15"),
        cols("999", "Nowhere", "Nowhere", "", "", "", "P", "PPL", "XX", "",
             "", "", "", "", "0", "", "0", "UTC", "2024-02-01"),
        cols("2988507", "Paris DUPE", "x", "", "0", "0", "P", "PPL", "FR", "",
             "", "", "", "", "0", "", "0", "UTC", "2024-03-01"),
    ]) + "\n")
    hier = tmp_path / "hierarchy.txt"
    hier.write_text(cols("3012874", "2988507", "ADM") + "\n")

    envs = map_dump(load_dump(spark, str(allc)), load_hierarchy(spark, str(hier)))
    rows = {r.identifier: r for r in envs.collect()}
    assert set(rows) == {
        "https://sws.geonames.org/2988507", "https://sws.geonames.org/999",
    }
    paris = json.loads(rows["https://sws.geonames.org/2988507"].data)
    assert paris["_label"] == "Paris"  # keep-first, not the DUPE row
    assert [n["content"] for n in paris["identified_by"]] == [
        "Paris", "Paname", "Lutece",  # primary + alternates minus primary
    ]
    assert paris["defined_by"] == "POINT ( 2.3488 48.85341 )"
    assert paris["part_of"][0]["id"] == "https://sws.geonames.org/3012874"
    assert rows["https://sws.geonames.org/2988507"].record_time == "2024-01-15T00:00:00"

    nowhere = json.loads(rows["https://sws.geonames.org/999"].data)
    assert "defined_by" not in nowhere and "part_of" not in nowhere


# ------------------------------------------------------------------- ycba
AAT = "http://vocab.getty.edu/aat/"


def _ycba_docs():
    geo = json.dumps(
        {"features": [{"geometry": {"type": "Point", "coordinates": [2.5, 48.25]}}]}
    )
    return {
        # HMO: accession -> Collection Item class; wikidata equivalent out;
        # statement content list -> first
        "obj/aa/r1": {
            "id": "https://coll.example/v3/obj/aa/r1", "type": "HumanMadeObject",
            "identified_by": [{"type": "Identifier", "content": "B1977.14.1",
                               "classified_as": [{"id": AAT + "300312355"}]}],
            "referred_to_by": [{"type": "LinguisticObject",
                                "content": ["First", "Second"]}],
            "equivalent": [{"id": "http://www.wikidata.org/entity/Q1"},
                           {"id": "https://kg.example/e1", "type": "HumanMadeObject"}],
        },
        # VisualItem: term purge + doubled-AAT fix
        "vis/bb/r2": {
            "id": "https://coll.example/v3/vis/bb/r2", "type": "VisualItem",
            "represents": [
                {"id": AAT + AAT + "300015637"},
                {"id": "http://collection.britishart.yale.edu/term/5"},
            ],
        },
        # Place: GeoJSON -> WKT
        "pla/cc/r3": {
            "id": "https://coll.example/v3/pla/cc/r3", "type": "Place",
            "defined_by": geo,
        },
        # Period: AAT class + timespan via the F2 century parser
        "per/dd/r4": {
            "id": "https://coll.example/v3/per/dd/r4", "type": "Period",
            "identified_by": [{"type": "Name", "content": "19th century",
                               "classified_as": [{"id": AAT + "300404670"}]}],
        },
        # timespan normalization: Z stripped, junk end prop deleted
        "grp/ee/r5": {
            "id": "https://coll.example/v3/grp/ee/r5", "type": "Group",
            "formed_by": {"type": "Formation", "timespan": {
                "begin_of_the_begin": "1900-01-01T00:00:00Z",
                "end_of_the_end": "junkdate",
            }},
        },
    }


def test_ycba_transform_paths(spark):
    from data_pipeline_spark.sources.ycba import map_records

    docs = _ycba_docs()
    loaded = spark.createDataFrame(
        [(k, json.dumps(v)) for k, v in docs.items()] + [("bad/xx/r9", "not json {")],
        "identifier string, value string",
    )
    envs = map_records(loaded, namespace="https://coll.example/v3/")
    rows = {r.identifier: r for r in envs.collect()}
    assert set(rows) == set(docs)  # broken JSON dropped

    hmo = json.loads(rows["obj/aa/r1"].data)
    assert rows["obj/aa/r1"].rectype == "HumanMadeObject"
    assert [c["id"] for c in hmo["classified_as"]] == [AAT + "300404024"]
    assert hmo["referred_to_by"][0]["content"] == "First"
    assert [e["id"] for e in hmo["equivalent"]] == ["https://kg.example/e1"]

    vis = json.loads(rows["vis/bb/r2"].data)
    assert [r["id"] for r in vis["represents"]] == [AAT + "300015637"]

    pla = json.loads(rows["pla/cc/r3"].data)
    assert pla["defined_by"] == "POINT (2.5 48.25)"

    per = json.loads(rows["per/dd/r4"].data)
    assert [c["id"] for c in per["classified_as"]] == [AAT + "300081446"]
    # the F1 parser's century convention (f01 golden): Nth century =
    # (N-1)*100+1 .. N*100
    assert per["timespan"]["begin_of_the_begin"] == "1801-01-01T00:00:00"
    assert per["timespan"]["end_of_the_end"] == "1900-12-31T23:59:59"
    assert per["timespan"]["identified_by"][0]["content"] == "19th century"

    grp = json.loads(rows["grp/ee/r5"].data)
    ts = grp["formed_by"]["timespan"]
    assert ts["begin_of_the_begin"] == "1900-01-01T00:00:00"
    assert "end_of_the_end" not in ts


def test_ycba_skips_null_value_rows(spark):
    """A null raw value is a skipped row, as in every other JSON source,
    not a TypeError that fails the job."""
    from data_pipeline_spark.sources.ycba import map_records

    loaded = spark.createDataFrame(
        [("obj/aa/r1", json.dumps(_ycba_docs()["obj/aa/r1"])), ("obj/aa/r0", None)],
        "identifier string, value string",
    )
    rows = map_records(loaded, namespace="https://coll.example/v3/").collect()
    assert [r.identifier for r in rows] == ["obj/aa/r1"]


def test_ycba_fix_links_and_merge_veto(spark):
    from data_pipeline_spark.pipeline.merge_records import should_merge
    from data_pipeline_spark.sources.ycba import (
        CONFIG, map_records, transform_doc,
    )

    # fix_links: equivalents canonicalized with type/_label defaults;
    # nested node ids rewritten; canonicalize-to-None unsets
    doc = {
        "id": "https://coll.example/v3/obj/aa/r1", "type": "HumanMadeObject",
        "_label": "A Painting",
        "equivalent": [{"id": "http://old.example/thing/7"}],
        "produced_by": {"type": "Production",
                        "carried_out_by": [{"id": "http://old.example/person/3",
                                            "type": "Person"}]},
        "shows": [{"id": "http://dead.example/v/1", "type": "VisualItem"}],
    }
    loaded = spark.createDataFrame(
        [("obj/aa/r1", json.dumps(doc))], "identifier string, value string"
    )
    out = map_records(
        loaded, namespace="https://coll.example/v3/",
        rewrites={"http://old.example/": "https://new.example/",
                  "http://dead.example/": None},
    ).collect()[0]
    got = json.loads(out.data)
    assert got["equivalent"] == [{
        "id": "https://new.example/thing/7", "type": "HumanMadeObject",
        "_label": "A Painting",
    }]
    assert got["produced_by"]["carried_out_by"][0]["id"] == "https://new.example/person/3"
    assert "id" not in got["shows"][0]

    # P5: wikidata never folds into a YCBA object record, either direction
    reg = SourceRegistry()
    reg.register_config({**CONFIG, "dump_path": "/nonexistent"})
    vetoes = reg.merge_hooks_map()
    obj = {"type": "HumanMadeObject"}
    wd = {"type": "Person"}
    assert not should_merge(vetoes, obj, "ycba", wd, "wikidata")
    assert not should_merge(vetoes, wd, "wikidata", obj, "ycba")
    assert should_merge(vetoes, obj, "ycba", wd, "japan")
    assert should_merge(vetoes, {"type": "Person"}, "ycba", wd, "wikidata")


def test_ycba_activitystream_harvest_replay(spark, tmp_path):
    """The internal-unit shape end-to-end: S2 AS walk (paged fixture) ->
    R1-R6 change application -> cache -> the YCBA cleanup mapper — a
    mapped source feeding the harvest machinery rather than synthetic
    events."""
    from data_pipeline_spark.sources.harvester import run_harvest
    from data_pipeline_spark.sources.ycba import map_records

    docs = _ycba_docs()
    ns = "https://coll.example/v3/"
    uris = [ns + k for k in docs]

    pages = {
        "https://coll.example/activity_stream/collection1.json": {
            "type": "OrderedCollection",
            "last": {"id": "https://coll.example/as/page2"},
        },
        # oldest page: first three creates
        "https://coll.example/as/page1": {
            "orderedItems": [
                {"type": "Create", "endTime": f"2026-01-0{i+1}T00:00:00",
                 "object": {"id": uris[i]}} for i in range(3)
            ],
        },
        # newest page: an update to r1, creates for r4/r5, a delete for r3
        "https://coll.example/as/page2": {
            "prev": {"id": "https://coll.example/as/page1"},
            "orderedItems": [
                {"type": "Update", "endTime": "2026-01-04T00:00:00",
                 "object": {"id": uris[0]}},
                {"type": "Create", "endTime": "2026-01-05T00:00:00",
                 "object": {"id": uris[3]}},
                {"type": "Create", "endTime": "2026-01-06T00:00:00",
                 "object": {"id": uris[4]}},
                {"type": "Delete", "endTime": "2026-01-07T00:00:00",
                 "object": {"id": uris[2]}},
            ],
        },
    }

    def fetch_record(uri):
        return json.dumps(docs[uri.removeprefix(ns)])

    cache = str(tmp_path / "ycba_cache")
    n = run_harvest(spark, pages.__getitem__,
                    "https://coll.example/activity_stream/collection1.json",
                    cache, fetch_record=fetch_record)
    assert n == 5  # r1 seen once (newest wins), r2-r5 once each

    cached = spark.read.parquet(cache)
    loaded = cached.select(
        F.expr(f"replace(object_uri, '{ns}', '')").alias("identifier"),
        F.col("record_time").cast("string").alias("record_time"),
        F.col("data").alias("value"),
    )
    envs = map_records(loaded, namespace=ns)
    rows = {r.identifier: r for r in envs.collect()}
    # the Place was tombstoned by the delete; everything else mapped
    assert set(rows) == {"obj/aa/r1", "vis/bb/r2", "per/dd/r4", "grp/ee/r5"}
    assert json.loads(rows["per/dd/r4"].data)["timespan"][
        "begin_of_the_begin"] == "1801-01-01T00:00:00"


# -------------------------------------------------------------------- wof
def test_wof_place_mapper_end_to_end(spark, tmp_path):
    """S13 scan -> the WOF Place mapper: names via the F15 must-have
    filter, concordance equivalents, parent election (parent_id, then
    the placetype ladder through wof:hierarchy), and the geometry
    pipeline (polygon keep, tiny-area demotion to bbox, label point)."""
    import sqlite3

    from data_pipeline_spark.sources.wof import (
        load_sqlite_table, map_records, transform_place,
    )

    ns = "https://gazetteer.example/wof/"
    big_ring = [[0.0, 0.0], [0.5, 0.0], [0.5, 0.5], [0.0, 0.5], [0.0, 0.0]]
    tiny_ring = [[0.0, 0.0], [0.001, 0.0], [0.001, 0.001], [0.0, 0.001], [0.0, 0.0]]
    feats = {
        101: {  # full record: names, concordances, parent_id, real polygon
            "id": 101,
            "properties": {
                "name:eng_x_preferred": ["London"],
                "name:fra_x_preferred": ["Londres"],
                "name:xyz_x_preferred": ["Nope"],  # unknown lang filtered
                "wof:name": "London",
                "wof:concordances": {"wd:id": "Q84", "gn:id": 2643743},
                "wof:parent_id": 404,
            },
            "geometry": {"type": "Polygon", "coordinates": [big_ring]},
        },
        102: {  # no preferred names -> wof:name; hierarchy parent; tiny
                # polygon demoted to the bbox fallback
            "id": 102,
            "properties": {
                "wof:name": "Tinyville",
                "wof:parent_id": -1,
                "wof:placetype": "locality",
                "wof:hierarchy": [{"county_id": 55, "country_id": 7}],
            },
            "bbox": [1.0, 2.0, 1.5, 2.5],
            "geometry": {"type": "Polygon", "coordinates": [tiny_ring]},
        },
        103: {  # MultiPolygon that is really one ring, unwrapped
            "id": 103,
            "properties": {"name:eng_x_preferred": ["Isle"]},
            "geometry": {"type": "MultiPolygon", "coordinates": [[big_ring]]},
        },
        104: {  # real multipolygon -> bbox; no bbox -> label point
            "id": 104,
            "properties": {
                "wof:name": "Scattered",
                "lbl:latitude": 48.25, "lbl:longitude": 2.5,
            },
            "geometry": {"type": "MultiPolygon",
                         "coordinates": [[big_ring], [tiny_ring]]},
        },
        105: {"id": 105, "properties": {}},  # no props -> dropped
    }

    db = tmp_path / "wof.sqlite"
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE geojson (id INTEGER, body TEXT)")
    conn.executemany(
        "INSERT INTO geojson VALUES (?, ?)",
        [(k, json.dumps(v)) for k, v in feats.items()],
    )
    conn.commit(); conn.close()

    envs = map_records(load_sqlite_table(spark, str(db), n_partitions=2))
    rows = {r.identifier: r for r in envs.collect()}
    assert set(rows) == {"101", "102", "103", "104"}
    assert all(r.rectype == "Place" for r in rows.values())

    lon = json.loads(rows["101"].data)
    assert lon["_label"] == "London"
    assert {(n["content"], n.get("language")) for n in lon["identified_by"]} == {
        ("London", "en"), ("Londres", "fr"),
    }
    assert [e["id"] for e in lon["equivalent"]] == [
        "http://www.wikidata.org/entity/Q84", "https://sws.geonames.org/2643743",
    ]
    assert lon["part_of"][0]["id"] == ns + "404"
    assert lon["defined_by"] == (
        "POLYGON ((0.0 0.0, 0.5 0.0, 0.5 0.5, 0.0 0.5, 0.0 0.0))"
    )

    tiny = json.loads(rows["102"].data)
    assert tiny["identified_by"][0]["content"] == "Tinyville"
    assert "classified_as" not in tiny["identified_by"][0]  # plain Name
    assert tiny["part_of"][0]["id"] == ns + "55"  # locality -> county rung
    assert tiny["defined_by"] == (
        "POLYGON ((1.0 2.0, 1.5 2.0, 1.5 2.5, 1.0 2.5, 1.0 2.0))"
    )

    isle = json.loads(rows["103"].data)
    assert isle["defined_by"].startswith("POLYGON ((0.0 0.0,")

    sca = json.loads(rows["104"].data)
    assert sca["defined_by"] == "POINT (2.5 48.25 )"  # reference formatting

    # adaptive F17: a 1000-point ring simplifies into the 100-600 band
    import math
    n = 1000
    ring = [[round(math.cos(2 * math.pi * i / n), 6),
             round(math.sin(2 * math.pi * i / n), 6)] for i in range(n)]
    ring.append(ring[0])
    doc = transform_place({"id": 1, "properties": {"wof:name": "Disc"},
                           "geometry": {"type": "Polygon", "coordinates": [ring]}})
    pts = doc["defined_by"].count(",") + 1
    assert 100 <= pts <= 601


# -------------------------------------------------------------------- ror
ROR_RECORDS = [
    # full v2 record: display + alias + label names, established year,
    # geonames residence, website, ISNI + wikidata external ids, parent
    {
        "identifier": "04aj4c181",
        "doc": {
            "id": "https://ror.org/04aj4c181",
            "names": [
                {"value": "Example University", "types": ["ror_display", "label"]},
                {"value": "EU", "types": ["alias"]},  # alias skipped
                {"value": "Universitas Exempli", "types": ["label"], "lang": "la"},
            ],
            "labels": [{"label": "Universite Exemple", "iso639": "fr"}],
            "established": 1850,
            "locations": [{"geonames_id": 2643743}],
            "links": [{"type": "website", "value": "https://example.edu"},
                      {"type": "wikipedia", "value": "https://wiki.example/x"}],
            "external_ids": [
                {"type": "ISNI", "all": ["0000 0001 234"]},
                {"type": "Wikidata", "all": ["Q99"]},
                {"type": "FundRef", "all": ["501100"]},
            ],
            "relationships": [
                {"type": "parent", "id": "https://ror.org/parent1",
                 "label": "Parent Org"},
                {"type": "related", "id": "https://ror.org/rel1", "label": "R"},
            ],
        },
    },
    # legacy name field only
    {"identifier": "legacy1",
     "doc": {"id": "https://ror.org/legacy1", "name": "Old Style Org"}},
    # nameless -> dropped
    {"identifier": "noname1", "doc": {"id": "https://ror.org/noname1"}},
]


def test_ror_mapper_end_to_end(spark, tmp_path):
    from data_pipeline_spark.sources.ror import CONFIG

    dump = tmp_path / "ror.jsonl"
    _write_jsonl(dump, ROR_RECORDS)
    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    envelopes = src.component("mapper")(src.component("loader")(spark, src.config))

    rows = {r.identifier: r for r in envelopes.collect()}
    assert set(rows) == {"04aj4c181", "legacy1"}  # nameless dropped
    assert all(r.rectype == "Group" for r in rows.values())

    u = json.loads(rows["04aj4c181"].data)
    names = [(n["content"], n.get("language"),
              (n.get("classified_as") or [{}])[0].get("id", "")) for n in u["identified_by"]]
    assert names == [
        ("Example University", None, "http://vocab.example/primaryName"),
        ("Universitas Exempli", None, ""),  # 'la' not in process langs -> dropped
        ("Universite Exemple", "fr", ""),
    ]
    assert u["formed_by"]["timespan"]["begin_of_the_begin"] == "1850-01-01T00:00:00"
    assert u["formed_by"]["display"] == "1850"
    assert u["residence"][0]["id"] == "https://sws.geonames.org/2643743"
    assert u["subject_of"][0]["digitally_carried_by"]["access_point"][0]["id"] == (
        "https://example.edu"
    )
    # the reference's literal short prefixes, kept verbatim (FundRef ignored)
    assert [e["id"] for e in u["equivalent"]] == ["isni0000 0001 234", "wdQ99"]
    assert u["member_of"] == [{"id": "https://ror.org/parent1", "type": "Group",
                               "_label": "Parent Org"}]

    legacy = json.loads(rows["legacy1"].data)
    assert legacy["identified_by"][0]["content"] == "Old Style Org"
    assert legacy["identified_by"][0]["classified_as"][0]["id"].endswith("primaryName")


def test_column_mapper_empty_record_time_takes_default(spark, tmp_path):
    """The one record-time rule on the Column side: an empty record_time
    becomes the default, exactly as a null one does."""
    from data_pipeline_spark.sources.ror import CONFIG

    dump = tmp_path / "ror.jsonl"
    _write_jsonl(dump, [
        {**ROR_RECORDS[0], "record_time": ""},
        {**ROR_RECORDS[1], "record_time": "2026-03-01T00:00:00"},
    ])
    src = SourceRegistry().register_config({**CONFIG, "dump_path": str(dump)})
    envelopes = src.component("mapper")(src.component("loader")(spark, src.config))
    times = {r.identifier: r.record_time for r in envelopes.collect()}
    assert times == {"04aj4c181": "2026-01-01T00:00:00", "legacy1": "2026-03-01T00:00:00"}


# ------------------------------------------------------------------- gbif
GBIF_RECORDS = [
    # canonical + vernacular, parent, rank class, description with 3-letter
    # lang + source AA, altids (known source classified, unknown -> note)
    {
        "identifier": "5219404",
        "doc": {
            "key": 5219404, "rank": "SPECIES", "parentKey": 5219398,
            "canonicalName": "Canis lupus", "vernacularName": "Gray Wolf",
            "scientificName": "Canis lupus Linnaeus, 1758",
            "description": [
                {"description": "A large canine.", "language": "eng",
                 "source": "Catalogue of Life"},
            ],
            "altids": [
                {"sourceTaxonKey": "COL123",
                 "source": "Catalogue of Life Checklist"},
                {"sourceTaxonKey": "XYZ9", "source": "Obscure DB"},
            ],
        },
    },
    # no canonical/vernacular -> scientificName
    {"identifier": "77", "doc": {"key": 77, "rank": "GENUS",
                                 "scientificName": "Canis"}},
    # nothing but the rank-named field -> data[rank] fallback
    {"identifier": "88", "doc": {"key": 88, "rank": "FAMILY",
                                 "family": "Canidae"}},
]


def test_gbif_mapper_end_to_end(spark, tmp_path):
    from data_pipeline_spark.sources.gbif import CONFIG

    dump = tmp_path / "gbif.jsonl"
    _write_jsonl(dump, GBIF_RECORDS)
    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    envelopes = src.component("mapper")(src.component("loader")(spark, src.config))

    rows = {r.identifier: r for r in envelopes.collect()}
    assert set(rows) == {"5219404", "77", "88"}
    assert all(r.rectype == "Type" for r in rows.values())

    wolf = json.loads(rows["5219404"].data)
    assert wolf["_label"] == "Canis lupus"
    assert wolf["broader"][0]["id"].endswith("/5219398")
    assert wolf["classified_as"][0]["id"] == "http://www.wikidata.org/entity/Q7432"
    names = [(n["content"], n["classified_as"][0]["id"].rsplit("/", 1)[-1],
              n.get("_note")) for n in wolf["identified_by"]]
    assert names == [
        ("Canis lupus", "primaryName", None),
        ("Gray Wolf", "alternateName", None),
        ("COL123", "Q38840", None),          # known source -> wikidata class
        ("XYZ9", "alternateName", "Obscure DB"),  # unknown -> source note
    ]
    desc = wolf["referred_to_by"][0]
    assert desc["content"] == "A large canine."
    assert desc["language"] == "en"  # F15 3->2
    assert desc["_source"] == "Catalogue of Life"

    assert json.loads(rows["77"].data)["_label"] == "Canis"  # scientificName
    assert json.loads(rows["88"].data)["_label"] == "Canidae"


# ------------------------------------------------------- homosaurus, snac
def test_homosaurus_mapper_end_to_end(spark, tmp_path):
    from data_pipeline_spark.sources.homosaurus import CONFIG

    recs = [{
        "identifier": "homoit0000travesti",
        "doc": {
            "skos:prefLabel": "Travesti",
            "skos:altLabel": ["Travestis"],
            "skos:exactMatch": [{"@id": "https://kg.example/e1"}],
            # duplicate of an exactMatch id is NOT re-added; a fresh one is
            "skos:closeMatch": [{"@id": "https://kg.example/e1"},
                                {"@id": "https://kg.example/c2"}],
            "rdfs:comment": "A gender identity term.",
            "skos:broader": [{"@id": "https://vocab.example/homosaurus/parent"}],
        },
    }]
    dump = tmp_path / "homo.jsonl"
    _write_jsonl(dump, recs)
    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    rows = src.component("mapper")(
        src.component("loader")(spark, src.config)).collect()
    assert len(rows) == 1 and rows[0].rectype == "Type"
    doc = json.loads(rows[0].data)
    assert doc["_label"] == "Travesti"
    assert [(n["content"], n["classified_as"][0]["id"].rsplit("/", 1)[-1])
            for n in doc["identified_by"]] == [
        ("Travesti", "primaryName"), ("Travestis", "alternateName")]
    assert [e["id"] for e in doc["equivalent"]] == [
        "https://kg.example/e1", "https://kg.example/c2"]
    assert doc["referred_to_by"][0]["content"] == "A gender identity term."
    assert doc["broader"][0]["id"].endswith("/parent")


def test_snac_mapper_end_to_end(spark, tmp_path):
    from data_pipeline_spark.sources.snac import CONFIG

    recs = [
        # person: score-99 primary among alternates, biogHist XML strip,
        # mayBeSameAs + sameAs equivalents, birth/death + active range
        {
            "identifier": "c1",
            "doc": {
                "ark": "https://archive.example/ark:/99/c1",
                "entityType": {"term": "person"},
                "nameEntries": [
                    {"original": "Trumbull, John", "preferenceScore": "50"},
                    {"original": "Trumbull, John, 1756-1843",
                     "preferenceScore": "99"},
                ],
                "biogHists": [{
                    "text": "<biogHist><p>A   painter of\nthe revolution.</p></biogHist>",
                    "language": {"term": "eng"},
                }],
                "relations": [
                    {"type": {"term": "mayBeSameAs"},
                     "targetArkID": "https://archive.example/ark:/99/x7"},
                    {"type": {"term": "associatedWith"},
                     "targetArkID": "https://archive.example/ark:/99/zz"},
                ],
                "sameAsRelations": [{"uri": "http://viaf.org/viaf/64055773"}],
                "dates": [
                    {"fromType": {"term": "Birth"}, "fromDate": "1756-06-06",
                     "toType": {"term": "Death"}, "toDate": "1843-11-10"},
                    {"fromType": {"term": "Active"}, "fromDate": "1780",
                     "toType": {"term": "Active"}, "toDate": "1830"},
                ],
            },
        },
        # corporateBody -> Group with Establishment/Disestablishment
        {
            "identifier": "c2",
            "doc": {
                "ark": "https://archive.example/ark:/99/c2",
                "entityType": {"term": "corporateBody"},
                "nameEntries": [{"original": "Some Society"}],
                "dates": [
                    {"fromType": {"term": "Establishment"}, "fromDate": "1800"},
                    {"toType": {"term": "Disestablishment"}, "toDate": "1900"},
                ],
            },
        },
    ]
    dump = tmp_path / "snac.jsonl"
    _write_jsonl(dump, recs)
    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    rows = {r.identifier: r
            for r in src.component("mapper")(
                src.component("loader")(spark, src.config)).collect()}

    p = json.loads(rows["c1"].data)
    assert rows["c1"].rectype == "Person"
    assert [(n["content"], n["classified_as"][0]["id"].rsplit("/", 1)[-1])
            for n in p["identified_by"]] == [
        ("Trumbull, John", "alternateName"),
        ("Trumbull, John, 1756-1843", "primaryName"),  # the score-99 entry
    ]
    assert all(n["language"] == "en" for n in p["identified_by"])
    bio = p["referred_to_by"][0]
    assert bio["content"] == "A painter of the revolution."  # tags + ws
    assert bio["language"] == "en"
    assert [e["id"] for e in p["equivalent"]] == [
        "https://archive.example/ark:/99/x7", "http://viaf.org/viaf/64055773"]
    assert p["born"]["timespan"]["begin_of_the_begin"] == "1756-06-06T00:00:00"
    assert p["died"]["timespan"]["end_of_the_end"] == "1843-11-10T23:59:59"
    assert p["active"]["display"] == "1780 - 1830"
    assert p["active"]["timespan"]["begin_of_the_begin"] == "1780-01-01T00:00:00"
    assert p["active"]["timespan"]["end_of_the_end"] == "1830-12-31T23:59:59"

    g = json.loads(rows["c2"].data)
    assert rows["c2"].rectype == "Group"
    assert g["identified_by"][0]["classified_as"][0]["id"].endswith("primaryName")
    assert g["formed_by"]["timespan"]["begin_of_the_begin"] == "1800-01-01T00:00:00"
    assert g["dissolved_by"]["timespan"]["end_of_the_end"] == "1900-12-31T23:59:59"
    assert "born" not in g and "active" not in g


# ---------------------------------------------------------------- nomisma
def test_nomisma_mapper_end_to_end(spark, tmp_path):
    ns = "https://num.example/id/"
    recs = [
        # Mint -> Place with geo point, broader part_of, equivalents
        {
            "identifier": "rome",
            "doc": {"@graph": [
                {"@id": "nm:rome", "@type": ["nmo:Mint"],
                 "skos:prefLabel": [{"@value": "Rome", "@language": "en"},
                                    {"@value": "Roma", "@language": "it"}],
                 "skos:altLabel": {"@value": "Rom", "@language": "de"},
                 "skos:definition": [{"@value": "Mint of Rome",
                                      "@language": "en"}],
                 "skos:exactMatch": [{"@id": "https://kg.example/roma"}],
                 "skos:broader": [{"@id": "nm:italy"}],
                 "foaf:homepage": [{"@id": "https://num.example/rome.html"}]},
                {"@id": ns + "rome#this", "@type": "geo:SpatialThing",
                 "geo:lat": {"@value": "41.9"}, "geo:long": {"@value": "12.5"}},
            ]},
        },
        # Deity -> Person with birth/death gYears + membership lookup
        {
            "identifier": "augustus",
            "doc": {"@graph": [
                {"@id": "nm:augustus", "@type": "foaf:Person",
                 "skos:prefLabel": {"@value": "Augustus", "@language": "en"},
                 "bio:birth": "x", "bio:death": "x",
                 "org:hasMembership": [{"@id": ns + "augustus#m1"}],
                 "org:memberOf": [{"@id": "nm:julioclaudian"}]},
                {"@id": ns + "augustus#m1",
                 "org:organization": {"@id": "nm:imperial_rome"}},
                {"@id": ns + "augustus#birth",
                 "dcterms:date": {"@type": "xsd:gYear", "@value": "-0062"}},
                {"@id": ns + "augustus#death",
                 "dcterms:date": {"@type": "xsd:gYear", "@value": "0014"}},
            ]},
        },
        # Denomination -> Type with broader
        {
            "identifier": "denarius",
            "doc": {"@graph": [
                {"@id": "nm:denarius", "@type": ["nmo:Denomination"],
                 "skos:prefLabel": {"@value": "Denarius", "@language": "en"},
                 "skos:broader": {"@id": "nm:coin"}},
            ]},
        },
        # unroutable type -> dropped
        {"identifier": "odd",
         "doc": {"@graph": [{"@id": "nm:odd", "@type": ["nmo:Whatever"]}]}},
        # no graph -> dropped
        {"identifier": "empty", "doc": {}},
    ]
    dump = tmp_path / "nomisma.jsonl"
    _write_jsonl(dump, recs)

    from data_pipeline_spark.sources.nomisma import CONFIG
    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    rows = {r.identifier: r
            for r in src.component("mapper")(
                src.component("loader")(spark, src.config)).collect()}
    assert set(rows) == {"rome", "augustus", "denarius"}

    rome = json.loads(rows["rome"].data)
    assert rows["rome"].rectype == "Place"
    assert rome["id"] == ns + "rome.jsonld"
    assert [(n["content"], n.get("language")) for n in rome["identified_by"]] == [
        ("Rome", "en"), ("Roma", "it"), ("Rom", "de")]
    assert rome["referred_to_by"][0]["content"] == "Mint of Rome"
    assert rome["equivalent"] == [{"id": "https://kg.example/roma",
                                   "type": "Place"}]
    assert rome["part_of"] == [{"id": ns + "italy.jsonld", "type": "Place"}]
    assert rome["defined_by"] == "POINT ( 12.5 41.9 )"
    assert rome["subject_of"][0]["digitally_carried_by"]["access_point"][0][
        "id"] == "https://num.example/rome.html"

    aug = json.loads(rows["augustus"].data)
    assert rows["augustus"].rectype == "Person"
    assert [m["id"] for m in aug["member_of"]] == [
        ns + "imperial_rome.jsonld", ns + "julioclaudian.jsonld"]
    # BCE gYear through the F1 parser
    assert aug["born"]["timespan"]["begin_of_the_begin"].startswith("-0062")
    assert aug["died"]["timespan"]["end_of_the_end"].startswith("0014")
    assert aug["born"]["display"] == "-0062"

    den = json.loads(rows["denarius"].data)
    assert rows["denarius"].rectype == "Type"
    assert den["broader"] == [{"id": ns + "coin.jsonld", "type": "Type"}]


# ------------------------------------------------------------------ orcid
def _orcid_xml(body):
    return (
        '<record:record xmlns:record="http://www.orcid.org/ns/record"'
        ' xmlns:common="http://www.orcid.org/ns/common"'
        ' xmlns:person="http://www.orcid.org/ns/person"'
        ' xmlns:personal-details="http://www.orcid.org/ns/personal-details"'
        ' xmlns:other-name="http://www.orcid.org/ns/other-name"'
        ' xmlns:researcher-url="http://www.orcid.org/ns/researcher-url"'
        ' xmlns:email="http://www.orcid.org/ns/email"'
        ' xmlns:keyword="http://www.orcid.org/ns/keyword"'
        ' xmlns:external-identifier="http://www.orcid.org/ns/external-identifier"'
        ' xmlns:activities="http://www.orcid.org/ns/activities"'
        ' xmlns:distinction="http://www.orcid.org/ns/distinction"'
        ' xmlns:employment="http://www.orcid.org/ns/employment"'
        ' xmlns:membership="http://www.orcid.org/ns/membership">'
        + body + "</record:record>"
    )


def test_orcid_mapper_end_to_end(spark, tmp_path):
    from data_pipeline_spark.sources.orcid import CONFIG

    full = _orcid_xml(
        "<common:orcid-identifier><common:uri>https://orcid.org/0000-0001-2345-6789"
        "</common:uri></common:orcid-identifier>"
        "<person:person>"
        "<person:name>"
        "<personal-details:given-names>Ada</personal-details:given-names>"
        "<personal-details:family-name>Lovelace</personal-details:family-name>"
        "</person:name>"
        "<other-name:other-names><other-name:other-name>"
        "<other-name:content>Countess of Lovelace</other-name:content>"
        "</other-name:other-name></other-name:other-names>"
        "<person:biography><personal-details:content>First programmer."
        "</personal-details:content></person:biography>"
        "<researcher-url:researcher-urls><researcher-url:researcher-url>"
        "<researcher-url:url-name>Blog</researcher-url:url-name>"
        "<researcher-url:url>https://ada.example/blog</researcher-url:url>"
        "</researcher-url:researcher-url></researcher-url:researcher-urls>"
        "<email:emails><email:email><email:email>ada@example.org</email:email>"
        "</email:email></email:emails>"
        "<keyword:keywords>"
        "<keyword:keyword><keyword:content>computing</keyword:content></keyword:keyword>"
        "<keyword:keyword><keyword:content>maths</keyword:content></keyword:keyword>"
        "<keyword:keyword><keyword:content>computing</keyword:content></keyword:keyword>"
        "</keyword:keywords>"
        "<external-identifier:external-identifiers>"
        "<external-identifier:external-identifier>"
        "<common:external-id-type>Scopus Author ID</common:external-id-type>"
        "<common:external-id-value>7004</common:external-id-value>"
        "</external-identifier:external-identifier>"
        "<external-identifier:external-identifier>"
        "<common:external-id-type>GND</common:external-id-type>"
        "<common:external-id-value>118729276</common:external-id-value>"
        "</external-identifier:external-identifier>"
        "<external-identifier:external-identifier>"
        "<common:external-id-type>ResearcherID</common:external-id-type>"
        "<common:external-id-value>X-1</common:external-id-value>"
        "</external-identifier:external-identifier>"
        "</external-identifier:external-identifiers>"
        "</person:person>"
        "<activities:activities-summary>"
        "<activities:distinctions><activities:affiliation-group>"
        "<distinction:distinction-summary>"
        "<common:role-title>Fellow</common:role-title>"
        "<common:organization><common:name>Royal Society</common:name>"
        "</common:organization>"
        "<common:start-date><common:year>1840</common:year>"
        "<common:month>3</common:month></common:start-date>"
        "</distinction:distinction-summary>"
        "</activities:affiliation-group></activities:distinctions>"
        "<activities:employments><activities:affiliation-group>"
        "<employment:employment-summary><common:organization>"
        "<common:name>Example University</common:name>"
        "<common:disambiguated-organization>"
        "<common:disambiguated-organization-identifier>https://ror.org/04aj4c181"
        "</common:disambiguated-organization-identifier>"
        "</common:disambiguated-organization></common:organization>"
        "</employment:employment-summary>"
        "</activities:affiliation-group></activities:employments>"
        "</activities:activities-summary>"
    )
    credit = _orcid_xml(
        "<common:orcid-identifier><common:uri>https://orcid.org/0000-0002-0000-0001"
        "</common:uri></common:orcid-identifier>"
        "<person:person><person:name>"
        "<personal-details:given-names>Charles</personal-details:given-names>"
        "<personal-details:family-name>Babbage</personal-details:family-name>"
        "<personal-details:credit-name>C. Babbage</personal-details:credit-name>"
        "</person:name></person:person>"
    )
    nameless = _orcid_xml(
        "<common:orcid-identifier><common:uri>https://orcid.org/0000-0003-0000-0002"
        "</common:uri></common:orcid-identifier><person:person/>"
    )
    recs = [
        {"identifier": "0000-0001-2345-6789", "doc": {"xml": full}},
        {"identifier": "0000-0002-0000-0001", "doc": {"xml": credit}},
        {"identifier": "0000-0003-0000-0002", "doc": {"xml": nameless}},
    ]
    dump = tmp_path / "orcid.jsonl"
    _write_jsonl(dump, recs)
    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    rows = {r.identifier: r
            for r in src.component("mapper")(
                src.component("loader")(spark, src.config)).collect()}
    assert set(rows) == {"0000-0001-2345-6789", "0000-0002-0000-0001"}

    ada = json.loads(rows["0000-0001-2345-6789"].data)
    assert ada["id"] == "https://orcid.org/0000-0001-2345-6789"
    assert ada["_label"] == "Ada Lovelace"  # no credit-name -> given+family
    prim = ada["identified_by"][0]
    assert prim["content"] == "Ada Lovelace"
    assert [(p["content"], p["classified_as"][0]["id"].rsplit("/", 1)[-1])
            for p in prim["part"]] == [("Ada", "givenName"),
                                       ("Lovelace", "familyName")]
    kinds = [(n["content"], n["classified_as"][0]["id"].rsplit("/", 1)[-1])
             for n in ada["identified_by"][1:]]
    assert kinds == [("Countess of Lovelace", "alternateName"),
                     ("ada@example.org", "emailAddress")]
    stmts = [s["content"] for s in ada["referred_to_by"]]
    assert stmts == [
        "First programmer.",
        "Interests: computing; maths",  # deduped, joined
        "Fellow (Royal Society ; 1840-03-01 - )",  # padded date, open end
    ]
    pages = [(p["digitally_carried_by"]["_label"],
              p["digitally_carried_by"]["access_point"][0]["id"])
             for p in ada["subject_of"]]
    assert pages == [
        ("Blog", "https://ada.example/blog"),
        ("Scopus Homepage",
         "https://www.scopus.com/authid/detail.uri?authorId=7004"),
    ]  # ResearcherID killed
    assert ada["equivalent"] == [{"id": "https://d-nb.info/gnd/118729276",
                                  "type": "Person"}]
    assert ada["member_of"] == [{"id": "https://ror.org/04aj4c181",
                                 "type": "Group", "_label": "Example University"}]

    cb = json.loads(rows["0000-0002-0000-0001"].data)
    assert cb["_label"] == "C. Babbage"  # credit-name wins


# -------------------------------------------------------------------- bne
def test_bne_mapper_end_to_end(spark, tmp_path):
    from data_pipeline_spark.sources.bne import CONFIG

    recs = [
        # person: P-coded names, equivalent assembly order, birth list
        # carrying [birth, death], places, gender, depiction, bio,
        # nationality + classifications
        {"identifier": "XX1", "doc": {"@graph": [{
            "@id": "https://datos.bne.es/resource/XX1",
            "@type": "https://datos.bne.es/def/C1005",
            "P5001": "Cervantes Saavedra, Miguel de",
            "P5012": ["Cervantes, Miguel de",
                      "Cervantes Saavedra, Miguel de"],  # dupe of pref
            "P5024": ["http://viaf.org/viaf/17220427", "https://kg.example/s1"],
            "sameAs": ["https://kg.example/s1"],
            "seeAlso": "https://kg.example/see1",
            "P5010": ["1547", "1616"],
            "P50119": "Alcala de Henares",
            "P50118": "Madrid",
            "P50116": "Masculino",
            "P3066": "https://img.example/cervantes.jpg",
            "P3067": "Escritor espanol.",
            "P50102": "Espana",
            "P50104": ["Novelista"],
        }]}},
        # impossible lifespan -> both events cleared (F5)
        {"identifier": "XX2", "doc": {"@graph": [{
            "@id": "https://datos.bne.es/resource/XX2",
            "@type": "https://datos.bne.es/def/C1005",
            "P5001": "Impossible Person",
            "P5010": "1900", "P5011": "1600",
        }]}},
        # geographic concept -> Place with broader part_of
        {"identifier": "XX3", "doc": {"@graph": [{
            "@id": "https://datos.bne.es/resource/XX3",
            "@type": "http://www.w3.org/2004/02/skos/core#Concept",
            "inScheme": "https://datos.bne.es/def/geograficos",
            "prefLabel": {"@value": "Toledo", "@language": "es"},
            "altLabel": ["Toletum", "Toledo"],  # second dupes the pref
            "broader": "https://datos.bne.es/resource/XXesp",
            "sameAs": "https://kg.example/toledo",
        }]}},
        # plain concept -> Type with broader
        {"identifier": "XX4", "doc": {"@graph": [{
            "@id": "https://datos.bne.es/resource/XX4",
            "@type": "http://www.w3.org/2004/02/skos/core#Concept",
            "prefLabel": [{"@value": "Novela", "@language": "es"}],
            "broader": ["https://datos.bne.es/resource/XXlit"],
        }]}},
        # corporate body -> Group, ident only (no handle_group)
        {"identifier": "XX5", "doc": {"@graph": [{
            "@id": "https://datos.bne.es/resource/XX5",
            "@type": "https://datos.bne.es/def/C1006",
            "prefLabel": {"@value": "Biblioteca X", "@language": "es"},
        }]}},
        # unhandled type -> dropped
        {"identifier": "XX6", "doc": {"@graph": [{
            "@id": "https://datos.bne.es/resource/XX6",
            "@type": "https://datos.bne.es/def/C9999"}]}},
    ]
    dump = tmp_path / "bne.jsonl"
    _write_jsonl(dump, recs)
    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    rows = {r.identifier: r
            for r in src.component("mapper")(
                src.component("loader")(spark, src.config)).collect()}
    assert set(rows) == {"XX1", "XX2", "XX3", "XX4", "XX5"}

    c = json.loads(rows["XX1"].data)
    assert rows["XX1"].rectype == "Person"
    assert [n["content"] for n in c["identified_by"]] == [
        "Cervantes Saavedra, Miguel de", "Cervantes, Miguel de"]  # dupe dropped
    # P5024-minus-sameAs + sameAs, minus-seeAlso + seeAlso
    assert [e["id"] for e in c["equivalent"]] == [
        "http://viaf.org/viaf/17220427", "https://kg.example/s1",
        "https://kg.example/see1"]
    assert c["born"]["timespan"]["begin_of_the_begin"] == "1547-01-01T00:00:00"
    assert c["born"]["took_place_at"][0]["_label"] == "Alcala de Henares"
    # death carried in the 2-element birth list
    assert c["died"]["timespan"]["end_of_the_end"] == "1616-12-31T23:59:59"
    assert c["died"]["took_place_at"][0]["_label"] == "Madrid"
    kinds = {x.get("_label"): x for x in c["classified_as"]}
    assert "male" in kinds and "Espana" in kinds and "Novelista" in kinds
    assert c["representation"][0]["digitally_shown_by"][0]["access_point"][0][
        "id"] == "https://img.example/cervantes.jpg"
    assert c["referred_to_by"][0]["language"] == "es"

    imp = json.loads(rows["XX2"].data)
    assert "born" not in imp and "died" not in imp  # F5 cleared both

    tol = json.loads(rows["XX3"].data)
    assert rows["XX3"].rectype == "Place"
    assert [n["content"] for n in tol["identified_by"]] == ["Toledo", "Toletum"]
    assert tol["part_of"][0]["id"].endswith("XXesp")
    assert tol["equivalent"][0]["type"] == "Place"

    nov = json.loads(rows["XX4"].data)
    assert rows["XX4"].rectype == "Type"
    assert nov["broader"][0]["id"].endswith("XXlit")

    grp = json.loads(rows["XX5"].data)
    assert rows["XX5"].rectype == "Group"
    assert "identified_by" not in grp  # reference has no handle_group


# ------------------------------------------------- small internal units
def test_internal_unit_mappers(spark):
    """Ashmolean/Arches/IPCH/PMC: the light internal cleanup passes."""
    from data_pipeline_spark.sources.internal_units import (
        CONFIGS, map_ashmol, map_pmc,
    )

    aat = "http://vocab.getty.edu/aat/"
    hmo = {"id": "https://coll.example/obj/1", "type": "HumanMadeObject"}
    loaded = spark.createDataFrame(
        [("obj/1", json.dumps(hmo))], "identifier string, value string"
    )
    out = json.loads(map_ashmol(loaded).collect()[0].data)
    assert out["classified_as"][-1]["id"] == aat + "300404024"

    pmc_docs = {
        # Group part_of -> member_of
        "g1": {"id": "x:g1", "type": "Group",
               "part_of": [{"id": "x:parent", "type": "Group"}]},
        # archive Set drops the collection class
        "s1": {"id": "x:s1", "type": "Set",
               "classified_as": [{"id": aat + "300375748"},
                                 {"id": aat + "300025976"}]},
        # internal-note statements purged, others kept
        "o1": {"id": "x:o1", "type": "HumanMadeObject",
               "referred_to_by": [
                   {"content": "keep me"},
                   {"content": "purge me",
                    "classified_as": [{"id": aat + "300435438"}]},
               ]},
    }
    loaded = spark.createDataFrame(
        [(k, json.dumps(v)) for k, v in pmc_docs.items()],
        "identifier string, value string",
    )
    rows = {r.identifier: json.loads(r.data) for r in map_pmc(loaded).collect()}
    assert rows["g1"]["member_of"][0]["id"] == "x:parent"
    assert "part_of" not in rows["g1"]
    assert [c["id"] for c in rows["s1"]["classified_as"]] == [aat + "300375748"]
    assert [r["content"] for r in rows["o1"]["referred_to_by"]] == ["keep me"]

    # all four register through the registry with internal type
    reg = SourceRegistry()
    for cfg in CONFIGS:
        src = reg.register_config(dict(cfg))
        assert src.component("mapper") is not None
    assert set(reg.names()) >= {"ashmol", "arches", "ipch", "pmc"}


def test_ypm_yuag_mappers(spark):
    from data_pipeline_spark.sources.internal_units import map_ypm, map_yuag

    aat = "http://vocab.getty.edu/aat/"
    ypm_docs = {
        # Place: '[no locality data]' primary takes the alternate's text
        "p1": {"id": "x:p1", "type": "Place", "identified_by": [
            {"type": "Name", "content": "[no locality data]",
             "classified_as": [{"id": aat + "300404670"}]},
            {"type": "Name", "content": "New Haven",
             "classified_as": [{"id": "x:alt"}]},
        ], "defined_by": "garbage wkt"},
        # Species Type regains its wikidata id
        "t1": {"id": "x:t1", "type": "Type",
               "classified_as": [{"id": "", "_label": "Species"}]},
        # HMO: accession -> Collection Item; equivalents retyped;
        # id-less birth place purged
        "o1": {"id": "x:o1", "type": "HumanMadeObject",
               "identified_by": [
                   {"type": "Identifier", "content": "YPM.1",
                    "classified_as": [{"id": aat + "300404620"}]},
                   {"type": "Name"},  # content-less -> purged
               ],
               "equivalent": [{"id": "x:eq1", "type": "Wrong"}]},
    }
    loaded = spark.createDataFrame(
        [(k, json.dumps(v)) for k, v in ypm_docs.items()],
        "identifier string, value string",
    )
    rows = {r.identifier: json.loads(r.data) for r in map_ypm(loaded).collect()}
    p1 = rows["p1"]
    assert [n["content"] for n in p1["identified_by"]] == ["New Haven"]
    assert p1["identified_by"][0]["classified_as"][0]["id"] == aat + "300404670"
    assert "defined_by" not in p1  # not POLYGON/POINT
    assert rows["t1"]["classified_as"][0]["id"] == (
        "https://www.wikidata.org/entity/Q7432")
    o1 = rows["o1"]
    assert o1["classified_as"][-1]["id"] == aat + "300404024"
    assert o1["equivalent"][0]["type"] == "HumanMadeObject"
    assert [n for n in o1["identified_by"] if "content" not in n] == []

    yuag_docs = {
        # Group with born -> Person; Primary Name normalization; numeric
        # identifier content stringified
        "a1": {"id": "x:a1", "type": "Group",
               "born": {"timespan": {"begin_of_the_begin": "1850-01-01T00:00:00"}},
               "equivalent": [{"id": "x:eq", "type": "Group"}],
               "identified_as": [
                   {"type": "Primary Name", "content": "Jane Sculptor",
                    "id": "x:n1"},
                   {"type": "Identifier", "content": 4603},
               ]},
        # Activity: timespan lifted from part_of; /agt/ venue rerouted
        "e1": {"id": "x:e1", "type": "Activity",
               "part_of": [{"id": "x:parent", "timespan": {
                   "begin_of_the_begin": "1990-01-01T00:00:00"}}],
               "took_place_at": [
                   {"id": "https://m.example/lux/agt/9"},
                   {"id": "https://m.example/lux/pla/3"},
               ]},
    }
    loaded = spark.createDataFrame(
        [(k, json.dumps(v)) for k, v in yuag_docs.items()],
        "identifier string, value string",
    )
    rows = {r.identifier: r for r in map_yuag(loaded).collect()}
    a1 = json.loads(rows["a1"].data)
    assert rows["a1"].rectype == "Person" and a1["type"] == "Person"
    assert a1["equivalent"][0]["type"] == "Person"
    names = a1["identified_by"]
    assert names[0]["type"] == "Name" and "id" not in names[0]
    assert names[0]["classified_as"][0]["id"] == aat + "300404670"
    assert names[1]["content"] == "4603"  # stringified
    e1 = json.loads(rows["e1"].data)
    assert e1["timespan"]["begin_of_the_begin"] == "1990-01-01T00:00:00"
    assert "part_of" not in e1
    assert e1["carried_out_by"][0]["type"] == "Group"
    assert e1["took_place_at"][0]["type"] == "Place"


# -------------------------------------------------------------------- viaf
def _viaf_xml(body):
    # the dump serializes with the DEFAULT namespace (unprefixed tags) —
    # the schema's bare field names match that form
    return ('<VIAFCluster xmlns="http://viaf.org/viaf/terms#">'
            + body.replace("viaf:", "") + "</VIAFCluster>")


def test_viaf_cluster_mapper(spark, tmp_path):
    from data_pipeline_spark.sources.viaf import CONFIG, map_records

    person = _viaf_xml(
        "<viaf:nameType>Personal</viaf:nameType>"
        "<viaf:mainHeadings>"
        "<viaf:data><viaf:text>Goethe (WKP only)</viaf:text>"
        "<viaf:sources><viaf:s>WKP</viaf:s></viaf:sources></viaf:data>"
        "<viaf:data><viaf:text>Goethe, Johann Wolfgang von</viaf:text>"
        "<viaf:sources><viaf:s>LC</viaf:s><viaf:s>DNB</viaf:s></viaf:sources>"
        "</viaf:data>"
        "<viaf:data><viaf:text>Gete</viaf:text>"
        "<viaf:sources><viaf:s>NDL</viaf:s></viaf:sources></viaf:data>"
        "</viaf:mainHeadings>"
        "<viaf:sources>"
        '<viaf:source nsid="http://d-nb.info/gnd/118540238">DNB|118540238'
        "</viaf:source>"
        '<viaf:source nsid="http://catalogue.bnf.fr/ark:/12148/cb119045">'
        "BNF|119045</viaf:source>"
        '<viaf:source nsid="x">LC|n  79003362</viaf:source>'
        '<viaf:source nsid="x">FAST|fst29184</viaf:source>'
        '<viaf:source nsid="x">XXX|123</viaf:source>'
        "</viaf:sources>"
        "<viaf:birthDate>1749-08-28</viaf:birthDate>"
        "<viaf:deathDate>1832-03-22</viaf:deathDate>"
        "<viaf:dateType>lived</viaf:dateType>"
        "<viaf:fixed><viaf:gender>b</viaf:gender></viaf:fixed>"
        "<viaf:nationalityOfEntity><viaf:data><viaf:text>DE</viaf:text>"
        "</viaf:data></viaf:nationalityOfEntity>"
    )
    flourished = _viaf_xml(
        "<viaf:nameType>Corporate</viaf:nameType>"
        "<viaf:mainHeadings><viaf:data><viaf:text>Officina Plantiniana</viaf:text>"
        "<viaf:sources><viaf:s>BNF</viaf:s></viaf:sources></viaf:data>"
        "</viaf:mainHeadings>"
        "<viaf:birthDate>1555</viaf:birthDate>"
        "<viaf:deathDate>1620</viaf:deathDate>"
        "<viaf:dateType>flourished</viaf:dateType>"
    )
    title = _viaf_xml("<viaf:nameType>UniformTitleWork</viaf:nameType>")
    recs = [
        {"identifier": "24602065", "doc": {"xml": person}},
        {"identifier": "158744532", "doc": {"xml": flourished}},
        {"identifier": "183765". replace("3", "3"), "doc": {"xml": title}},
        {"identifier": "sourceID/xyz", "doc": {"xml": person}},
    ]
    dump = tmp_path / "viaf.jsonl"
    _write_jsonl(dump, recs)
    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    rows = {r.identifier: r
            for r in src.component("mapper")(
                src.component("loader")(spark, src.config)).collect()}
    # UniformTitleWork and sourceID/ identifiers dropped
    assert set(rows) == {"24602065", "158744532"}

    g = json.loads(rows["24602065"].data)
    assert rows["24602065"].rectype == "Person"
    assert g["id"] == "http://viaf.org/viaf/24602065"
    assert g["_label"] == "Goethe, Johann Wolfgang von"  # LC-sourced primary
    names = [(n["content"], n["classified_as"][0]["id"].rsplit("/", 1)[-1])
             for n in g["identified_by"]]
    # WKP-only heading skipped (cluster has >1 headings)
    assert names == [
        ("Goethe, Johann Wolfgang von", "primaryName"), ("Gete", "name")]
    eq = [e["id"] for e in g["equivalent"]]
    assert eq == [
        "https://d-nb.info/gnd/118540238".replace("https", "http"),
        "https://data.bnf.fr/ark:/12148/cb119045",
        "http://id.loc.gov/authorities/names/n79003362",  # spaces removed
        "http://id.worldcat.org/fast/29184",  # fst stripped
    ]
    assert g["born"]["timespan"]["begin_of_the_begin"] == "1749-08-28T00:00:00"
    assert g["died"]["timespan"]["end_of_the_end"] == "1832-03-22T23:59:59"
    cls_ids = [c["id"] for c in g["classified_as"]]
    assert "http://vocab.getty.edu/aat/300189559" in cls_ids  # male
    assert "http://vocab.getty.edu/aat/300111192" in cls_ids  # de nationality

    fl = json.loads(rows["158744532"].data)
    assert rows["158744532"].rectype == "Group"
    assert "born" not in fl and "died" not in fl
    # Active span ends at the BEGIN of the death parse (reference behavior)
    assert fl["carried_out"]["timespan"]["begin_of_the_begin"] == (
        "1555-01-01T00:00:00")
    assert fl["carried_out"]["timespan"]["end_of_the_end"] == (
        "1620-01-01T00:00:00")
    assert fl["carried_out"]["display"] == "1555 to 1620"


# --------------------------------------------------------------------- dnb
def test_dnb_mapper_end_to_end(spark, tmp_path):
    from data_pipeline_spark.sources.dnb import (
        CONFIG, enrich_close_matches, load_macs,
    )

    gnd = "https://d-nb.info/standards/elementset/gnd#"
    recs = [
        # entity-graph person: century-completed death year, places,
        # pseudonym, gender, occupation, affiliation, depiction space fix
        {"identifier": "118540238", "doc": {
            "@id": "https://d-nb.info/gnd/118540238", "@type": "person",
            "preferredName": "Goethe, Johann Wolfgang von",
            "variantName": ["Goethe, J. W. von"],
            "pseudonym": [{"preferredName": "J.W.G."}],
            "biographicalOrHistoricalInformation": "Dichter.",
            "homepage": ["https://d-nb.info/gnd/118540238/about",
                         "https://goethe.example/home"],
            "depiction": [{"@id": "https://img.example/Goethe Portrait.jpg"}],
            "sameAs": [{"@id": "http://viaf.org/viaf/24602065"}],
            "dateOfBirth": "1749-08-28",
            "dateOfDeath": "96",  # century-completed from the birth year
            "placeOfBirth": [{"@id": "https://d-nb.info/gnd/4018118-2",
                              "preferredName": "Frankfurt"}],
            "gender": [{"@id":
                        "https://d-nb.info/standards/vocab/gnd/gender#male"}],
            "professionOrOccupation": [{"@id": "https://d-nb.info/gnd/occ1",
                                        "preferredName": "Dichter"}],
            "affiliation": [{"@id": "https://d-nb.info/gnd/org1",
                             "preferredName": "Weimar Court"}],
        }},
        # entity-graph place with a GeoJSON point
        {"identifier": "4018118-2", "doc": {
            "@id": "https://d-nb.info/gnd/4018118-2", "@type": "place",
            "preferredName": "Frankfurt am Main",
            "location": {"geometry": {"type": "Point",
                                      "coordinates": [8.68, 50.11]}},
        }},
        # sachbegriff list record -> Type with German names, broaders,
        # owl:sameAs, related-place attribution, self-describedby skipped
        {"identifier": "4133150-3/about", "doc": {"list": [
            {"@id": "https://d-nb.info/gnd/4133150-3/about"},
            {"@id": "https://d-nb.info/gnd/4133150-3",
             "@type": [gnd.replace("#", "#x") + ""],  # ignored entry type
             },
        ]}},
    ]
    # make the lds record realistic (schema keys are full URIs)
    recs[2]["doc"]["list"][1].update({
        "@type": ["https://d-nb.info/standards/elementset/gnd#SubjectHeadingSensoStricto"],
        "http://www.w3.org/2002/07/owl#sameAs": [
            {"@id": "http://www.wikidata.org/entity/Q330369"}],
        "http://www.w3.org/2007/05/powder-s#describedby": [
            {"@id": "https://d-nb.info/gnd/4133150-3/about"}],
        gnd + "preferredNameForTheSubjectHeading": [
            {"@value": "Arts and crafts movement"}],
        gnd + "variantNameForTheSubjectHeading": [
            {"@value": "GB / Arts and crafts"}],
        gnd + "definition": [{"@value": "Eine Bewegung."}],
        gnd + "broaderTermGeneral": [{"@id": "https://d-nb.info/gnd/4114333-4"}],
        gnd + "relatedPlaceOrGeographicName": [
            {"@id": "https://d-nb.info/gnd/4022153-2"}],
    })

    dump = tmp_path / "dnb.jsonl"
    _write_jsonl(dump, recs)
    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    envs = src.component("mapper")(src.component("loader")(spark, src.config))
    rows = {r.identifier: r for r in envs.collect()}
    assert set(rows) == {"118540238", "4018118-2", "4133150-3"}  # /about stripped

    g = json.loads(rows["118540238"].data)
    assert rows["118540238"].rectype == "Person"
    kinds = [(n["content"], n["classified_as"][0]["id"].rsplit("/", 1)[-1])
             for n in g["identified_by"]]
    assert kinds == [
        ("Goethe, Johann Wolfgang von", "primaryName"),
        ("Goethe, J. W. von", "alternateName"),
        ("J.W.G.", "pseudonym"),
    ]
    # self-referencing homepage skipped, external kept
    assert [p["digitally_carried_by"]["access_point"][0]["id"]
            for p in g["subject_of"]] == ["https://goethe.example/home"]
    assert g["representation"][0]["digitally_shown_by"][0]["access_point"][0][
        "id"] == "https://img.example/Goethe_Portrait.jpg"
    assert g["born"]["timespan"]["begin_of_the_begin"] == "1749-08-28T00:00:00"
    assert g["born"]["took_place_at"][0]["_label"] == "Frankfurt"
    # '96' century-completed from the birth year -> 1796
    assert g["died"]["timespan"]["end_of_the_end"] == "1796-12-31T23:59:59"
    assert g["died"]["display"] == "1796"
    roles = {c.get("role") for c in g["classified_as"]}
    assert {"gender", "occupation"} <= roles
    assert g["member_of"][0]["_label"] == "Weimar Court"

    fr = json.loads(rows["4018118-2"].data)
    assert fr["defined_by"] == "POINT ( 8.68 50.11 )"

    t = json.loads(rows["4133150-3"].data)
    assert rows["4133150-3"].rectype == "Type"
    assert t["_label"] == "Arts and crafts movement"
    assert all(n["language"] == "de" for n in t["identified_by"])
    assert t["equivalent"][0]["id"] == "http://www.wikidata.org/entity/Q330369"
    assert t["broader"][0]["id"].endswith("4114333-4")
    assert t["attributed_by"][0]["assigned"]["id"].endswith("4022153-2")
    assert "subject_of" not in t  # self-describedby skipped

    # macs closeMatch enrichment as a join
    macs = tmp_path / "macs.nt"
    macs.write_text(
        "<https://d-nb.info/gnd/4133150-3> "
        "<http://www.w3.org/2004/02/skos/core#closeMatch> "
        "<http://id.loc.gov/authorities/subjects/sh85000691> .\n"
        "<https://d-nb.info/gnd/9999> <http://example.org/other> "
        "<http://x.example/ignored> .\n"
    )
    enriched = enrich_close_matches(envs, load_macs(spark, str(macs)))
    e = {r.identifier: json.loads(r.data) for r in enriched.collect()}
    eq_ids = [x["id"] for x in e["4133150-3"]["equivalent"]]
    assert "http://id.loc.gov/authorities/subjects/sh85000691" in eq_ids
    assert "equivalent" not in e["4018118-2"]  # untouched rows pass through


# --------------------------------------------------------------------- bnf
def _bnf_xml(descriptions):
    return (
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:skos="http://www.w3.org/2004/02/skos/core#"'
        ' xmlns:foaf="http://xmlns.com/foaf/0.1/"'
        ' xmlns:bio="http://vocab.org/bio/0.1/"'
        ' xmlns:geo="http://www.w3.org/2003/01/geo/wgs84_pos#"'
        ' xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"'
        ' xmlns:bnf-onto="http://data.bnf.fr/ontology/bnf-onto/"'
        ' xmlns:rdagroup2elements="http://rdvocab.info/ElementsGr2/">'
        + descriptions + "</rdf:RDF>"
    )


def test_bnf_xml_mapper(spark, tmp_path):
    from data_pipeline_spark.sources.bnf import CONFIG

    ark = "https://data.bnf.fr/ark:/12148/"
    person = _bnf_xml(
        f'<rdf:Description rdf:about="{ark}cb119133298">'
        "<skos:prefLabel>Hugo, Victor</skos:prefLabel>"
        "<skos:altLabel>Hugo, V.</skos:altLabel>"
        '<skos:exactMatch rdf:resource="http://viaf.org/viaf/9847974"/>'
        '<skos:closeMatch rdf:resource="https://kg.example/hugo"/>'
        "<skos:note>Poete.</skos:note>"
        "</rdf:Description>"
        f'<rdf:Description rdf:about="{ark}cb119133298#about">'
        '<rdf:type rdf:resource="http://xmlns.com/foaf/0.1/Person"/>'
        "<foaf:gender>male</foaf:gender>"
        "<bio:birth>1802-02-26</bio:birth>"
        "<bio:death>1885-05-22</bio:death>"
        "</rdf:Description>"
    )
    # concept node missing -> common skipped; Place name from rdfs:label
    place = _bnf_xml(
        f'<rdf:Description rdf:about="{ark}cb15272211p#about">'
        '<rdf:type rdf:resource='
        '"http://www.w3.org/2003/01/geo/wgs84_pos#SpatialThing"/>'
        "<rdfs:label>Paris (France)</rdfs:label>"
        "<geo:lat>48.856578</geo:lat><geo:long>2.351828</geo:long>"
        "</rdf:Description>"
    )
    group = _bnf_xml(
        f'<rdf:Description rdf:about="{ark}cb13905906c">'
        "<skos:prefLabel>Academie francaise</skos:prefLabel>"
        '<skos:broader rdf:resource="https://kg.example/academies"/>'
        "</rdf:Description>"
        f'<rdf:Description rdf:about="{ark}cb13905906c#about">'
        '<rdf:type rdf:resource="http://xmlns.com/foaf/0.1/Organization"/>'
        '<bnf-onto:firstYear rdf:datatype='
        '"http://www.w3.org/2001/XMLSchema#integer">1635</bnf-onto:firstYear>'
        "</rdf:Description>"
    )
    concept = _bnf_xml(
        f'<rdf:Description rdf:about="{ark}cb11933051s">'
        "<skos:prefLabel>Romantisme</skos:prefLabel>"
        "<skos:scopeNote>Mouvement litteraire.</skos:scopeNote>"
        "</rdf:Description>"
        f'<rdf:Description rdf:about="{ark}cb11933051s#about">'
        '<rdf:type rdf:resource="http://www.w3.org/2004/02/skos/core#Concept"/>'
        "</rdf:Description>"
    )
    recs = [
        {"identifier": "cb119133298", "doc": {"xml": person}},
        {"identifier": "cb15272211p", "doc": {"xml": place}},
        {"identifier": "cb13905906c", "doc": {"xml": group}},
        {"identifier": "cb11933051s", "doc": {"xml": concept}},
    ]
    dump = tmp_path / "bnf.jsonl"
    _write_jsonl(dump, recs)
    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})
    rows = {r.identifier: r
            for r in src.component("mapper")(
                src.component("loader")(spark, src.config)).collect()}
    assert set(rows) == {"cb119133298", "cb15272211p", "cb13905906c",
                         "cb11933051s"}

    h = json.loads(rows["cb119133298"].data)
    assert rows["cb119133298"].rectype == "Person"
    assert h["id"] == ark + "cb119133298"
    assert [(n["content"], n["language"]) for n in h["identified_by"]] == [
        ("Hugo, Victor", "fr"), ("Hugo, V.", "fr")]
    # exactMatch before closeMatch
    assert [e["id"] for e in h["equivalent"]] == [
        "http://viaf.org/viaf/9847974", "https://kg.example/hugo"]
    assert h["referred_to_by"][0]["content"] == "Poete."
    assert h["classified_as"][0]["_label"] == "male"
    assert h["born"]["timespan"]["begin_of_the_begin"] == "1802-02-26T00:00:00"
    assert h["died"]["timespan"]["end_of_the_end"] == "1885-05-22T23:59:59"

    p = json.loads(rows["cb15272211p"].data)
    assert rows["cb15272211p"].rectype == "Place"
    assert p["identified_by"][0]["content"] == "Paris (France)"
    assert p["identified_by"][0].get("language") is None  # fallback, untagged
    assert p["defined_by"] == "POINT ( 2.351828 48.856578 )"

    g = json.loads(rows["cb13905906c"].data)
    assert rows["cb13905906c"].rectype == "Group"
    assert g["broader"][0]["id"] == "https://kg.example/academies"
    assert g["formed_by"]["timespan"]["begin_of_the_begin"] == (
        "1635-01-01T00:00:00")
    assert "dissolved_by" not in g

    c = json.loads(rows["cb11933051s"].data)
    assert rows["cb11933051s"].rectype == "Type"
    assert c["referred_to_by"][0]["content"] == "Mouvement litteraire."


# -------------------------------------------------------------------- fast
def _marc(fields):
    out = ['<record xmlns="http://www.loc.gov/MARC21/slim">']
    for tag, subs in fields:
        out.append(f'<datafield tag="{tag}">')
        for code, text in subs:
            out.append(f'<subfield code="{code}">{text}</subfield>')
        out.append("</datafield>")
    out.append("</record>")
    return "".join(out)


def test_fast_marc_mapper(spark, tmp_path):
    from data_pipeline_spark.sources.fast import CONFIG, map_records

    person = _marc([
        ("100", [("a", "Dickens, Charles,"), ("d", "1812-1870")]),
        ("400", [("a", "Dikkens, Sharl")]),
        ("375", [("a", "male")]),
        ("370", [("a", "Portsmouth")]),
        ("700", [("0", "(DLC)n  78087607")]),
        ("710", [("1", "(OCoLC)fst0012345")]),
        ("500", [("i", "Note:"), ("a", "English novelist")]),
    ])
    place = _marc([
        ("151", [("a", "Haarlem")]),
        ("751", [("0", "(OCoLC)fst01259763"), ("a", "Haarlem (Netherlands)")]),
        ("670", [("b", "52°22ʹ51ʺN 004°38ʹ13ʺE")]),
        ("550", [("a", "cities"), ("0", "(OCoLC)fst0099999")]),
    ])
    typ = _marc([
        ("150", [("a", "Art"), ("x", "History")]),
        ("450", [("a", "Art history")]),
        ("750", [("0", "(DLC)sh 85007462")]),
        ("550", [("g", "Humanities"), ("0", "(OCoLC)fst0012000")]),
        ("680", [("i", "Scope: study of art across time.")]),
    ])
    period = _marc([
        ("448", [("a", "Nineteenth century")]),
        ("148", [("a", "1800-1899")]),
    ])
    nothing = _marc([("999", [("a", "???")])])
    recs = [
        {"identifier": "34284", "doc": {"xml": person}},
        {"identifier": "1259763", "doc": {"xml": place}},
        {"identifier": "815177", "doc": {"xml": typ}},
        {"identifier": "1171090", "doc": {"xml": period}},
        {"identifier": "0", "doc": {"xml": nothing}},
    ]
    dump = tmp_path / "fast.jsonl"
    _write_jsonl(dump, recs)
    reg = SourceRegistry()
    src = reg.register_config({**CONFIG, "dump_path": str(dump)})

    # injectable reconciler: only 'portsmouth' resolves
    def reconcile(name, rectype):
        return "https://kg.example/portsmouth" if name == "portsmouth" else None

    envs = map_records(
        src.component("loader")(spark, src.config), reconcile=reconcile)
    rows = {r.identifier: r for r in envs.collect()}
    assert set(rows) == {"34284", "1259763", "815177", "1171090"}  # 999 dropped

    p = json.loads(rows["34284"].data)
    assert rows["34284"].rectype == "Person"
    assert p["id"] == "http://id.worldcat.org/fast/34284"
    contents = [n["content"] for n in p["identified_by"]]
    assert set(contents) == {"Dickens, Charles", "Dikkens, Sharl"}
    assert p["identified_by"][0]["classified_as"][0]["id"].endswith("primaryName")
    # 100|d range fallback for dates
    assert p["born"]["timespan"]["begin_of_the_begin"] == "1812-01-01T00:00:00"
    # the one-arg build_timespan writes the BEGIN-side keys (reference
    # passes the range's end as a start date)
    assert p["died"]["timespan"]["begin_of_the_begin"] == "1870-01-01T00:00:00"
    assert p["died"]["timespan"]["end_of_the_begin"] == "1870-12-31T23:59:59"
    # birth place through the injectable reconciler
    assert p["born"]["took_place_at"][0]["_label"] == "Portsmouth"
    eq = [e["id"] for e in p["equivalent"]]
    assert "http://id.loc.gov/authorities/subjects/n78087607" in eq  # (DLC)
    assert "http://id.worldcat.org/fast/12345" in eq  # (OCoLC)fst, zeros gone
    assert any(c.get("_label") == "male" for c in p.get("classified_as", []))
    assert p["referred_to_by"][0]["content"] == "Note: English novelist"

    h = json.loads(rows["1259763"].data)
    assert rows["1259763"].rectype == "Place"
    assert set(n["content"] for n in h["identified_by"]) == {
        "Haarlem", "Haarlem (Netherlands)"}
    assert h["defined_by"].startswith("POINT(4.63")
    assert h["equivalent"][0]["id"] == "http://id.worldcat.org/fast/1259763"
    assert h["classified_as"][0]["id"] == "http://id.worldcat.org/fast/99999"

    t = json.loads(rows["815177"].data)
    assert rows["815177"].rectype == "Type"
    assert set(n["content"] for n in t["identified_by"]) == {
        "Art, History", "Art history"}
    assert t["equivalent"][0]["id"] == (
        "http://id.loc.gov/authorities/subjects/sh85007462")
    assert t["broader"][0]["id"] == "http://id.worldcat.org/fast/12000"
    assert t["referred_to_by"][0]["content"].startswith("Scope:")

    pe = json.loads(rows["1171090"].data)
    assert rows["1171090"].rectype == "Period"
    assert pe["timespan"]["begin_of_the_begin"] == "1800-01-01T00:00:00"
    assert pe["timespan"]["end_of_the_end"] == "1899-12-31T23:59:59"


# ------------------------------------------------------------- getty vocab
def test_getty_vocab_mappers(spark):
    from data_pipeline_spark.sources.getty_vocab import (
        aat_should_merge_from, map_aat, map_tgn, map_ulan,
    )

    aat = "http://vocab.getty.edu/aat/"
    aat_doc = {
        "id": aat + "300015637", "type": "Type",
        "_label": "watercolors (paintings)",
        "identified_by": [
            {"type": "Name", "content": "watercolors",
             "language": [{"_label": "en"}],
             "classified_as": [{"id": aat + "300404670"}]},
            {"type": "Name", "content": "aquarelles",
             "language": [{"_label": "fr"}],
             "classified_as": [
                 {"id": "http://vocab.getty.edu/term/type/AlternateDescriptor"}]},
            {"type": "Name", "content": "akvareller",
             "language": [{"_label": "xx"}]},  # unmapped lang -> dropped
        ],
        "referred_to_by": [
            {"content": "Paintings in water-based paint.",
             "language": [{"_label": "en"}],
             "classified_as": [{"id": aat + "300435416"}]},
        ],
        "part_of": [{"id": aat + "300015617", "_label": "paintings"}],
    }
    loaded = spark.createDataFrame(
        [("300015637", json.dumps(aat_doc))], "identifier string, value string")
    a = json.loads(map_aat(loaded).collect()[0].data)
    assert a["type"] == "Type"
    assert a["_label"] == "watercolors"  # english primary
    assert [(n["content"], n.get("language")) for n in a["identified_by"]] == [
        ("watercolors", "en"), ("aquarelles", "fr")]  # xx dropped
    assert a["referred_to_by"][0]["role"] == "description"
    assert a["broader"][0]["id"] == aat + "300015617"
    # P5: AAT never merges into a non-Type-ish base
    assert not aat_should_merge_from({"type": "Person"}, a)
    assert aat_should_merge_from({"type": "Language"}, a)

    # AAT type guessing fallbacks
    lang_doc = {"id": aat + "300387961", "type": "Type",
                "_label": "Danish (language)",
                "identified_by": [{"type": "Name", "content": "Danish"}]}
    loaded = spark.createDataFrame(
        [("300387961", json.dumps(lang_doc))], "identifier string, value string")
    assert map_aat(loaded).collect()[0].rectype == "Language"

    ulan_doc = {
        "id": "http://vocab.getty.edu/ulan/500115588-agent", "type": "Person",
        "identified_by": [
            {"type": "Name", "content": "Turner, J. M. W.",
             "language": [{"_label": "en"}],
             "classified_as": [{"id": aat + "300404670"}]},
        ],
        "classified_as": [
            {"id": aat + "300189559", "_label": "male",
             "classified_as": [{"id": aat + "300055147"}]},
            {"id": aat + "300111159", "_label": "British",
             "classified_as": [{"id": aat + "300379842"}]},
            {"id": aat + "300379012", "_label": "undetermined"},  # ignored
        ],
        "born": {"timespan": {"begin_of_the_begin": "1775-04-23T00:00:00",
                              "end_of_the_end": "1775-04-23T24:00:00"}},
        "died": {"timespan": {"begin_of_the_begin": "1851-12-19T00:00:00",
                              "end_of_the_end": "1851-12-19T00:00:00"},
                 "took_place_at": [{"id": "http://vocab.getty.edu/tgn/7011781-place",
                                    "_label": "London"}]},
        "carried_out": [{
            "classified_as": [{"id": aat + "300393177"}],
            "timespan": {"begin_of_the_begin": "1790",
                         "end_of_the_end": "1851"}}],
    }
    loaded = spark.createDataFrame(
        [("500115588-agent", json.dumps(ulan_doc))],
        "identifier string, value string")
    rows = map_ulan(loaded).collect()
    assert rows[0].identifier == "500115588"  # -agent stripped
    u = json.loads(rows[0].data)
    roles = {c.get("role") for c in u["classified_as"]}
    assert roles == {"gender", "nationality"}  # undetermined ignored
    # 24:00:00 fixed; end-side midnight promoted
    assert u["born"]["timespan"]["end_of_the_end"] == "1775-04-23T23:59:59"
    assert u["died"]["timespan"]["end_of_the_end"] == "1851-12-19T23:59:59"
    assert u["died"]["took_place_at"][0]["id"] == (
        "http://vocab.getty.edu/tgn/7011781")  # -place stripped
    assert u["carried_out"][0]["timespan"]["begin_of_the_begin"] == (
        "1790-01-01T00:00:00")

    tgn_doc = {
        "id": "http://vocab.getty.edu/tgn/7011781", "type": "Place",
        "identified_by": [
            {"type": "Name", "content": "London",
             "language": [{"_label": "en"}],
             "classified_as": [{"id": aat + "300404670"}]},
            {"type": "crm:E47_Spatial_Coordinates",
             "value": "[-0.1262, 51.5002]"},
        ],
        "classified_as": [{"id": aat + "300008389", "_label": "inhabited place"}],
        "part_of": [
            {"id": "http://vocab.getty.edu/tgn/7002445", "_label": "England",
             "classified_as": [{"id": aat + "300449152"}]},
            {"id": "http://vocab.getty.edu/tgn/7008591", "_label": "Britain"},
        ],
    }
    loaded = spark.createDataFrame(
        [("7011781", json.dumps(tgn_doc))], "identifier string, value string")
    t = json.loads(map_tgn(loaded).collect()[0].data)
    assert t["defined_by"] == "POINT ( -0.1262 51.5002 )"
    assert t["classified_as"][0]["id"] == aat + "300008389"
    # the 300449152-classified parent wins part_of; others not broader
    assert t["part_of"] == [{"id": "http://vocab.getty.edu/tgn/7002445",
                             "type": "Place", "_label": "England"}]
    assert "broader" not in t


# --------------------------------------------------------------------- yul
def test_yul_mapper(spark):
    from data_pipeline_spark.sources.yul import map_records, transform_doc

    aat = "http://vocab.getty.edu/aat/"
    docs = {
        # work with ils number -> YCBA about links; multi-prop norm;
        # marcgt swap; external representation moved to subject_of
        "w1": {
            "id": "https://lib.example/node/w1", "type": "LinguisticObject",
            "identified_by": {"type": "Identifier",
                              "content": "ils:yul:12345",
                              "classified_as": [{"id": aat + "300435704"}]},
            "classified_as": [{"id": "http://id.loc.gov/vocabulary/marcgt/pic"}],
            "representation": [
                {"id": "https://img.example/scan1.jpg", "type": "VisualItem"},
                {"id": "https://lib.example/linked-art/node/keepme",
                 "type": "VisualItem"},
            ],
        },
        # place with parenthetical parent + gemini enrichment
        "p1": {
            "id": "https://lib.example/node/p1", "type": "Place",
            "_label": "Potsdam",
            "identified_by": [{"type": "Name", "content": "Potsdam (Germany)",
                               "classified_as": [{"id": aat + "300404670"}]}],
            "defined_by": "",
        },
        # heading / mismatch ids dropped
        "h1": {"id": "https://lib.example/node/h1", "type": "Type"},
        # sort-title AAT + https getty fix + attributed_by rename on names
        "o1": {
            "id": "https://lib.example/node/o1", "type": "HumanMadeObject",
            "identified_by": [{
                "type": "Name", "content": "Sorted, Title",
                "attributed_by": [{"type": "AttributeAssignment"}],
                "classified_as": [
                    {"id": "https://vocab.getty.edu/aat/300451544"}],
            }],
        },
    }
    tables = dict(
        headings_index={"https://lib.example/node/h1"},
        ycbaobjs={"12345": ["https://coll.example/obj/77"]},
        ycbaexhs={"12345": ["https://coll.example/exh/88"]},
        wiki_recon={"https://lib.example/node/w1":
                    "http://www.wikidata.org/entity/Q555"},
        parenthetical_places={"Germany": "https://kg.example/de"},
        gemini_place_data={"p1": {"wd": "Q1711", "wp": "https://wiki.example/p",
                                  "desc": "A city."}},
    )
    loaded = spark.createDataFrame(
        [(k, json.dumps(v)) for k, v in docs.items()],
        "identifier string, value string",
    )
    rows = {r.identifier: json.loads(r.data)
            for r in map_records(loaded, **tables).collect()}
    assert set(rows) == {"w1", "p1", "o1"}  # heading dropped

    w = rows["w1"]
    assert {a["id"] for a in w["about"]} == {
        "https://coll.example/obj/77", "https://coll.example/exh/88"}
    assert isinstance(w["identified_by"], list)  # multi-prop normalized
    assert w["equivalent"][0]["id"] == "http://www.wikidata.org/entity/Q555"
    assert w["classified_as"][0]["id"] == aat + "300264388"  # marcgt/pic
    # the ils:yul accession makes it a Collection Item
    assert w["classified_as"][-1]["id"] == aat + "300404024"
    # external scan moved to subject_of; linked-art node kept in place
    assert [r["id"] for r in w["representation"]] == [
        "https://lib.example/linked-art/node/keepme"]
    rep = [s for s in w["subject_of"]
           if s.get("_label") == "Representation/Reference"]
    assert rep[0]["digitally_carried_by"][0]["access_point"][0]["id"] == (
        "https://img.example/scan1.jpg")

    p = rows["p1"]
    assert p["part_of"] == [{"id": "https://kg.example/de", "type": "Place",
                             "_label": "Germany"}]
    assert "defined_by" not in p  # empty removed
    assert any(e["id"] == "http://www.wikidata.org/entity/Q1711"
               for e in p["equivalent"])
    assert any("(AI generated)" in r.get("content", "")
               for r in p["referred_to_by"])
    assert any(
        s.get("digitally_carried_by", [{}])[0]
        .get("access_point", [{}])[0].get("id") == "https://wiki.example/p"
        for s in p["subject_of"])

    o = rows["o1"]
    nm = o["identified_by"][0]
    assert nm["classified_as"][0]["id"] == aat + "300456575"  # sort swap
    assert "assigned_by" in nm and "attributed_by" not in nm

    # object_work_mismatch rewrites nested node ids during the walk
    doc = {"id": "x:top", "type": "HumanMadeObject",
           "produced_by": {"type": "Production",
                           "carried_out_by": [{"id": "x:stupid",
                                               "type": "Group"}]}}
    got = transform_doc(doc, object_work_mismatch={
        "x:stupid": ["x:real", "Person"]})
    assert got["produced_by"]["carried_out_by"][0] == {
        "id": "x:real", "type": "Person"}


# ---------------------------------------------------------------- pleiades
def test_pleiades_mappers(spark):
    from data_pipeline_spark.sources.pleiades import map_concepts, map_places

    place = {
        "uri": "https://pleiades.stoa.org/places/579885",
        "title": "Athenae",
        "names": [
            {"attested": "Athenai", "language": "grc"},  # unmapped -> untagged
            {"attested": "Athen", "language": "deu"},    # F15 3->2
            {"attested": ""},                            # empty skipped
        ],
        "description": "The ancient city of Athens.",
        "placeTypeURIs": ["https://pleiades.stoa.org/vocabularies/place-types/settlement"],
        "geometry": {"type": "Point", "coordinates": [23.72, 37.97]},
        "connections": [
            {"connectionType": "part_of_regional",
             "connectsTo": "https://pleiades.stoa.org/places/1", "title": "Attica"},
            {"connectionType": "related", "connectsTo": "x:ignored"},
        ],
        "references": [
            {"accessURI": "https://www.wikidata.org/wiki/Q1524"},
            {"accessURI": "https://other.example/athens"},
        ],
    }
    bboxed = {
        "uri": "https://pleiades.stoa.org/places/2", "title": "Region",
        "bbox": [20.0, 35.0, 25.0, 40.0],
    }
    loaded = spark.createDataFrame(
        [("579885", json.dumps(place)), ("2", json.dumps(bboxed)),
         ("bad", "not json")],
        "identifier string, value string",
    )
    rows = {r.identifier: r for r in map_places(loaded).collect()}
    assert set(rows) == {"579885", "2"}

    a = json.loads(rows["579885"].data)
    assert a["_label"] == "Athenae"
    assert [(n["content"], n.get("language")) for n in a["identified_by"]] == [
        ("Athenae", "en"), ("Athenai", None), ("Athen", "de")]
    assert a["defined_by"] == "POINT (23.72 37.97)"
    assert a["classified_as"][0]["id"].endswith("settlement")
    assert a["part_of"] == [{"id": "https://pleiades.stoa.org/places/1",
                             "type": "Place", "_label": "Attica"}]
    assert a["equivalent"] == [{"id": "https://www.wikidata.org/wiki/Q1524",
                                "type": "Place"}]
    b = json.loads(rows["2"].data)
    assert b["defined_by"] == ("POLYGON ((20.0 35.0, 25.0 35.0, 25.0 40.0,"
                               " 20.0 40.0, 20.0 35.0))")

    ttl = (
        "<https://pleiades.stoa.org/vocabularies/place-types/settlement>\n"
        '    skos:prefLabel "settlement"@en ;\n'
        '    skos:scopeNote "A permanent inhabited place."@en ;\n'
        "    owl:sameAs <http://vocab.getty.edu/aat/300008347>,\n"
        "        <https://pleiades.stoa.org/vocabularies/place-types/settlement> ;\n"
        "    .\n"
    )
    sections = spark.createDataFrame([(ttl,)], "value string")
    c = map_concepts(sections).collect()[0]
    assert c.identifier == "place-types/settlement"
    doc = json.loads(c.data)
    assert doc["_label"] == "settlement"
    assert doc["identified_by"][0]["language"] == "en"
    # self-reference skipped, external kept
    assert doc["equivalent"] == [{"id": "http://vocab.getty.edu/aat/300008347",
                                  "type": "Type"}]
