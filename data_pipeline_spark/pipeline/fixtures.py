"""Deterministic pipeline-shaped fixtures (FIXTURES.md Family B).

Small, fully-literal tables (no RNG — every row is written out) covering the
required semantic cases for the reconcile/closure/idmap/merge/incremental
stages: equivalence chains, differentFrom splits, sameAs bridges, prev-build
yuid stability/merge, BCE + free-text dates, >122y lifespans, zero-width
names, case-duplicate names, http/https-variant equivalents, self-reference
and part_of cycles (reference behaviors: collector.py:108-278,
reference_manager.py:212-407, merger.py:670-1022 in /root/reference).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..catalog import INDEX_SCHEMAS

URI = "https://fixture.test"


def uri(source: str, ident: str) -> str:
    return f"{URI}/{source}/{ident}"


def _rec(source, ident, rectype, names=None, equivalents=None, extra=None):
    doc = {
        "id": uri(source, ident),
        "type": rectype,
        "_label": (names or [ident])[0],
    }
    if names:
        doc["identified_by"] = [
            {
                "type": "Name",
                "content": n,
                "classified_as": [{"id": f"{URI}/vocab/primaryName" if i == 0 else f"{URI}/vocab/alternateName"}],
            }
            for i, n in enumerate(names)
        ]
    if equivalents:
        doc["equivalent"] = [{"id": e, "type": rectype} for e in equivalents]
    if extra:
        doc.update(extra)
    return {
        "source": source,
        "identifier": ident,
        "rectype": rectype,
        "record_time": "2026-01-15T00:00:00",
        "change": "create",
        "data": json.dumps(doc, sort_keys=True),
    }


def build_records() -> list[dict]:
    rows = [
        # --- component 1: chain srcA/p1 -> extX/e1 -> extY/f1 (J5 closure) ---
        _rec(
            "srcA", "p1", "Person",
            names=["Rembrandt van Rijn", "REMBRANDT  van rijn"],  # case/ws dup (A3)
            equivalents=[uri("extX", "e1")],
            extra={
                "born": {"type": "Birth", "timespan": {
                    "begin_of_the_begin": "1606-07-15T00:00:00",
                    "end_of_the_end": "1606-07-15T23:59:59"}},
                "died": {"type": "Death", "timespan": {
                    "begin_of_the_begin": "1669-10-04T00:00:00",
                    "end_of_the_end": "1669-10-04T23:59:59"}},
                "referred_to_by": [{"type": "LinguisticObject", "content": "Dutch painter",
                                    "classified_as": [{"id": f"{URI}/vocab/description"}]}],
            },
        ),
        _rec(
            "extX", "e1", "Person",
            names=["Rembrandt Harmenszoon van Rijn"],
            equivalents=[uri("extY", "f1")],
            extra={"dimension": [
                {"value": 1.69, "unit": {"id": f"{URI}/vocab/m"},
                 "classified_as": [{"id": f"{URI}/vocab/height"}]},
                {"value": 1.69, "unit": {"id": f"{URI}/vocab/m"},
                 "classified_as": [{"id": f"{URI}/vocab/height"}]},  # dup (A5)
            ]},
        ),
        _rec("extY", "f1", "Person", names=["Rembrandt"]),
        # --- component 2: srcA/p2 vs extX/e2: same name, but differentFrom veto (J3) ---
        _rec("srcA", "p2", "Person", names=["Jan de Vries"]),
        _rec("extX", "e2", "Person", names=["Jan de Vries"]),
        # --- component 3+4 bridged by sameAs (J4): srcA/p3 ... extY/f3 ---
        _rec("srcA", "p3", "Person", names=["Maria ​Sibylla Merian"]),  # zero-width (F8)
        _rec("extY", "f3", "Person", names=["M. S. Merian"]),
        # --- prev-build merge case: p4,p5 had distinct yuids, now connected ---
        _rec("srcA", "p4", "Person", names=["Claude Monet"],
             equivalents=[uri("extX", "e4")]),
        _rec("extX", "e4", "Person", names=["Monet, Claude"],
             equivalents=[uri("srcA", "p5")]),
        _rec("srcA", "p5", "Person", names=["C. Monet"]),
        # --- prev-build split case: p6 and p7 were one component, no longer linked ---
        _rec("srcA", "p6", "Person", names=["Vincent van Gogh"]),
        _rec("srcA", "p7", "Person", names=["Theo van Gogh"]),
        # --- http/https variant equivalents (A10/F10) ---
        _rec("srcA", "g1", "Group",
             names=["Guild of St Luke"],
             equivalents=["http://www.fixture.test/extY/f9"]),
        _rec("extY", "f9", "Group", names=["Guild of Saint Luke"]),
        # --- places with self-reference and a part_of cycle (P8/F21) ---
        _rec("srcA", "pl1", "Place", names=["Amsterdam"],
             extra={"part_of": [{"id": uri("srcA", "pl1"), "type": "Place"},
                                 {"id": uri("srcA", "pl2"), "type": "Place"}],
                    "defined_by": "POINT ( 4.89 52.37 )"}),
        _rec("srcA", "pl2", "Place", names=["Netherlands"],
             extra={"part_of": [{"id": uri("srcA", "pl1"), "type": "Place"}]}),  # cycle
        # --- label-only record (name from _label), free-text + BCE dates ---
        _rec("extY", "f5", "Person",
             extra={"born": {"type": "Birth", "timespan": {"begin_of_the_begin": "early 12th century"}},
                    "died": {"type": "Death", "timespan": {"begin_of_the_begin": "late 12th century"}}}),
        _rec("srcA", "anc1", "Person", names=["Herodotus"],
             extra={"born": {"type": "Birth", "timespan": {"begin_of_the_begin": "-0484-01-01T00:00:00",
                                                             "end_of_the_end": "-0484-12-31T23:59:59"}},
                    "died": {"type": "Death", "timespan": {"begin_of_the_begin": "-0425-01-01T00:00:00",
                                                             "end_of_the_end": "-0425-12-31T23:59:59"}}}),
        # --- implausible lifespan (>122y): reconcile-date veto case (P4/F5) ---
        _rec("extX", "e6", "Person", names=["Impossible Ancient"],
             extra={"born": {"type": "Birth", "timespan": {"begin_of_the_begin": "1600-01-01T00:00:00"}},
                    "died": {"type": "Death", "timespan": {"end_of_the_end": "1790-01-01T00:00:00"}}}),
        # --- concept with broader + classified_as (metatype join J12) ---
        _rec("srcA", "t1", "Type", names=["Oil Painting"],
             extra={"broader": [{"id": uri("srcA", "t2"), "type": "Type"}],
                    "classified_as": [{"id": f"{URI}/vocab/materialType"}]}),
        _rec("srcA", "t2", "Type", names=["Painting"]),
    ]
    return rows


def build_name_index() -> list[dict]:
    """B2: per-source reconcile name index (the LMDB analog)."""
    return [
        # connects p2<->e2 by name — must be vetoed by different_from
        {"source": "extX", "name_clean": "jan de vries", "target_identifier": "e2", "rectype": "Person"},
        # connects p3 by name into extY? No — p3 reconciles via same_as instead.
        # name hit for the Monet cluster (redundant with uri edges; exercises dedupe)
        {"source": "extX", "name_clean": "claude monet", "target_identifier": "e4", "rectype": "Person"},
        # type-mismatch case: same name, wrong rectype -> no edge
        {"source": "extX", "name_clean": "guild of st luke", "target_identifier": "e2", "rectype": "Person"},
    ]


def build_uri_index() -> list[dict]:
    """B3: per-source inverse-equivalence index ext_uri -> local identifier."""
    return [
        {"source": "extY", "ext_uri": "https://www.fixture.test/extY/f9", "target_identifier": "f9", "rectype": "Group"},
        {"source": "extY", "ext_uri": uri("extY", "f1"), "target_identifier": "f1", "rectype": "Person"},
    ]


def build_same_as() -> list[dict]:
    return [{"uri_a": uri("srcA", "p3"), "uri_b": uri("extY", "f3")}]


def build_different_from() -> list[dict]:
    return [{"uri_a": uri("srcA", "p2"), "uri_b": uri("extX", "e2")}]


# previous build's assignments (B5): p1-chain stable; p4/p5 merge; p6/p7 split
PREV_YUID_P1 = "11111111-1111-5111-8111-111111111111"
PREV_YUID_P4 = "44444444-4444-5444-8444-444444444444"
PREV_YUID_P5 = "55555555-5555-5555-8555-555555555555"
PREV_YUID_P67 = "67676767-6767-5676-8676-676767676767"


def build_idmap_prev() -> list[dict]:
    return [
        {"qua_uri": uri("srcA", "p1"), "rectype": "Person", "yuid": PREV_YUID_P1},
        {"qua_uri": uri("extX", "e1"), "rectype": "Person", "yuid": PREV_YUID_P1},
        {"qua_uri": uri("srcA", "p4"), "rectype": "Person", "yuid": PREV_YUID_P4},
        {"qua_uri": uri("srcA", "p5"), "rectype": "Person", "yuid": PREV_YUID_P5},
        {"qua_uri": uri("srcA", "p6"), "rectype": "Person", "yuid": PREV_YUID_P67},
        {"qua_uri": uri("srcA", "p7"), "rectype": "Person", "yuid": PREV_YUID_P67},
    ]


def build_metatypes() -> list[dict]:
    return [{"concept_uri": f"{URI}/vocab/materialType", "metatype_uri": f"{URI}/vocab/typeOfWork"}]


def build_changes() -> list[dict]:
    """B6: ActivityStreams-shaped change feed with the required cases."""
    upd = dict(_rec("srcA", "p1", "Person", names=["Rembrandt van Rijn (updated)"]))
    return [
        # duplicate ident in one crawl — first-seen (highest seq processed first... feed order) wins
        {"seq": 1, "end_time": "2026-02-01T10:00:00", "change": "update",
         "object_uri": uri("srcA", "p1"), "payload": upd["data"]},
        # the loser carries a REAL payload honoring the ingest contract
        # (payload $.id == object_uri — apply_changes_to_records raises
        # otherwise); its distinct label proves first-seen won
        {"seq": 2, "end_time": "2026-02-01T09:00:00", "change": "update",
         "object_uri": uri("srcA", "p1"),
         "payload": _rec("srcA", "p1", "Person",
                         names=["Rembrandt (stale duplicate)"])["data"]},
        # delete-then-update of p7
        {"seq": 3, "end_time": "2026-02-01T08:00:00", "change": "delete",
         "object_uri": uri("srcA", "p7"), "payload": None},
        # older than watermark — must be ignored by the incremental bound
        {"seq": 4, "end_time": "2026-01-01T00:00:00", "change": "update",
         "object_uri": uri("srcA", "p2"),
         "payload": _rec("srcA", "p2", "Person",
                         names=["Jan de Vries (pre-watermark)"])["data"]},
        # create of a new record
        {"seq": 5, "end_time": "2026-02-01T11:00:00", "change": "create",
         "object_uri": uri("srcA", "p9"),
         "payload": _rec("srcA", "p9", "Person", names=["New Person"])["data"]},
        # create that LINKS INTO a previously-untouched component (p4's):
        # the blast radius must pull p4's whole component into the rebuild
        # slice or the splice diverges from the full rebuild
        {"seq": 6, "end_time": "2026-02-01T12:00:00", "change": "create",
         "object_uri": uri("srcA", "p10"),
         "payload": _rec("srcA", "p10", "Person", names=["Linker Person"],
                         equivalents=[uri("srcA", "p4")])["data"]},
    ]


RECORDS_SCHEMA = "source string, identifier string, rectype string, record_time string, change string, data string"


def fixture_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """All Family-B fixture tables as DataFrames."""
    return {
        "records": spark.createDataFrame(build_records(), RECORDS_SCHEMA),
        "name_index": spark.createDataFrame(build_name_index(), INDEX_SCHEMAS["name_index"]),
        "uri_index": spark.createDataFrame(build_uri_index(), INDEX_SCHEMAS["uri_index"]),
        "same_as": spark.createDataFrame(build_same_as(), INDEX_SCHEMAS["same_as"]),
        "different_from": spark.createDataFrame(
            build_different_from(), INDEX_SCHEMAS["different_from"]
        ),
        "idmap_prev": spark.createDataFrame(
            build_idmap_prev(), "qua_uri string, rectype string, yuid string"
        ),
        "metatypes": spark.createDataFrame(
            build_metatypes(), "concept_uri string, metatype_uri string"
        ),
        "changes": spark.createDataFrame(
            build_changes(), "seq bigint, end_time string, change string, object_uri string, payload string"
        ),
    }
