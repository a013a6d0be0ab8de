"""Incremental rebuild correctness: applying the Family-B change feed
incrementally must produce the same merged output as a full rebuild over
the post-change records tier (the gold-standard equivalence check)."""

from __future__ import annotations

import inspect
import json

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark.catalog import INDEX_SCHEMAS, empty_indexes, empty_relation
from data_pipeline_spark.pipeline.build import run_build
from data_pipeline_spark.pipeline.fixtures import _rec, fixture_tables, uri
from data_pipeline_spark.pipeline.idmap import assign_yuids
from data_pipeline_spark.pipeline.incremental import (
    affected_uris,
    apply_changes_to_records,
    incremental_build,
)


@pytest.fixture(scope="module")
def setup(spark):
    t = fixture_tables(spark)
    t["changes"] = t["changes"].withColumn(
        "end_time", F.col("end_time").cast("timestamp")
    )
    idx = {k: t[k] for k in ("name_index", "uri_index", "same_as", "different_from")}
    return t, idx


def test_apply_changes_to_records(spark, setup):
    t, _ = setup
    out = apply_changes_to_records(t["records"], t["changes"])
    by_uri = {json.loads(r.data).get("id"): r for r in out.collect()}
    assert uri("srcA", "p7") not in by_uri  # deleted
    assert uri("srcA", "p9") in by_uri  # created
    # p1 updated to the seq-1 payload (latest end_time wins over seq 2)
    doc = json.loads(by_uri[uri("srcA", "p1")].data)
    assert doc["_label"] == "Rembrandt van Rijn (updated)"


def test_apply_changes_rejects_mismatched_payload_id(spark, setup):
    """Ingest contract (ADVICE r12): an upsert whose payload $.id is
    missing or differs from object_uri fails LOUDLY — silently applied,
    the row would be keyed by object_uri here but invisible to every
    downstream $.id-keyed scan (and dropped by the streaming delta
    fold's winner join), diverging the batch and streaming twins."""
    t, _ = setup
    for bad_payload in (
        json.dumps({"id": uri("srcA", "somebody-else"), "type": "Person"}),
        json.dumps({"type": "Person"}),  # $.id missing entirely
    ):
        bad = spark.createDataFrame(
            [(99, "2026-02-01 00:00:00", "update", uri("srcA", "p1"), bad_payload)],
            "seq bigint, end_time string, change string, object_uri string, payload string",
        ).withColumn("end_time", F.col("end_time").cast("timestamp"))
        with pytest.raises(Exception, match="does not match object_uri"):
            apply_changes_to_records(t["records"], bad).collect()


def test_affected_uris_is_component_closed(spark, setup):
    t, idx = setup
    blast = {r.uri for r in affected_uris(t["changes"], t["idmap_prev"], idx).collect()}
    # p1's whole previous component (p1 + e1) is in the radius
    assert uri("srcA", "p1") in blast and uri("extX", "e1") in blast
    # p9 (brand new) is included even though no previous yuid exists
    assert uri("srcA", "p9") in blast
    # p10's payload asserts an equivalent into p4's untouched component:
    # p4 must be pulled in (seed expansion through asserted equivalents)
    assert uri("srcA", "p10") in blast and uri("srcA", "p4") in blast
    # untouched component is NOT
    assert uri("srcA", "pl1") not in blast


ORDER = {"srcA": 0, "extX": 1, "extY": 2}


@pytest.fixture(scope="module")
def prev(spark, setup):
    """The previous build: its merged tier and its COMPUTED idmap (round
    N consumes round N-1's, covering minted yuids too)."""
    t, idx = setup
    b = run_build(spark, t["records"], idx, idmap_prev=t["idmap_prev"], merge_order=ORDER)
    return b["merged"].localCheckpoint(), b["idmap"].localCheckpoint()


def _feed(spark, rows):
    return spark.createDataFrame(
        rows, "seq bigint, end_time string, change string, object_uri string, payload string"
    ).withColumn("end_time", F.col("end_time").cast("timestamp"))


def _assert_incremental_equals_full(spark, setup, prev, changes, watermark):
    """The module contract: the crawl's spliced merged, idmap and records
    tiers equal a full rebuild over the feed-applied records tier from
    the same previous idmap.  Returns the crawl's tiers."""
    t, idx = setup
    prev_merged, prev_idmap = prev
    inc = incremental_build(
        spark, t["records"], changes, idx,
        idmap_prev=prev_idmap, prev_merged=prev_merged, merge_order=ORDER,
        last_harvest=watermark,
    )
    live = changes.filter(F.col("end_time") > F.lit(watermark).cast("timestamp"))
    new_records = apply_changes_to_records(t["records"], live)
    full = run_build(spark, new_records, idx, idmap_prev=prev_idmap, merge_order=ORDER)

    inc_rows = {r.yuid: r.data for r in inc["merged_full"].collect()}
    full_rows = {r.yuid: r.data for r in full["merged"].collect()}
    assert set(inc_rows) == set(full_rows)
    for y in full_rows:
        assert inc_rows[y] == full_rows[y], f"divergence at {y}"
    assert sorted(inc["idmap_full"].select("qua_uri", "yuid").collect()) == sorted(
        full["idmap"].select("qua_uri", "yuid").collect())
    assert sorted(inc["records"].collect()) == sorted(new_records.collect())
    return inc


@pytest.mark.slow  # full-coverage tier (r16 split): fast siblings cover the surface
def test_incremental_equals_full_rebuild(spark, setup, prev):
    t, _ = setup
    _assert_incremental_equals_full(spark, setup, prev, t["changes"], "2026-01-10 00:00:00")


def _rec_data(ident, names, equivalents=None):
    return _rec("srcA", ident, "Person", names=names, equivalents=equivalents)["data"]


def test_superseded_upsert_seeds_nothing(spark, setup, prev):
    """An older upsert of p6 asserts an equivalent into anc1's untouched
    component; a later update of p6 supersedes it.  The superseded
    payload is never applied, so it creates no link, pulls nothing into
    the blast, and the crawl still equals the full rebuild."""
    changes = _feed(spark, [
        (1, "2026-02-01 10:00:00", "update", uri("srcA", "p6"),
         _rec_data("p6", ["Vincent van Gogh (new)"])),
        (2, "2026-02-01 09:00:00", "update", uri("srcA", "p6"),
         _rec_data("p6", ["Vincent (superseded)"], [uri("srcA", "anc1")])),
    ])
    inc = _assert_incremental_equals_full(spark, setup, prev, changes, "2026-01-10 00:00:00")
    touched = {r.uri for r in inc["touched_uris"].collect()}
    assert uri("srcA", "p6") in touched and uri("srcA", "anc1") not in touched


def test_item_at_watermark_is_ignored(spark, setup, prev):
    """A delete stamped exactly at the watermark is not applied (the
    bound is exclusive); a later update in the same feed is."""
    changes = _feed(spark, [
        (1, "2026-01-10 00:00:00", "delete", uri("srcA", "p2"), None),
        (2, "2026-02-01 10:00:00", "update", uri("srcA", "p3"),
         _rec_data("p3", ["Maria Sibylla Merian (updated)"])),
    ])
    inc = _assert_incremental_equals_full(spark, setup, prev, changes, "2026-01-10 00:00:00")
    kept = {json.loads(r.data)["id"] for r in inc["records"].collect()}
    assert uri("srcA", "p2") in kept


def test_delete_wins_over_older_upsert(spark, setup, prev):
    """A delete of p4 later than an update of p4 wins: p4 leaves the
    records tier and its component rebuilds without it."""
    changes = _feed(spark, [
        (1, "2026-02-01 11:00:00", "delete", uri("srcA", "p4"), None),
        (2, "2026-02-01 10:00:00", "update", uri("srcA", "p4"),
         _rec_data("p4", ["Claude Monet (updated)"], [uri("extX", "e4")])),
    ])
    inc = _assert_incremental_equals_full(spark, setup, prev, changes, "2026-01-10 00:00:00")
    kept = {json.loads(r.data)["id"] for r in inc["records"].collect()}
    assert uri("srcA", "p4") not in kept and uri("extX", "e4") in kept


def test_public_helpers_keep_signatures_and_distinct_rows(spark, setup):
    """affected_uris and apply_changes_to_records are called outside the
    crawl (the benchmark's tests and trace): same parameters, and one row
    per URI even when the feed names a URI twice (p1) or a URI is both a
    seed and a member of a hit component."""
    t, idx = setup
    assert list(inspect.signature(affected_uris).parameters) == [
        "changes", "idmap_prev", "indexes"]
    assert list(inspect.signature(apply_changes_to_records).parameters) == [
        "records", "changes"]
    blast = affected_uris(t["changes"], t["idmap_prev"], idx)
    assert blast.columns == ["uri"]
    assert blast.count() == blast.distinct().count() > 0
    out = apply_changes_to_records(t["records"], t["changes"])
    assert out.columns == t["records"].columns
    ids = [json.loads(r.data)["id"] for r in out.collect()]
    assert len(ids) == len(set(ids))


def test_blast_skips_statically_empty_indexes(spark, setup):
    """Absent indexes (catalog.empty_indexes) skip the blast's index seed
    joins; the blast equals the one through empty but not provably empty
    indexes, which run the joins."""
    t, _ = setup
    plain = {k: spark.createDataFrame([], s) for k, s in INDEX_SCHEMAS.items()}
    got = {r.uri for r in affected_uris(t["changes"], t["idmap_prev"], empty_indexes(spark)).collect()}
    want = {r.uri for r in affected_uris(t["changes"], t["idmap_prev"], plain).collect()}
    assert got == want and uri("srcA", "p4") in got


def test_empty_prev_idmap_mints_like_none(spark):
    """An empty previous idmap, provably empty or not, adopts nothing:
    the same idmap rows as no previous idmap."""
    comps = spark.createDataFrame(
        [("u1", "u1"), ("u2", "u1"), ("u3", "u3")], "uri string, component string"
    )
    want = sorted(assign_yuids(comps, None).collect())
    for empty in (
        spark.createDataFrame([], "qua_uri string, yuid string"),
        empty_relation(spark, "qua_uri string, yuid string"),
    ):
        assert sorted(assign_yuids(comps, empty).collect()) == want
