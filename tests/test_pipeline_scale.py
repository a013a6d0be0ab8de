"""Pipeline behavior beyond the 21-row fixture: a few thousand synthetic
record envelopes derived from the driver's customer table, two pseudo-
sources linked pairwise by equivalence — closure, minting, reidentify and
merge must hold exact invariants at this scale, under any partitioning.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark.pipeline.build import run_build

SF = "/root/testdata/sf0.001"


def _records(spark, n_partitions=None):
    """Two sources, one record per customer each; srcA asserts equivalence
    to srcB's twin -> every component is exactly a pair."""
    cust = spark.read.parquet(f"{SF}/customer.parquet").select("c_custkey", "c_name")
    a = cust.select(
        F.lit("srcA").alias("source"),
        F.col("c_custkey").cast("string").alias("identifier"),
        F.lit("Person").alias("rectype"),
        F.lit("2026-01-01T00:00:00").alias("record_time"),
        F.lit("create").alias("change"),
        F.to_json(
            F.struct(
                F.concat(F.lit("https://fixture.test/srcA/"), F.col("c_custkey").cast("string")).alias("id"),
                F.lit("Person").alias("type"),
                F.col("c_name").alias("_label"),
                F.array(
                    F.struct(
                        F.concat(F.lit("https://fixture.test/srcB/"), F.col("c_custkey").cast("string")).alias("id"),
                        F.lit("Person").alias("type"),
                    )
                ).alias("equivalent"),
            )
        ).alias("data"),
    )
    b = cust.select(
        F.lit("srcB").alias("source"),
        F.col("c_custkey").cast("string").alias("identifier"),
        F.lit("Person").alias("rectype"),
        F.lit("2026-01-01T00:00:00").alias("record_time"),
        F.lit("create").alias("change"),
        F.to_json(
            F.struct(
                F.concat(F.lit("https://fixture.test/srcB/"), F.col("c_custkey").cast("string")).alias("id"),
                F.lit("Person").alias("type"),
                F.concat(F.col("c_name"), F.lit(" (b)")).alias("_label"),
            )
        ).alias("data"),
    )
    out = a.unionByName(b)
    if n_partitions:
        out = out.repartition(n_partitions)
    return out


def _empty_indexes(spark):
    e = spark.createDataFrame
    return {
        "name_index": e([], "source string, name_clean string, target_identifier string, rectype string"),
        "uri_index": e([], "source string, ext_uri string, target_identifier string, rectype string"),
        "same_as": e([], "uri_a string, uri_b string"),
        "different_from": e([], "uri_a string, uri_b string"),
    }


@pytest.fixture(scope="module")
def built_pair(spark):
    recs = _records(spark)
    n_cust = recs.count() // 2
    out = run_build(spark, recs, _empty_indexes(spark), merge_order={"srcA": 0, "srcB": 1})
    return out, n_cust


def test_every_pair_merges_to_one_entity(spark, built_pair):
    out, n_cust = built_pair
    assert out["merged"].count() == n_cust
    # each yuid covers exactly two qua-uris
    sizes = out["idmap"].groupBy("yuid").count()
    assert sizes.filter(F.col("count") != 2).count() == 0


def test_merge_base_is_merge_order_winner(spark, built_pair):
    out, _ = built_pair
    # srcA is merge_order 0: no merged label carries the srcB " (b)" suffix
    n_b_labels = (
        out["merged"]
        .withColumn("_label", F.get_json_object("data", "$._label"))
        .filter(F.col("_label").endswith(" (b)"))
        .count()
    )
    assert n_b_labels == 0


def test_merge_deterministic_under_partitioning(spark):
    idx = _empty_indexes(spark)
    order = {"srcA": 0, "srcB": 1}
    out1 = run_build(spark, _records(spark, n_partitions=2), idx, merge_order=order)
    out2 = run_build(spark, _records(spark, n_partitions=17), idx, merge_order=order)
    rows1 = dict(out1["merged"].select("yuid", "data").collect())
    rows2 = dict(out2["merged"].select("yuid", "data").collect())
    assert rows1 == rows2


def test_reidentify_idempotent(spark, built_pair):
    from data_pipeline_spark.pipeline.reidentify import reidentify

    out, _ = built_pair
    again = reidentify(
        out["reidentified"].select("source", "identifier", "rectype", "data"),
        out["idmap"],
    )
    a = dict(out["reidentified"].select(F.concat_ws("|", "source", "identifier"), "data").collect())
    b = dict(again.select(F.concat_ws("|", "source", "identifier"), "data").collect())
    assert a == b  # all URIs already yuids -> second pass is a no-op


def test_name_join_salted_equals_broadcast(spark, tmp_path):
    """The large-authority J1 route (name_join_salted: hot/cold-split
    salted shuffle join, operators/skew.hot_key_salted_join) must produce
    the exact edge set of the broadcast route — exercised under a
    celebrity plant: 40% of the records share one hot name that the
    index maps to a single target, so the hot (name_clean, rectype) key
    fans out on BOTH join sides.  Three ways in: the default size route
    (a 2-row index broadcasts), the route with the broadcast threshold
    at -1 (salted), and a direct name_join_salted call.  The index is
    stored as parquet, so Catalyst has a size estimate to route by; a
    threshold below that estimate also takes the salted route."""
    from data_pipeline_spark.pipeline.envelope import extract_names, with_doc
    from data_pipeline_spark.pipeline.reconcile import (
        name_join,
        name_join_salted,
        reconcile,
    )

    cust = (
        spark.read.parquet(f"{SF}/customer.parquet").select("c_custkey").limit(500)
    )
    k = F.col("c_custkey")
    ks = k.cast("string")
    name = F.when(k % 5 < 2, F.lit("Celebrity Q Smith")).otherwise(
        F.concat(F.lit("Unique "), ks)
    )
    data = F.to_json(
        F.struct(
            F.concat(F.lit("https://fixture.test/srcA/"), ks).alias("id"),
            F.lit("Person").alias("type"),
            name.alias("_label"),
        )
    )
    records = cust.select(
        F.lit("srcA").alias("source"),
        ks.alias("identifier"),
        F.lit("Person").alias("rectype"),
        data.alias("data"),
    )
    idx = _empty_indexes(spark)
    local_index = spark.createDataFrame(
        [("idx", "celebrity q smith", "T1", "Person"),
         ("idx", "unique 7", "T7", "Person")],
        "source string, name_clean string, target_identifier string, rectype string",
    )
    local_index.write.parquet(str(tmp_path / "name_index"))
    idx["name_index"] = spark.read.parquet(str(tmp_path / "name_index"))
    names = extract_names(with_doc(records))

    def plan(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    # the default route reads the 2-row index's size estimate and plans
    # the broadcast arm; the salted arm splits hot keys off with
    # left-semi joins, which the broadcast arm never plans
    def broadcast_route(index) -> bool:
        p = plan(name_join(names, index))
        return "strategy=broadcast" in p and "LeftSemi" not in p

    assert broadcast_route(idx["name_index"])
    # an index built from local rows has no size estimate and keeps
    # the broadcast route
    assert broadcast_route(local_index)
    assert "LeftSemi" in plan(name_join_salted(names, idx["name_index"]))
    bc = sorted(map(tuple, reconcile(records, idx).collect()))
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    for threshold in ("-1", "1"):
        spark.conf.set(key, threshold)
        try:
            assert not broadcast_route(idx["name_index"])
            routed = sorted(map(tuple, reconcile(records, idx).collect()))
        finally:
            spark.conf.set(key, prev)
        assert routed == bc
    direct = sorted(map(tuple, name_join_salted(names, idx["name_index"]).collect()))
    assert direct == bc
    # the celebrity fan-out actually happened: every hot-name record got
    # the same target edge
    n_hot = sum(1 for r in bc if r[1].endswith("/idx/T1"))
    assert n_hot == cust.filter(k % 5 < 2).count()
